#!/usr/bin/env python3
"""Build (once) and run one graft benchmark workload.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout. The first run compiles the
program's sources together with the benchmark (perfbench/build.sbt)
and caches the result under perfbench/target; later runs reuse it
while the sources are unchanged. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. Per-run detail,
and with --trace 1 the spans and per-layer self time, are written to
.bench_out/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM = ROOT / "src" / "main"
TARGET = BENCH / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "sources.sha256"
OUT = ROOT / ".bench_out"
WORKLOADS = ("ingest", "maintain")
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256(str(ROOT).encode())
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (PROGRAM, BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    TARGET.mkdir(exist_ok=True)
    (TARGET / "tmp").mkdir(exist_ok=True)
    # -XX:-UsePerfData and a private tmpdir keep the JVM's files in the checkout
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={TARGET / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME or put Spark's bin/ on PATH")
        env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    log = TARGET / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run([sbt, "--batch", "writeClasspath"],
                            cwd=BENCH, env=env, stdout=f,
                            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0 or not CLASSPATH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (sbt exit {rc}); full log in {log}")
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (PROGRAM / "scala").is_dir():
        fail(f"no program sources at {PROGRAM}/scala: run from a full checkout")
    build()

    OUT.mkdir(exist_ok=True)
    tmp = OUT / f"tmp-{os.getpid()}"
    tmp.mkdir()
    # two JIT compiler threads, not three: with three, compilation alone
    # kept more than a core busy through the timed loop, and the run's
    # throughput followed how much CPU the host had left
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-XX:CICompilerCount=2",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", str(OUT)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited {proc.returncode}")
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
