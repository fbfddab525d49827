package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark entry point:
  * `--workload <ingest|maintain> --seed <n> --seconds <s> --trace <0|1>
  *  --out <dir>`.
  * Prints one JSON result object as the last stdout line. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "ingest" -> Ingest.run, "maintain" -> Maintain.run)

  private val startNs = System.nanoTime()
  def sinceStart: Double = (System.nanoTime() - startNs) / 1e9

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val body = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.keys.mkString(", ")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val out = Paths.get(args("out")).toAbsolutePath
    val scratch = out.resolve(s"scratch-$workload-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(scratch)
    val code =
      try run(workload, body, seed, seconds, traced, out, scratch)
      finally deleteTree(scratch, scratch)
    System.err.println(f"perfbench: finished in $sinceStart%.1f s")
    sys.exit(code)
  }

  private def run(workload: String, body: Ctx => Outcome, seed: Long,
      seconds: Int, traced: Boolean, out: Path, scratch: Path): Int = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.extensions", "graft.sources.dlv.sql.DlvSparkSessionExtension")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val cpuBefore = CpuProbe.run()
      val statBefore = CpuProbe.stat()
      val trace = if (traced) Some(new Trace(spark)) else None
      val ctx = new Ctx(spark, scratch, seed, seconds, new Recorder(trace))
      ctx.mark("session_ready")
      val outcome =
        try body(ctx)
        catch { case NonFatal(e) =>
          Outcome(Nil, "", Seq(s"workload aborted: $e"))
        }
      val probes = if (traced && outcome.table.nonEmpty) Some(EndProbes.run(ctx, outcome.table, ctx.startHistoryMs)) else None
      trace.foreach(_.drain())
      val cpu = CpuProbe.Reading(cpuBefore, CpuProbe.run(), CpuProbe.stealShare(statBefore, CpuProbe.stat()))
      ctx.mark("checks_done")
      val result = Report.build(workload, seed, seconds, ctx, outcome, probes, cpu)
      Report.write(out, workload, seed, traced, result, ctx)
      trace.foreach(_.close())
      println(result.line)
      if (outcome.problems.nonEmpty)
        System.err.println("checks failed:\n  " + outcome.problems.mkString("\n  "))
      0
    } finally {
      spark.stop()
      System.err.println(f"perfbench: session stopped at $sinceStart%.1f s")
    }
  }

  /** Recursive delete confined to `owned`, a directory this process
    * created: anything outside it is refused. */
  def deleteTree(p: Path, owned: Path): Unit = {
    val target = p.toAbsolutePath.normalize
    require(target.startsWith(owned.toAbsolutePath.normalize),
      s"refusing to delete $target outside $owned")
    if (Files.exists(target)) {
      val st = Files.walk(target)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
  }
}

/** A fixed single-thread CPU task, timed before and after each run, and
  * the share of CPU time the host took away (steal) during the run:
  * diagnostics of machine speed that feed no metric. */
object CpuProbe {
  final case class Reading(beforeMs: Double, afterMs: Double, stealShare: Double)

  /** (all CPU ticks, steal ticks) from /proc/stat; zeros where absent. */
  def stat(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case NonFatal(_) => (0L, 0L) }
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) (b._2 - a._2).toDouble / (b._1 - a._1) else Double.NaN

  def run(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 50000000) { h = h * 6364136223846793005L + i; i += 1 }
    if (h == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }
}
