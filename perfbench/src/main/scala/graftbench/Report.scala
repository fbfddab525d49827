package graftbench

import graft.sources.dlv.{AddFile, DlvLog, DlvMaintenance, DlvTable, RemoveFile}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Timed public calls made once the loop has ended (traced runs only),
  * so that costs growing with log length show. */
final case class ProbeResult(latestVersionMs: Double, historyMs: Double,
    snapshotColdMs: Double, vacuumMs: Double, startHistoryMs: Double)

object EndProbes {
  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }
  def logCalls(path: String): (Double, Double) = (
    Stats.median((1 to 5).map(_ => timed(DlvTable.log(path).latestVersion))),
    Stats.median((1 to 3).map(_ => timed(DlvTable.log(path).history))))

  def run(ctx: Ctx, path: String, startHistoryMs: Double): ProbeResult = {
    val (lv, hist) = logCalls(path)
    val latest = ctx.latest(path)
    // oldest first, each read once: none is among the four most recent
    val versions = (1 to 5).map(i => latest * i / 6).distinct.filter(_ < latest)
    val cold = Stats.median(versions.map(v => timed(DlvTable.log(path).snapshotAt(Some(v)))))
    val vac = timed(DlvMaintenance.vacuum(ctx.spark, path, 7L * 24 * 3600 * 1000, dryRun = true))
    // a checkpoint tail needs an append landing on a checkpoint version
    var k = 0L
    while (!ctx.appendTails.exists(_._1 % DlvLog.checkpointInterval == 0) && k < 2 * DlvLog.checkpointInterval) {
      k += 1
      ctx.append(path, Data.toDF(ctx.spark, Data.orders(ctx.rnd, Seq(-k))), new Recorder(None))
    }
    ProbeResult(lv, hist, cold, vac, startHistoryMs)
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  /** The highest whole percentile with at least ten samples above it. */
  def tailPercentile(n: Int): Option[Int] =
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10)
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Ops per second of one pass of `mix`, each kind taken at its median
    * latency over the run's ops of that kind. */
  def mixRate(ops: Seq[OpRecord], mix: Seq[String]): Double = {
    val p50 = ops.groupBy(_.kind).map { case (k, os) => k -> median(os.map(_.ms)) }
    ratio(mix.size, mix.map(k => p50.getOrElse(k, Double.NaN)).sum / 1000)
  }
}

final case class Result(line: String, detail: String)

object Report {
  /** Op kinds that read the table; rewrites are the maintenance ops;
    * every other kind commits new rows or removes them. */
  val Reads = Set("scan", "scan_month", "scan_cust", "version_as_of", "cdf", "cdf_stream")
  val Rewrites = Set("optimize", "zorder", "reorg", "vacuum")
  def Writes(kind: String): Boolean = !Reads(kind) && !Rewrites(kind)

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  private def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  def build(workload: String, seed: Long, seconds: Int, ctx: Ctx,
      outcome: Outcome, probes: Option[ProbeResult],
      cpu: CpuProbe.Reading): Result = {
    val ops = ctx.rec.ops.toVector
    val attempted = ctx.rec.attempted
    val failed = attempted.count(!_.ok)
    val okMs = ops.filter(_.ok).map(_.ms)
    val opSeconds = ops.map(_.nanos).sum / 1e9
    val e2e = Seq(
      ("setup_s", Stats.median(outcome.setupSeconds), "s"),
      ("ops_per_s", Stats.mixRate(ops, outcome.mix), "1/s"),
      ("bytes_per_row_changed",
        ctx.firstPassBytesWritten / ops.take(ctx.firstPassOps).map(_.changes.rows).sum, "B"))
    val layers = (ctx.rec.trace, probes) match {
      case (Some(t), Some(p)) => Layers.of(ctx, t, outcome, p)
      case _ => Nil
    }
    val shown = if (ctx.tracing) layers else e2e
    val correct = outcome.problems.isEmpty && failed == 0 && ops.nonEmpty
    val line = obj(Seq("correct" -> correct.toString, "attempted" -> attempted.size.toString,
      "failed" -> failed.toString, "metrics" -> metrics(shown)))

    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      k -> obj(Seq("n" -> os.size.toString, "failed" -> os.count(!_.ok).toString,
        "p50_ms" -> num(Stats.median(os.map(_.ms))),
        "max_ms" -> num(os.map(_.ms).max)))
    }
    val tail = Stats.tailPercentile(okMs.size)
    val changed = ops.map(_.changes.rows).sum
    val detail = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "seconds" -> seconds.toString,
      "traced" -> ctx.tracing.toString, "correct" -> correct.toString,
      "problems" -> attempted.flatMap(_.error).++(outcome.problems).distinct.take(20).map(str).mkString("[", ", ", "]"),
      "end_to_end" -> metrics(e2e), "per_layer" -> metrics(layers),
      "op_p50_ms" -> num(Stats.median(okMs)),
      "ops_per_op_second" -> num(Stats.ratio(ops.count(_.ok), opSeconds)),
      "ops_by_kind" -> obj(byKind),
      "pass_s" -> (if (outcome.mix.isEmpty) "[]" else ops.grouped(outcome.mix.size)
        .map(p => num(p.map(_.nanos).sum / 1e9)).mkString("[", ", ", "]")),
      "warmup" -> obj(Seq("n" -> ctx.rec.warmupOps.size.toString,
        "s" -> num(ctx.rec.warmupOps.map(_.nanos).sum / 1e9))),
      "op_tail" -> obj(Seq(
        "samples" -> okMs.size.toString,
        "percentile" -> tail.map(_.toString).getOrElse("null"),
        "ms" -> num(tail.map(p => Stats.quantile(okMs, p / 100.0)).getOrElse(Double.NaN)))),
      "rows_changed" -> changed.toString,
      "table_bytes" -> { val u = FsUsage.of(outcome.table); u.dataBytes + u.logBytes + u.cdcBytes }.toString,
      "setup_s_each" -> outcome.setupSeconds.map(num).mkString("[", ", ", "]"),
      "phases_s" -> obj(ctx.phases.map { case (k, v) => k -> num(v) }.toSeq),
      "cpu_probe_ms" -> obj(Seq("before" -> num(cpu.beforeMs), "after" -> num(cpu.afterMs))),
      "cpu_steal_share" -> num(cpu.stealShare),
      "jit_ms" -> num(ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble),
      "process_cpu_s" -> num(ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
        case _ => Double.NaN
      })))
    Result(line, detail)
  }

  def write(out: Path, workload: String, seed: Long, traced: Boolean,
      r: Result, ctx: Ctx): Unit = {
    val stem = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    Files.write(out.resolve(s"$stem.json"), (r.detail + "\n").getBytes("UTF-8"))
    ctx.rec.trace.foreach { t =>
      val lines = Layers.allSpans(ctx, t).map { s =>
        obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
          "name" -> str(s.name), "layer" -> str(s.layer),
          "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString))
      }
      Files.write(out.resolve(s"$stem-spans.jsonl"), lines.asJava)
      Files.write(out.resolve(s"$stem-selftime.json"),
        (obj(Layers.selfTime(ctx, t).map { case (l, ms) => l -> num(ms) }) + "\n").getBytes("UTF-8"))
    }
  }
}

/** Per-layer numbers of a traced run, measured from outside. */
object Layers {
  /** Program spans plus Spark jobs and commit publishes as spans, each
    * parented to the innermost program span containing its start. */
  def allSpans(ctx: Ctx, t: Trace): Vector[Span] = {
    val base = t.spans.toVector
    var next = base.size
    def parentAt(us: Long): (Int, Int) = {
      val inside = base.filter(s => s.startUs <= us && us <= s.endUs)
      if (inside.isEmpty) (-1, -1)
      else { val p = inside.maxBy(_.startUs); (p.id, p.op) }
    }
    val jobs = t.jobs.values.asScala.toVector.sortBy(_.startMs).map { j =>
      val (p, op) = parentAt(j.startMs * 1000)
      next += 1
      Span(next - 1, p, op, "spark.job", j.startMs * 1000, math.max(j.endMs, j.startMs) * 1000)
    }
    val pubs = TimedStore.publishes.asScala.toVector.map { pb =>
      val s = t.usOf(pb.startNs)
      val (p, op) = parentAt(s)
      next += 1
      Span(next - 1, p, op, "dlv.log.publish", s, t.usOf(pb.endNs))
    }
    base ++ jobs ++ pubs
  }

  /** Per layer: Σ (span duration − the part of it its children cover),
    * over the timed loop's ops, in ms per op. */
  def selfTime(ctx: Ctx, t: Trace): Seq[(String, Double)] = {
    val spans = allSpans(ctx, t).filter(_.op >= 0)
    val kids = spans.groupBy(_.parent)
    val nOps = math.max(1, ctx.rec.ops.size)
    spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endUs - s.startUs) - covered(s, kids.getOrElse(s.id, Nil))).sum / 1000.0 / nOps
    }
  }

  private def covered(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    iv.foreach { case (a, b) =>
      if (open && a <= curE) curE = math.max(curE, b)
      else { if (open) total += curE - curS; curS = a; curE = b; open = true }
    }
    if (open) total += curE - curS
    total
  }

  private val NumRecords = "\"numRecords\"\\s*:\\s*(\\d+)".r

  /** Rows in data files the op's commits newly wrote: a file re-added
    * under its old path (a deletion vector attached) is not rewritten. */
  private def rowsInNewFiles(log: DlvLog, o: OpRecord)(implicit ctx: Ctx): Double =
    ctx.opVersions.get(o.id).toSeq.flatMap { case (a, b) => a + 1 to b }.map { v =>
      val acts = log.commitActionsOf(v)
      val removed = acts.collect { case r: RemoveFile => r.path }.toSet
      acts.collect { case f: AddFile if !removed(f.path) => f.stats }.flatten
        .flatMap(s => NumRecords.findFirstMatchIn(s)).map(_.group(1).toDouble).sum
    }.sum

  def of(ctx: Ctx, t: Trace, outcome: Outcome, pr: ProbeResult): Seq[(String, Double, String)] = {
    implicit val c: Ctx = ctx
    val path = outcome.table
    val ops = ctx.rec.ops.toVector
    val n = math.max(1, ops.size).toDouble
    val jobs = t.jobs.values.asScala.toVector
    def jobsIn(o: OpRecord) = jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs)
    val opJobs = ops.map(o => o -> jobsIn(o))
    val allJobs = opJobs.flatMap(_._2)
    val busyMs = opJobs.map { case (o, js) =>
      val s = Span(0, -1, -1, "", o.startMs * 1000, o.endMs * 1000)
      covered(s, js.map(j => Span(0, 0, 0, "", j.startMs * 1000, math.max(j.endMs, j.startMs) * 1000))) / 1000.0
    }
    val totalBusy = busyMs.sum
    val log = DlvTable.log(path)
    val history = log.history.map(c => c.version -> c).toMap
    def commitsOf(o: OpRecord) = ctx.opVersions.get(o.id).toSeq
      .flatMap { case (a, b) => (a + 1 to b).flatMap(history.get) }
    def metric(o: OpRecord, k: String) =
      commitsOf(o).flatMap(_.operationMetrics.flatMap(_.get(k))).map(_.toDouble).sum
    // file-system deltas between consecutive ops
    val fsDeltas = ops.flatMap { o =>
      for (after <- ctx.opFs.get(o.id); before <- ctx.opFs.get(o.id - 1)) yield after - before
    }
    val dmlKinds = Set("merge", "update", "delete", "dv_delete")
    val dmlOps = ops.filter(o => dmlKinds(o.kind))
    val dmlChanged = dmlOps.map(_.changes.rows).sum.toDouble
    val rewriteOps = ops.filter(o => Set("optimize", "zorder", "reorg")(o.kind))
    val rewriteSecs = rewriteOps.map(_.nanos).sum / 1e9
    val reads = ctx.reads.toVector
    val liveReads = reads.filter(_.liveFiles > 0)
    val cdfReads = reads.filter(_.cdfVersions > 0)
    val prog = t.progress.asScala.toVector
    def stream(k: String) = Stats.median(prog.flatMap(_.get(k)).map(_.toDouble))
    val logBytes = FsUsage.of(path).logBytes.toDouble
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
    val ckptTails = ctx.appendTails.filter(_._1 % DlvLog.checkpointInterval == 0).map(_._2)
    val tracedOk = ops.filter(_.ok)
    def p50(kinds: String => Boolean) = Stats.median(tracedOk.filter(o => kinds(o.kind)).map(_.ms))
    Seq(
      ("spark.jobs_per_op", allJobs.size / n, "count"),
      ("spark.tasks_per_job", Stats.ratio(allJobs.map(_.tasks).sum, allJobs.size), "count"),
      ("spark.task_cpu_ms_per_op", allJobs.map(_.cpuNs).sum / 1e6 / n, "ms"),
      ("spark.job_busy_ms_per_op", totalBusy / n, "ms"),
      ("spark.driver_gap_ms_per_op", (ops.map(_.ms).sum - totalBusy) / n, "ms"),
      ("spark.shuffle_bytes_per_op", allJobs.map(_.shuffleBytes).sum / n, "B"),
      ("dlv.log.materializations_per_op", ops.map(o => t.materializationsOf(o.id)).sum / n, "count"),
      ("dlv.log.publish_ms", Stats.median(TimedStore.publishes.asScala.map(_.ms)), "ms"),
      ("dlv.log.checkpoint_ms", Stats.median(ckptTails), "ms"),
      ("dlv.log.snapshot_cold_ms", pr.snapshotColdMs, "ms"),
      ("dlv.log.latest_version_ms", pr.latestVersionMs, "ms"),
      ("dlv.log.history_ms", pr.historyMs, "ms"),
      ("dlv.log.history_ms_at_start", pr.startHistoryMs, "ms"),
      ("dlv.log.log_bytes_per_commit", logBytes / (ctx.latest(path) + 1), "B"),
      ("dlv.table.files_added_per_op", fsDeltas.map(_.dataFiles.size).sum / n, "count"),
      ("dlv.table.data_bytes_per_op", ops.map(o => metric(o, "numAddedBytes")).sum / n, "B"),
      ("dlv.dml.files_removed_per_op", ops.map(o => metric(o, "numRemovedFiles")).sum / n, "count"),
      ("dlv.dml.rows_rewritten_per_row_changed",
        Stats.ratio(dmlOps.map(o => rowsInNewFiles(log, o)).sum, dmlChanged), "ratio"),
      ("dlv.dml.cdc_bytes_per_op", fsDeltas.map(_.cdcBytes).sum / n, "B"),
      ("dlv.scan.plan_ms", Stats.median(reads.map(_.planMs)), "ms"),
      ("dlv.scan.exec_ms", Stats.median(reads.map(_.execMs)), "ms"),
      ("dlv.scan.files_read_ratio",
        Stats.ratio(liveReads.map(_.filesRead).sum, liveReads.map(_.liveFiles).sum), "ratio"),
      ("dlv.cdf.rows_per_version",
        Stats.ratio(cdfReads.map(_.cdfRows).sum, cdfReads.map(_.cdfVersions).sum), "count"),
      ("dlv.maintenance.vacuum_ms", pr.vacuumMs, "ms"),
      ("dlv.maintenance.bytes_rewritten_per_s",
        Stats.ratio(rewriteOps.map(o => metric(o, "numAddedBytes")).sum, rewriteSecs), "B/s"),
      ("dlv.maintenance.files_in_per_file_out",
        Stats.ratio(rewriteOps.map(o => metric(o, "numRemovedFiles")).sum,
          rewriteOps.map(o => metric(o, "numAddedFiles")).sum), "ratio"),
      ("stream.latest_offset_ms", stream("latestOffset"), "ms"),
      ("stream.get_batch_ms", stream("getBatch"), "ms"),
      ("stream.query_planning_ms", stream("queryPlanning"), "ms"),
      ("stream.add_batch_ms", stream("addBatch"), "ms"),
      ("stream.wal_commit_ms", stream("walCommit"), "ms"),
      ("stream.commit_offsets_ms", stream("commitOffsets"), "ms"),
      ("jvm.heap_peak_mb", heapPeak, "MB"),
      ("jvm.gc_ms", gcMs, "ms"),
      ("ops.op_p50_ms", p50(_ => true), "ms"),
      ("ops.write_p50_ms", p50(Report.Writes), "ms"),
      ("ops.read_p50_ms", p50(Report.Reads), "ms"),
      ("trace.ops_per_s", Stats.mixRate(ops, outcome.mix), "1/s"),
      ("trace.spans_per_op", allSpans(ctx, t).count(_.op >= 0) / n, "count"))
  }
}
