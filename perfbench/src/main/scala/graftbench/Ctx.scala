package graftbench

import graft.sources.dlv.{DlvChangeFeed, DlvTable}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A read's plan/execute split and the files its scans opened. */
final case class ReadStat(planMs: Double, execMs: Double, filesRead: Long,
    liveFiles: Long, cdfRows: Long = 0, cdfVersions: Long = 0)

/** What a workload hands back: the seed table's set-up times, the
  * table it drove, every check that failed and the op kinds of one
  * pass of its loop (the mix its throughput is reported for). */
final case class Outcome(setupSeconds: Seq[Double], table: String,
    problems: Seq[String], mix: Seq[String] = Nil)

/** Everything a workload needs: session, seeded randomness, its own
  * scratch directory and the op recorder. */
final class Ctx(val spark: SparkSession, val scratch: Path, seed: Long,
    seconds: Int, val rec: Recorder) {
  val rnd = new SplittableRandom(seed)
  val store = new TimedStore
  val reads = ArrayBuffer.empty[ReadStat]
  /** Versions the timed loop committed, per op id (traced runs only). */
  val opVersions = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  val opFs = scala.collection.mutable.Map.empty[Int, FsUsage]
  private var dirs = 0

  def freshDir(name: String): String = {
    dirs += 1
    scratch.resolve(s"$name-$dirs").toString
  }
  def tracing: Boolean = rec.trace.nonEmpty

  /** The timed loop: whole passes of `mix` until the timed ops add up
    * to `seconds`, so that every run times the same mix. */
  def loop(mix: Seq[String])(step: String => Unit): Unit = {
    mix.foreach(step)
    firstPassOps = rec.ops.size
    loopStart.foreach { case (p, _, _) => firstPassEnd = Some((latest(p), FsUsage.of(p))) }
    while (rec.opNanos < seconds * 1000000000L) mix.foreach(step)
    mark("loop_done")
  }

  /** Table, version and files when the loop starts, and version and
    * files after its first pass. */
  private var loopStart: Option[(String, Long, FsUsage)] = None
  private var firstPassEnd: Option[(Long, FsUsage)] = None
  /** Ops of the first pass. How many passes fit in `seconds` varies
    * with the machine; the first pass covers the same versions of the
    * table in every run. */
  var firstPassOps = 0

  /** Bytes the first pass's commits wrote under the table root: the
    * data bytes each commit reports adding, plus the growth of the log
    * and of the change-data blobs. */
  def firstPassBytesWritten: Double = (for {
    (p, v0, fs0) <- loopStart
    (v1, fs1) <- firstPassEnd
  } yield {
    val data = DlvTable.log(p).history.filter(c => c.version > v0 && c.version <= v1)
      .flatMap(_.operationMetrics.flatMap(_.get("numAddedBytes"))).map(_.toDouble).sum
    data + (fs1.logBytes - fs0.logBytes) + (fs1.cdcBytes - fs0.cdcBytes)
  }).getOrElse(Double.NaN)

  /** Creates the month-partitioned table and loads the seed rows in one
    * CREATE AS SELECT commit, `reps` times into fresh directories;
    * returns the per-load seconds and the last table. */
  def loadSeed(rows: Seq[Order], props: Map[String, String], reps: Int = 3)
      : (Seq[Double], String) = {
    val df = Data.toDF(spark, rows).repartition(col("o_month")).cache()
    df.count()
    val times = ArrayBuffer.empty[Double]
    var path = ""
    for (_ <- 0 until reps) {
      if (path.nonEmpty) deleteTree(Path.of(path))
      path = freshDir("table")
      val t0 = System.nanoTime()
      rec.span("dlv.table.createAsSelect") {
        require(DlvTable.createAsSelect(spark, path, df, Data.PartitionCols,
          props, store = store), s"$path already holds a table")
      }
      times += (System.nanoTime() - t0) / 1e9
    }
    df.unpersist()
    (times.toSeq, path)
  }

  /** Times a read: planning the query (forcing its executed plan) apart
    * from collecting it, and counts the files its scans opened. */
  def read[A](query: => DataFrame, liveFiles: Long = 0L)(result: Array[Row] => A): A = {
    val t0 = System.nanoTime()
    val d = rec.span("dlv.scan.plan") { val d = query; d.queryExecution.executedPlan; d }
    val t1 = System.nanoTime()
    val out = rec.span("dlv.scan.exec")(result(d.collect()))
    val t2 = System.nanoTime()
    if (tracing)
      reads += ReadStat((t1 - t0) / 1e6, (t2 - t1) / 1e6,
        filesRead(d.queryExecution.executedPlan), liveFiles)
    out
  }

  private def filesRead(p: SparkPlan): Long = {
    def walk(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).toSeq
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(p).sum
  }

  def liveFiles(path: String): Long = DlvTable.log(path).snapshot().numFiles.toLong

  /** (rows, digest sum) of the table's current content. */
  def tableDigest(path: String): (Long, Long) =
    read(Data.digestQuery(DlvTable.toDF(spark, path)), if (tracing) liveFiles(path) else 0L) { r =>
      (r.head.getLong(0), r.head.getLong(1))
    }

  /** Change-feed rows by type over [from, to]. */
  def feedCounts(path: String, from: Long, to: Long): Map[String, Long] = {
    val m = read(DlvChangeFeed.changes(spark, path, from, Some(to))
        .groupBy("_change_type").count())(
      _.map(r => r.getString(0) -> r.getLong(1)).toMap)
    if (tracing) reads(reads.size - 1) =
      reads.last.copy(cdfRows = m.values.sum, cdfVersions = to - from + 1)
    m
  }

  /** Change-feed rows by type from `from` to the latest version, read
    * by one AvailableNow run of `readStream.format("dlv")`. */
  def streamFeedCounts(path: String, from: Long): Map[String, Long] = {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    runStream(t => spark.readStream.format("dlv")
      .option("readChangeFeed", "true").option("startingVersion", from).load(path)
      .writeStream.option("checkpointLocation", freshDir("feed-ckpt")).trigger(t)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.groupBy("_change_type").count().collect().foreach(r =>
          counts.merge(r.getString(0), r.getLong(1), (x, y) => x + y))
      }.start())
    counts.asScala.map { case (k, v) => k -> v.longValue }.toMap
  }

  /** One micro-batch run of a streaming query: the query starts,
    * drains what is available, and stops (Trigger.AvailableNow). */
  def runStream(start: Trigger => org.apache.spark.sql.streaming.StreamingQuery): Unit =
    rec.span("stream.query") {
      val q = start(Trigger.AvailableNow())
      try q.awaitTermination()
      finally q.stop()
    }

  /** Writes `rows` as one parquet file into a streaming source dir. */
  def dropFile(dir: String, rows: Seq[Order]): Unit = {
    val stage = freshDir("stage")
    Data.toDF(spark, rows).coalesce(1).write.parquet(stage)
    val part = Files.list(Path.of(stage)).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.createDirectories(Path.of(dir))
    Files.move(part, Path.of(dir).resolve(Path.of(stage).getFileName.toString + ".parquet"))
    deleteTree(Path.of(stage))
  }

  /** Rows and cents per order status: the aggregate the read ops run. */
  def statusAgg(df: DataFrame): DataFrame =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)), sum((col("o_totalprice") * 100).cast("long")))
  def statusMap(rows: Array[Row]): Map[String, (Long, Long)] =
    rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Records the versions and files an op added (traced runs only;
    * runs after the op's timer stops). */
  def afterOp(path: String, versionBefore: Long): Unit = if (tracing && !rec.warmingUp) {
    val id = rec.ops.last.id
    opVersions(id) = (versionBefore, DlvTable.log(path).latestVersion)
    opFs(id) = FsUsage.of(path)
  }
  /** Post-publish tails of appends: (committed version, ms from the
    * publish returning to the append returning). A checkpoint is
    * written in that tail on every tenth version. */
  val appendTails = ArrayBuffer.empty[(Long, Double)]

  /** `DlvTable.append` through the timed commit store. */
  def append(path: String, df: DataFrame, r: Recorder = rec): Long = {
    val v = r.span("dlv.table.append")(DlvTable.append(spark, path, df, store = store))
    val end = System.nanoTime()
    TimedStore.last.filter(_.version == v).foreach(p => appendTails += (v -> (end - p.endNs) / 1e6))
    v
  }

  /** Wall-clock marks of the run's phases, seconds since the JVM started. */
  val phases = ArrayBuffer.empty[(String, Double)]
  def mark(phase: String): Unit = phases += (phase -> Main.sinceStart)

  /** `history` timed as the loop starts (traced runs only). */
  var startHistoryMs: Double = Double.NaN

  /** Marks the end of set-up: samples the log calls and the table's
    * files so the loop's growth shows against them. */
  def beginLoop(path: String): Unit = {
    mark("setup_done")
    if (tracing) startHistoryMs = EndProbes.logCalls(path)._2
    val fs = FsUsage.of(path)
    loopStart = Some((path, latest(path), fs))
    opFs(-1) = fs
  }

  def latest(path: String): Long = DlvTable.log(path).latestVersion

  def deleteTree(p: Path): Unit = Main.deleteTree(p, scratch)
}
