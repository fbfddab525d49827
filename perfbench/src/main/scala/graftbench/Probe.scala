package graftbench

import graft.sources.dlv.{CommitStore, DlvLog, LinkCommitStore}
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed operation of a workload's loop. */
final case class OpRecord(
    id: Int, kind: String, startMs: Long, endMs: Long, nanos: Long,
    ok: Boolean, changes: Changes, error: Option[String]) {
  def ms: Double = nanos / 1e6
}

/** A traced interval: a public call into one layer, or a Spark job. */
final case class Span(
    id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long) {
  def layer: String = Trace.layerOf(name)
}

/** Runs and times a workload's operations. With tracing on it also
  * records a span around each public call the benchmark makes; with
  * tracing off [[span]] is a plain call. */
final class Recorder(val trace: Option[Trace]) {
  /** The timed loop's ops. */
  val ops = ArrayBuffer.empty[OpRecord]
  /** Ops run by [[warmUp]]: checked and counted as attempted, but not
    * timed into any metric and not attributed in the trace. */
  val warmupOps = ArrayBuffer.empty[OpRecord]
  private var warming = false
  def warmingUp: Boolean = warming
  def opNanos: Long = ops.iterator.map(_.nanos).sum
  def attempted: Seq[OpRecord] = (warmupOps ++ ops).toSeq

  /** Runs `body` with every op it records kept apart from the timed loop. */
  def warmUp[A](body: => A): A = {
    warming = true
    try body finally warming = false
  }
  private def buf = if (warming) warmupOps else ops

  /** Times `body`, an operation that should change the table by
    * `expected` rows. A throw is recorded as a failed op, never retried. */
  def op[A](kind: String, expected: Changes = Changes.None)(body: => A): Option[A] = {
    val id = if (warming) -1 - warmupOps.size else ops.size
    if (!warming) trace.foreach(_.beginOp(id))
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Right(span("op." + kind)(body))
      catch { case NonFatal(e) => Left(e) }
    val nanos = System.nanoTime() - t0
    buf += OpRecord(id, kind, startMs, System.currentTimeMillis(), nanos,
      res.isRight, expected, res.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
    if (!warming) trace.foreach(_.endOp(id))
    res.toOption
  }

  def last: OpRecord = buf.last

  /** Marks the last op wrong-result when its output check fails. */
  def fail(reason: String): Unit = {
    val b = buf
    b(b.size - 1) = b.last.copy(ok = false, error = Some(reason))
  }

  def span[A](name: String)(body: => A): A = trace match {
    case None => body
    case Some(t) => t.span(name)(body)
  }
}

/** In-memory tracer: spans, Spark job/task and streaming-progress
  * events, written out when the run ends. */
final class Trace(spark: SparkSession) {
  private val t0Ns = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0Us + (System.nanoTime() - t0Ns) / 1000L

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1

  def usOf(ns: Long): Long = t0Us + (ns - t0Ns) / 1000L

  private val matAtBegin = scala.collection.mutable.Map.empty[Int, Long]
  private val matDelta = scala.collection.mutable.Map.empty[Int, Long]
  def beginOp(id: Int): Unit = {
    currentOp = id
    matAtBegin(id) = Counters.materializations
  }
  def endOp(id: Int): Unit = {
    currentOp = -1
    matDelta(id) = Counters.materializations - matAtBegin(id)
  }
  /** Driver snapshot materializations during op `id`. */
  def materializationsOf(id: Int): Long = matDelta.getOrElse(id, 0L)

  def span[A](name: String)(body: => A): A = synchronized {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, currentOp, name, nowUs, -1)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endUs = nowUs)
    }
  }

  // ── Spark jobs, attributed to ops by time ──
  final case class Job(id: Int, startMs: Long, var endMs: Long,
      var tasks: Int = 0, var cpuNs: Long = 0L, var shuffleBytes: Long = 0L)
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.endMs = e.time })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  // ── micro-batch progress ──
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Listener events arrive asynchronously: wait until every job seen
    * has ended, so counts are complete before they are read. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  def layerOf(name: String): String =
    if (name.startsWith("op.")) "op"
    else if (name.startsWith("spark.")) "spark"
    else if (name.startsWith("stream.")) "streaming"
    else name.split('.').take(2).mkString(".")
}

/** The publish arbiter the program uses by default, timed. Passed as
  * `store =` to the write calls that accept one. */
final class TimedStore extends CommitStore {
  private val inner = new LinkCommitStore
  override def commit(logDir: JPath, version: Long,
      content: String): Boolean = {
    val s = System.nanoTime()
    try inner.commit(logDir, version, content)
    finally TimedStore.record(version, s, System.nanoTime())
  }
}
object TimedStore {
  final case class Publish(version: Long, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  val publishes = new java.util.concurrent.ConcurrentLinkedQueue[Publish]()
  def record(v: Long, s: Long, e: Long): Unit = { publishes.add(Publish(v, s, e)); () }
  def last: Option[Publish] = publishes.asScala.lastOption
}

/** Bytes under a table root, split the way the layers write them. */
final case class FsUsage(dataFiles: Set[String], dataBytes: Long,
    logBytes: Long, cdcBytes: Long) {
  def -(o: FsUsage): FsUsage = FsUsage(dataFiles -- o.dataFiles,
    dataBytes - o.dataBytes, logBytes - o.logBytes, cdcBytes - o.cdcBytes)
}
object FsUsage {
  def of(root: String): FsUsage = {
    val base = java.nio.file.Paths.get(root)
    var data = Set.empty[String]
    var dataB, logB, cdcB = 0L
    if (Files.exists(base)) {
      val st = Files.walk(base)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p: JPath =>
        val rel = base.relativize(p).toString
        val n = Files.size(p)
        if (rel.startsWith("_dlv_log/_cdc/")) cdcB += n
        else if (rel.startsWith("_dlv_log/")) logB += n
        else if (!p.getFileName.toString.startsWith(".")) { data += rel; dataB += n }
      } finally st.close()
    }
    FsUsage(data, dataB, logB, cdcB)
  }
}

/** Public program counters read around each op. */
object Counters {
  def materializations: Long = DlvLog.snapshotMaterializations.get()
}
