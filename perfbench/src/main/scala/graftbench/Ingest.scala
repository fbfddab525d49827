package graftbench

import graft.sources.dlv.{DlvDml, DlvTable}
import graft.sources.dlv.DlvDml.{MatchedUpdate, NotMatchedInsert}
import org.apache.spark.sql.functions._

/** The seeded write mix of `ingest`: small appends, streamed appends,
  * MERGE upserts, UPDATEs and DELETEs against a month-partitioned,
  * CDF-on orders table. Each op is applied to the table and to the
  * [[Model]] alike. */
final class WriteMix(ctx: Ctx, path: String, val model: Model,
    rec: Recorder) {
  import ctx.{rnd, spark}
  private var nextKey = model.values.iterator.map(_.key).max + 1
  private var opNo = 0
  private def fresh(n: Int): Seq[Long] = {
    val ks = nextKey until nextKey + n
    nextKey += n
    ks
  }
  private def month(): String = Data.Months(rnd.nextInt(Data.Months.size))

  /** Appends ~800 new orders dated within a random three-month window. */
  def append(): Changes = {
    val i = rnd.nextInt(Data.Months.size - 3)
    val lo = Data.monthRange(Data.Months(i))._1
    val hi = Data.monthRange(Data.Months(i + 2))._2
    val rows = Data.orders(rnd, fresh(800), lo, hi)
    val df = Data.toDF(spark, rows).repartition(col("o_month"))
    val expected = model.append(rows)
    rec.op("append", expected)(ctx.append(path, df, rec))
    opNo += 1
    expected
  }

  /** Upserts ~3k rows into two random months: up to 1500 existing
    * orders of those months change price and comment, 1500 new ones
    * are inserted. */
  def merge(): Changes = {
    val (m1, m2) = (month(), month())
    val existing = model.values.iterator.filter(o => o.month == m1 || o.month == m2)
      .map(_.key).toVector.sorted
    val from = rnd.nextInt(math.max(1, existing.size - 1500))
    val (lo, hi) = (Data.monthRange(m1)._1, Data.monthRange(m1)._2)
    val (lo2, hi2) = Data.monthRange(m2)
    val fresh1500 = fresh(1500)
    val src = existing.slice(from, from + 1500).map(k => Data.order(rnd, k, lo, hi)) ++
      Data.orders(rnd, fresh1500.take(750), lo, hi) ++ Data.orders(rnd, fresh1500.drop(750), lo2, hi2)
    val srcDf = Data.toDF(spark, src)
    val expected = model.merge(src)
    rec.op("merge", expected) {
      rec.span("dlv.dml.merge") {
        DlvDml.merge(spark, path, srcDf,
          on = col("tgt.o_orderkey") === col("src.o_orderkey"),
          clauses = Seq(
            MatchedUpdate(None, Map(
              "o_totalprice" -> col("src.o_totalprice"),
              "o_comment" -> col("src.o_comment"))),
            NotMatchedInsert(None, Data.Cols.map(c => c -> col(s"src.$c")).toMap)))
      }
    }
    opNo += 1
    expected
  }

  /** Reprices one fifth of one month's orders. */
  def update(): Changes = {
    val (m, r, tag) = (month(), rnd.nextInt(5).toLong, s"u$opNo-${rnd.nextInt(1000)}")
    val expected = model.update(o => o.month == m && o.key % 5 == r,
      o => o.copy(cents = o.cents + 100, comment = tag))
    rec.op("update", expected) {
      rec.span("dlv.dml.update") {
        DlvDml.update(spark, path,
          col("o_month") === m && col("o_orderkey") % 5 === r,
          Map("o_totalprice" -> (col("o_totalprice") + lit(1)).cast("decimal(12,2)"),
            "o_comment" -> lit(tag)))
      }
    }
    opNo += 1
    expected
  }

  /** Deletes one eleventh of one month's orders. */
  def delete(): Changes = {
    val (m, r) = (month(), rnd.nextInt(11).toLong)
    val expected = model.delete(o => o.month == m && o.key % 11 == r)
    rec.op("delete", expected) {
      rec.span("dlv.dml.delete") {
        DlvDml.delete(spark, path, col("o_month") === m && col("o_orderkey") % 11 === r)
      }
    }
    opNo += 1
    expected
  }

  /** Lands ~400 new orders through `writeStream.format("dlv")`: the
    * rows arrive as one parquet file in a file-source directory and
    * one AvailableNow run of the ingest query commits them. */
  def streamAppend(srcDir: String, ckptDir: String): Changes = {
    val rows = Data.orders(rnd, fresh(400))
    ctx.dropFile(srcDir, rows)
    val expected = model.append(rows)
    rec.op("stream_append", expected) {
      ctx.runStream(t => spark.readStream.schema(Data.Schema).parquet(srcDir)
        .writeStream.format("dlv").option("checkpointLocation", ckptDir)
        .trigger(t).start(path))
    }
    opNo += 1
    expected
  }
}

/** `ingest`: a closed loop, one client, on a month-partitioned,
  * CDF-on table seeded in set-up. Each block runs the
  * write mix (four appends, one streamed append, MERGE, UPDATE,
  * DELETE) and reads of what it wrote: a full and a month-pruned
  * aggregate of the current version, VERSION AS OF a version of this
  * run, and the change feed of the last five versions, batch and
  * streaming. Every read is checked against the model. */
object Ingest {
  /** One block, in a fixed order so every run has the same composition;
    * the seed draws each op's rows and predicates. Thirteen ops, seven
    * of them sub-second, so the median falls inside a cluster of like
    * ops rather than across the gap between two. */
  val Block = Seq("append", "scan", "merge", "version_as_of", "append", "update",
    "cdf", "stream_append", "scan_month", "append", "delete", "append", "cdf_stream")

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val seedRows = Data.orders(ctx.rnd, 1L to Data.SeedRows)
    val (setup, path) = ctx.loadSeed(seedRows, Map(DlvDml.CDF_PROP -> "true"))
    val model = new Model(seedRows)
    val mix = new WriteMix(ctx, path, model, ctx.rec)
    val (src, ckpt) = (ctx.freshDir("stream-src"), ctx.freshDir("stream-ckpt"))
    val seedVersion = ctx.latest(path)
    // the model's answer for every version this run commits
    val aggAt = scala.collection.mutable.Map(seedVersion -> model.statusAgg)
    val changesAt = scala.collection.mutable.Map.empty[Long, Changes]
    def wrote(c: Changes): Unit = {
      val v = ctx.latest(path)
      aggAt(v) = model.statusAgg
      changesAt(v) = c
    }
    def check[A](got: Option[A], want: A): Unit =
      got.filter(_ != want).foreach(g =>
        ctx.rec.fail(s"${ctx.rec.last.kind}: got $g, want $want"))
    def live: Long = if (ctx.tracing) ctx.liveFiles(path) else 0L

    def step(kind: String): Unit = {
      val before = if (ctx.tracing) ctx.latest(path) else -1L
      val latest = ctx.latest(path)
      val window = math.max(seedVersion + 1, latest - 4)
      kind match {
        case "append" => wrote(mix.append())
        case "stream_append" => wrote(mix.streamAppend(src, ckpt))
        case "merge" => wrote(mix.merge())
        case "update" => wrote(mix.update())
        case "delete" => wrote(mix.delete())
        case "scan" =>
          val n = live
          check(ctx.rec.op(kind)(ctx.read(ctx.statusAgg(DlvTable.toDF(spark, path)), n)(ctx.statusMap)),
            model.statusAgg)
        case "scan_month" =>
          val m = Data.Months(ctx.rnd.nextInt(Data.Months.size))
          val n = live
          check(ctx.rec.op(kind)(ctx.read(ctx.statusAgg(
              DlvTable.toDF(spark, path).filter(col("o_month") === m)), n)(ctx.statusMap)),
            model.aggBy(model.values.filter(_.month == m))(_.status))
        case "version_as_of" =>
          val v = seedVersion + ctx.rnd.nextLong(latest - seedVersion + 1)
          check(ctx.rec.op(kind)(ctx.read(ctx.statusAgg(
              DlvTable.toDF(spark, path, version = Some(v))))(ctx.statusMap)),
            aggAt(v))
        case "cdf" =>
          check(ctx.rec.op(kind)(ctx.feedCounts(path, window, latest)),
            feedExpected(changesAt, window, latest))
        case "cdf_stream" =>
          check(ctx.rec.op(kind)(ctx.streamFeedCounts(path, window)),
            feedExpected(changesAt, window, latest))
      }
      ctx.afterOp(path, before)
    }

    // one untimed pass over every kind, so that every timed op runs warm
    ctx.mark("warmup_start")
    ctx.rec.warmUp(Block.distinct.foreach(step))
    ctx.beginLoop(path)
    ctx.loop(Block)(step)
    val problems = Checks.content(ctx, path, model) ++
      Checks.feed(ctx, path, seedVersion + 1, changesAt.values.foldLeft(Changes.None)(_ + _))
    Outcome(setup, path, problems, Block)
  }

  private def feedExpected(at: collection.Map[Long, Changes], from: Long, to: Long) =
    (from to to).flatMap(at.get).foldLeft(Changes.None)(_ + _).asFeedCounts
}

/** Output checks against the independent [[Model]]. */
object Checks {
  def content(ctx: Ctx, path: String, model: Model): Seq[String] = {
    val got = ctx.tableDigest(path)
    if (got == model.digest) Nil
    else Seq(s"content digest $got != model ${model.digest}")
  }

  def feed(ctx: Ctx, path: String, from: Long, expected: Changes): Seq[String] = {
    val to = ctx.latest(path)
    if (from > to) return Nil
    val got = ctx.feedCounts(path, from, to)
    if (got == expected.asFeedCounts) Nil
    else Seq(s"change feed [$from, $to] $got != model ${expected.asFeedCounts}")
  }
}
