package graftbench

import graft.sources.dlv.{DlvDml, DlvDv, DlvMaintenance, DlvTable}
import org.apache.spark.sql.functions._

/** `maintain`: a closed loop, one client, of maintenance cycles on a
  * deletion-vector, CDF-on table: two fragmenting appends that each
  * land one small file in every month (one batch, one through the
  * streaming sink), OPTIMIZE, Z-ORDER BY o_custkey, a deletion-vector
  * DELETE, REORG PURGE and VACUUM, with a customer-range query after
  * each layout change. Query results are checked against the model, and
  * content against the model after every rewrite. */
object Maintain {
  val Cycle = Seq("frag_append", "frag_stream", "scan_cust", "optimize", "scan_cust",
    "zorder", "scan_cust", "dv_delete", "scan_cust", "reorg", "vacuum")

  def run(ctx: Ctx): Outcome = {
    import ctx.spark
    val seedRows = Data.orders(ctx.rnd, 1L to Data.SeedRows)
    val (setup, path) = ctx.loadSeed(seedRows,
      Map(DlvDml.CDF_PROP -> "true", DlvDv.PROP -> "true"))
    val model = new Model(seedRows)
    var nextKey = Data.SeedRows + 1L
    val (src, ckpt) = (ctx.freshDir("stream-src"), ctx.freshDir("stream-ckpt"))
    ctx.beginLoop(path)
    var problems = Vector.empty[String]

    /** Two rows in every month: each lands as its own small file. */
    def fragment(): Seq[Order] = {
      val rows = Data.Months.flatMap { m =>
        val (lo, hi) = Data.monthRange(m)
        nextKey += 2
        Data.orders(ctx.rnd, Seq(nextKey - 2, nextKey - 1), lo, hi)
      }
      model.append(rows)
      rows
    }
    def rewrite(kind: String)(body: => Any): Unit = {
      ctx.rec.op(kind)(ctx.rec.span(s"dlv.maintenance.$kind")(body))
      val got = ctx.tableDigest(path)
      if (got != model.digest) ctx.rec.fail(s"$kind changed content: $got != ${model.digest}")
    }

    def step(kind: String): Unit = {
      val before = if (ctx.tracing) ctx.latest(path) else -1L
      kind match {
        case "frag_append" =>
          val rows = fragment()
          val df = Data.toDF(spark, rows).repartition(col("o_month"))
          ctx.rec.op(kind, Changes(rows.size.toLong, 0, 0))(ctx.append(path, df))
        case "frag_stream" =>
          val rows = fragment()
          ctx.dropFile(src, rows)
          ctx.rec.op(kind, Changes(rows.size.toLong, 0, 0))(
            ctx.runStream(t => spark.readStream.schema(Data.Schema).parquet(src)
              .repartition(col("o_month"))
              .writeStream.format("dlv").option("checkpointLocation", ckpt)
              .trigger(t).start(path)))
        case "optimize" => rewrite(kind)(DlvMaintenance.optimize(spark, path))
        case "zorder" => rewrite(kind)(DlvMaintenance.optimize(spark, path, zorderBy = Seq("o_custkey")))
        case "dv_delete" =>
          val r = ctx.rnd.nextInt(13).toLong
          val expected = model.delete(_.key % 13 == r)
          ctx.rec.op(kind, expected)(ctx.rec.span("dlv.dml.delete")(
            DlvDml.delete(spark, path, col("o_orderkey") % 13 === r)))
          // the feed is checked before VACUUM reclaims the files it reads
          val v = ctx.latest(path)
          problems ++= Checks.feed(ctx, path, v, expected)
        case "scan_cust" =>
          val lo = 1L + ctx.rnd.nextInt(Data.Customers - 300)
          val want = model.aggBy(model.values.filter(o => o.cust >= lo && o.cust < lo + 300))(_.status)
          val n = if (ctx.tracing) ctx.liveFiles(path) else 0L
          ctx.rec.op(kind)(ctx.read(ctx.statusAgg(DlvTable.toDF(spark, path)
              .filter(col("o_custkey") >= lo && col("o_custkey") < lo + 300)), n)(ctx.statusMap))
            .filter(_ != want).foreach(g => ctx.rec.fail(s"$kind: got $g, want $want"))
        case "reorg" => rewrite(kind)(DlvMaintenance.reorgPurge(spark, path))
        case "vacuum" =>
          ctx.rec.op(kind)(ctx.rec.span("dlv.maintenance.vacuum")(
            DlvMaintenance.vacuum(spark, path, retentionMs = 0L)))
      }
      ctx.afterOp(path, before)
    }

    ctx.loop(Cycle)(step)
    problems ++= Checks.content(ctx, path, model)
    Outcome(setup, path, problems, Cycle)
  }
}
