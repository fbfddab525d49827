package graftbench

import java.time.LocalDate
import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One orders row, shaped like TPC-H `orders` plus the month partition
  * column the table is partitioned by. Prices are kept in cents and
  * dates in epoch days so the driver-side model is exact. */
final case class Order(
    key: Long, cust: Long, status: String, cents: Long, day: Int,
    priority: String, comment: String) {
  def month: String = Data.monthOf(day)

  /** The string the row digest hashes; [[Data.digestCol]] builds the
    * identical string from a table row with Spark expressions. */
  def digestString: String =
    s"$key|$cust|$status|$cents|$day|$priority|$comment|$month"

  def crc: Long = {
    val c = new java.util.zip.CRC32
    c.update(digestString.getBytes("UTF-8"))
    c.getValue
  }

  def toRow: Row = Row(key, cust, status,
    java.math.BigDecimal.valueOf(cents, 2), LocalDate.ofEpochDay(day),
    priority, comment, month)
}

object Data {
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DecimalType(12, 2)),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_comment", StringType),
    StructField("o_month", StringType)))
  val Cols: Seq[String] = Schema.fieldNames.toSeq
  val PartitionCols = Seq("o_month")

  /** 1992-01 .. 1995-12: 48 month partitions, past both the 8-way
    * rewrite pool and the 32-partition REORG distributed threshold. */
  val FirstDay: Int = LocalDate.of(1992, 1, 1).toEpochDay.toInt
  val EndDay: Int = LocalDate.of(1996, 1, 1).toEpochDay.toInt
  val Months: IndexedSeq[String] =
    (0 until 48).map(i => LocalDate.of(1992, 1, 1).plusMonths(i))
      .map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d")
  private val monthCache = new java.util.concurrent.ConcurrentHashMap[Int, String]
  def monthOf(day: Int): String =
    monthCache.computeIfAbsent(day, d => {
      val ld = LocalDate.ofEpochDay(d.toLong)
      f"${ld.getYear}%04d-${ld.getMonthValue}%02d"
    })
  def monthRange(m: String): (Int, Int) = {
    val first = LocalDate.parse(m + "-01")
    (first.toEpochDay.toInt, first.plusMonths(1).toEpochDay.toInt)
  }

  val SeedRows = 150000
  val Customers = 15000
  private val Statuses = Array("F", "O", "P")
  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def order(r: SplittableRandom, key: Long, dayLo: Int, dayHi: Int): Order =
    Order(key, 1L + r.nextInt(Customers), Statuses(r.nextInt(3)),
      100000L + r.nextLong(50000000L), dayLo + r.nextInt(dayHi - dayLo),
      Priorities(r.nextInt(5)), s"c${r.nextInt(1 << 20)}")

  def orders(r: SplittableRandom, keys: Iterable[Long],
      dayLo: Int = FirstDay, dayHi: Int = EndDay): Seq[Order] =
    keys.iterator.map(k => order(r, k, dayLo, dayHi)).toSeq

  def toDF(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(rows.map(_.toRow).asJava, Schema)

  /** Per-row digest of a table row, the Spark twin of [[Order.crc]]. */
  val digestCol: Column = crc32(concat_ws("|",
    col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
    col("o_orderstatus"),
    (col("o_totalprice") * 100).cast("bigint").cast("string"),
    datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
      .cast("string"),
    col("o_orderpriority"), col("o_comment"), col("o_month")))

  /** One row: (row count, sum of row digests) of a table read. */
  def digestQuery(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(digestCol), lit(0L)))
}

/** Rows changed by one commit, by change-feed type. */
final case class Changes(inserted: Long, updated: Long, deleted: Long) {
  def +(o: Changes): Changes =
    Changes(inserted + o.inserted, updated + o.updated, deleted + o.deleted)
  def rows: Long = inserted + updated + deleted
  def asFeedCounts: Map[String, Long] = Map(
    "insert" -> inserted, "update_preimage" -> updated,
    "update_postimage" -> updated, "delete" -> deleted).filter(_._2 > 0)
}
object Changes { val None = Changes(0, 0, 0) }

/** The independent model of table content: plain driver-side
  * collections updated by the same op log the benchmark sends to the
  * table. Shares no code with the program under test. */
final class Model(seed: Seq[Order]) {
  private val rows = mutable.LongMap.empty[Order]
  private var digestSum = 0L
  seed.foreach(put)

  private def put(o: Order): Unit = {
    rows.get(o.key).foreach(old => digestSum -= old.crc)
    rows.update(o.key, o)
    digestSum += o.crc
  }
  private def drop(o: Order): Unit = {
    rows.remove(o.key)
    digestSum -= o.crc
  }

  def size: Long = rows.size.toLong
  def digest: (Long, Long) = (size, digestSum)
  def values: Iterable[Order] = rows.values

  def append(batch: Seq[Order]): Changes = {
    batch.foreach(put)
    Changes(batch.size.toLong, 0, 0)
  }
  def update(p: Order => Boolean, f: Order => Order): Changes = {
    val hit = rows.values.filter(p).toVector
    hit.foreach(o => put(f(o)))
    Changes(0, hit.size.toLong, 0)
  }
  def delete(p: Order => Boolean): Changes = {
    val hit = rows.values.filter(p).toVector
    hit.foreach(drop)
    Changes(0, 0, hit.size.toLong)
  }
  /** WHEN MATCHED UPDATE SET price, comment; WHEN NOT MATCHED INSERT *. */
  def merge(src: Seq[Order]): Changes = {
    var ins, upd = 0L
    src.foreach { s =>
      rows.get(s.key) match {
        case Some(t) =>
          put(t.copy(cents = s.cents, comment = s.comment)); upd += 1
        case None => put(s); ins += 1
      }
    }
    Changes(ins, upd, 0)
  }

  /** status -> (rows, cents): the expected result of [[Ctx.statusAgg]]. */
  def statusAgg: Map[String, (Long, Long)] = aggBy(rows.values)(_.status)
  def aggBy(it: Iterable[Order])(k: Order => String): Map[String, (Long, Long)] =
    it.groupMapReduce(k)(o => (1L, o.cents))((a, b) => (a._1 + b._1, a._2 + b._2))
}
