package perfbench

import graft.sources.{GraftMv, GraftTable, MvAgg}
import java.nio.file.Path
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

final case class CdcShape(baseLines: Int, customers: Int, newLines: Int,
    changes: Int, recentWindow: Int)

/** A keyed sales-lines table with two incremental MVs over it, driven
  * by identical cycles: insert new orders, apply one CDC batch of
  * corrections and cancellations, tick maintenance, refresh both MVs,
  * then the dashboard reads ([[Etl.Reads]] of them, as in the ETL).
  * Every batch is replayed into an in-memory keyed model, which the
  * reads and the final checksums are checked against.
  *
  * MV `by_customer_sum` (count + sum) refreshes by delta merge;
  * `by_customer_range` (min + max) recomputes its dirty groups.
  */
final class Cdc(spark: SparkSession, shape: CdcShape, seed: Long) extends Workload {
  import Cdc._

  private var rnd: SplittableRandom = _
  private var root: Path = _
  private var sumMv: Path = _
  private var rangeMv: Path = _
  private val model = mutable.HashMap.empty[Long, Line]
  private var nextLine = 1L
  private var nextOrder = 1L
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def tally(name: String, v: Double): Unit =
    counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def prepare(dir: Path): Unit = {
    rnd = new SplittableRandom(seed)
    model.clear(); nextLine = 1L; nextOrder = 1L
    root = dir.resolve("sales_lines")
    sumMv = dir.resolve("mv_by_customer_sum")
    rangeMv = dir.resolve("mv_by_customer_range")
    val base = newOrders(shape.baseLines)
    GraftTable.create(spark, root.toString, frame(base.map(l => toRow(l))), Key)
    base.foreach(l => model(l.id) = l)
    GraftMv.create(spark, sumMv.toString, root.toString, "customer",
      Seq(MvAgg("count", "", "n_lines"), MvAgg("sum", "amount", "revenue")))
    GraftMv.create(spark, rangeMv.toString, root.toString, "customer",
      Seq(MvAgg("min", "amount", "min_amount"), MvAgg("max", "amount", "max_amount")))
  }

  def step(rec: Recorder, trace: Option[Trace]): Double = {
    val span = new Calls(trace)
    val traced = trace.isDefined
    val inserts = newOrders(shape.newLines)
    val changes = cdcBatch()
    val insertDf = frame(inserts.map(l => toRow(l)))
    val cdcDf = frame(changes.map { case (l, op) => toRow(l, Some(op)) }, withOp = true)
    val start = Mark.now()
    rec.op("insertBatch") {
      val (_, files, bytes) = Harness.written(root, traced) {
        span("table.insert")(GraftTable.insertBatch(spark, root.toString, insertDf, Key))
      }
      if (traced) { tally("table.insert.files_written", files); tally("table.insert.bytes_written", bytes) }
      inserts.foreach(l => model(l.id) = l)
      true
    }
    rec.op("applyCdcBatch") {
      val ((_, rewritten, carried), _, bytes) = Harness.written(root, traced) {
        span("table.cdc")(GraftTable.applyCdcBatch(spark, root.toString, cdcDf, Key))
      }
      if (traced) {
        tally("table.cdc.files_rewritten", rewritten); tally("table.cdc.files_carried", carried)
        tally("table.cdc.bytes_written", bytes)
      }
      changes.foreach {
        case (l, "delete") => model.remove(l.id)
        case (l, _) => model(l.id) = l
      }
      rec.add("commit", start)
      true
    }
    rec.op("maintainIfDue") {
      val (_, _, bytes) = Harness.written(root, traced) {
        span("table.maintain")(GraftTable.maintainIfDue(spark, root.toString, Key))
      }
      if (traced) tally("table.maintain.bytes_written", bytes)
      true
    }
    for (mv <- Seq(sumMv, rangeMv)) rec.op(s"refresh ${mv.getFileName}") {
      val ((_, dirty), _, bytes) = Harness.written(mv, traced) {
        span("mv.refresh")(GraftMv.refresh(spark, mv.toString))
      }
      if (traced) { tally("mv.refresh.dirty_groups", dirty.toDouble); tally("mv.refresh.bytes_written", bytes) }
      dirty > 0
    }
    rec.add("fresh", start)
    for (_ <- 1 to Etl.Reads) rec.op("dashboard") {
      val readStart = Mark.now()
      val got = {
        val sums = span("mv.read")(GraftMv.read(spark, sumMv.toString)
          .agg(count(lit(1)), sum("n_lines"), sum("revenue")).first())
        val ranges = span("mv.read")(GraftMv.read(spark, rangeMv.toString)
          .agg(count(lit(1)), sum("min_amount"), sum("max_amount")).first())
        val lines = span("table.read")(GraftTable.read(spark, root.toString)
          .agg(count(lit(1)), sum("amount")).first())
        Seq(sums, ranges, lines).flatMap(r => (0 until r.size).map(r.getLong))
      }
      rec.add("query", readStart)
      val byCustomer = model.values.groupBy(_.customer)
      val want = Seq(byCustomer.size.toLong, model.size.toLong, model.values.map(_.amount).sum,
        byCustomer.size.toLong, byCustomer.values.map(_.map(_.amount).min).sum,
        byCustomer.values.map(_.map(_.amount).max).sum,
        model.size.toLong, model.values.map(_.amount).sum)
      rec.expect("dashboard (sum MV groups, lines, revenue; range MV groups, " +
        "sum of mins, sum of maxes; table lines, amount)", got, want)
    }
    span.seconds
  }

  /** Checksums of the table and both MVs against the model. */
  def finish(rec: Recorder): Unit = {
    rec.op("table checksum") {
      val got = GraftTable.read(spark, root.toString).agg(
        count(lit(1)), sum(Key), sum("order_id"), sum("amount"), sum("qty"),
        sum(col(Key) * col("amount")), sum(col(Key) * col("customer")),
        sum(col(Key) * col("qty")), sum(col(Key) * (crc32(col("product")) % 1000)))
        .first()
      val ls = model.values.toSeq
      val crc = (s: String) => { val c = new java.util.zip.CRC32; c.update(s.getBytes("UTF-8")); c.getValue % 1000 }
      rec.expect("table checksum", (0 until got.size).map(got.getLong),
        Seq(ls.size.toLong, ls.map(_.id).sum, ls.map(_.order).sum, ls.map(_.amount).sum,
          ls.map(_.qty.toLong).sum, ls.map(l => l.id * l.amount).sum,
          ls.map(l => l.id * l.customer).sum, ls.map(l => l.id * l.qty).sum,
          ls.map(l => l.id * crc(l.product)).sum))
    }
    val byCustomer = model.values.groupBy(_.customer).toSeq
    rec.op("sum MV checksum") {
      val got = GraftMv.read(spark, sumMv.toString).agg(count(lit(1)),
        sum(col("customer") * col("n_lines")), sum(col("customer") * col("revenue")),
        sum(col("n_lines") * col("revenue"))).first()
      rec.expect("sum MV checksum vs group-by over the model", (0 until got.size).map(got.getLong),
        Seq(byCustomer.size.toLong,
          byCustomer.map { case (c, ls) => c * ls.size }.sum,
          byCustomer.map { case (c, ls) => c * ls.map(_.amount).sum }.sum,
          byCustomer.map { case (_, ls) => ls.size * ls.map(_.amount).sum }.sum))
    }
    rec.op("range MV checksum") {
      val got = GraftMv.read(spark, rangeMv.toString).agg(count(lit(1)),
        sum(col("customer") * col("min_amount")), sum(col("customer") * col("max_amount")))
        .first()
      rec.expect("range MV checksum vs group-by over the model", (0 until got.size).map(got.getLong),
        Seq(byCustomer.size.toLong,
          byCustomer.map { case (c, ls) => c * ls.map(_.amount).min }.sum,
          byCustomer.map { case (c, ls) => c * ls.map(_.amount).max }.sum))
    }
    if (counts.nonEmpty)
      tally("table.files_live", GraftTable.read(spark, root.toString).inputFiles.length.toDouble)
  }

  def storedBytes: Long = Seq(root, sumMv, rangeMv).map(Harness.du).sum

  def extras: Map[String, Double] = counts.map { case (k, v) => k -> v.sum / v.size }.toMap

  /** Orders of one to three lines, `n` lines in all. */
  private def newOrders(n: Int): Seq[Line] = {
    val out = mutable.ArrayBuffer.empty[Line]
    while (out.size < n) {
      val order = nextOrder; nextOrder += 1
      val customer = rnd.nextLong(shape.customers.toLong)
      for (_ <- 0 until math.min(1 + rnd.nextInt(3), n - out.size)) {
        out += randomLine(nextLine, order, customer); nextLine += 1
      }
    }
    out.toSeq
  }

  private def randomLine(id: Long, order: Long, customer: Long): Line = {
    val p = rnd.nextInt(Products.size)
    val qty = 1 + rnd.nextInt(4)
    Line(id, order, customer, Products(p)._1, qty, qty * Products(p)._2)
  }

  /** Corrections (a new quantity) and cancellations of distinct keys,
    * mostly among the most recent lines and the rest uniform over all
    * keys ever issued; a key cancelled earlier comes back as a new
    * line when corrected. */
  private def cdcBatch(): Seq[(Line, String)] = {
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < shape.changes) {
      val recent = rnd.nextInt(10) < 8
      keys += (if (recent) nextLine - 1 - rnd.nextLong(math.min(shape.recentWindow.toLong, nextLine - 1))
        else 1 + rnd.nextLong(nextLine - 1))
    }
    keys.toSeq.map { k =>
      if (rnd.nextInt(10) < 3) (Line(k, 0, 0, "", 0, 0), "delete")
      else {
        val qty = 1 + rnd.nextInt(4)
        val l = model.getOrElse(k, randomLine(k, nextOrder, rnd.nextLong(shape.customers.toLong)))
        (l.copy(qty = qty, amount = qty * Products.find(_._1 == l.product).get._2), "upsert")
      }
    }
  }

  private def frame(rows: Seq[Row], withOp: Boolean = false): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      if (withOp) Schema.add("_op", StringType) else Schema)
}

object Cdc {
  val Key = "line_id"

  final case class Line(id: Long, order: Long, customer: Long, product: String,
      qty: Int, amount: Long)

  val Schema: StructType = StructType(Seq(
    StructField(Key, LongType), StructField("order_id", LongType),
    StructField("customer", LongType), StructField("product", StringType),
    StructField("qty", IntegerType), StructField("amount", LongType)))

  private def toRow(l: Line, op: Option[String] = None): Row = op match {
    case Some("delete") => Row(l.id, null, null, null, null, null, "delete")
    case Some(o) => Row(l.id, l.order, l.customer, l.product, l.qty, l.amount, o)
    case None => Row(l.id, l.order, l.customer, l.product, l.qty, l.amount)
  }

  /** Product and unit price in cents. */
  private val Products = Seq("USB-C Charging Cable" -> 1195L, "Wired Headphones" -> 1199L,
    "AA Batteries (4-pack)" -> 384L, "27in FHD Monitor" -> 14999L, "iPhone" -> 70000L,
    "Google Phone" -> 60000L, "Macbook Pro Laptop" -> 170000L, "ThinkPad Laptop" -> 99999L,
    "LG Dryer" -> 60000L, "Flatscreen TV" -> 30000L)

  val workload = CdcShape(baseLines = 50000, customers = 5000, newLines = 1000,
    changes = 400, recentWindow = 10000)

  /** The small table a traced run of another workload drives through
    * one cycle, so every table and MV span is measured there too. */
  val probe = CdcShape(baseLines = 5000, customers = 500, newLines = 200,
    changes = 100, recentWindow = 1000)
}
