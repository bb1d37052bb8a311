package perfbench

import graft.pipeline._
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The paper's `CALL etl(filepath)`: one warm `Pipeline.runAndSave`
  * of a generated dirty feed per iteration, then [[Etl.Reads]] dashboard
  * reads of its fact output. The untraced iteration makes the single public
  * call; the traced one calls the stage functions `Pipeline.run`
  * composes, in its order, forcing each where `run` materializes it.
  */
final class Etl(spark: SparkSession, shape: FeedShape, seed: Long) extends Workload {
  private var csv: String = _
  private var outDir: Path = _
  private var record: FeedRecord = _
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private val outputs = Seq("invalid", "cleansed", "location_dimension",
    "time_dimension", "product_dimension", "fact_table")

  def prepare(dir: Path): Unit = {
    val feed = dir.resolve("feed").resolve("sales.csv")
    record = Feed.write(feed, shape, seed)
    csv = feed.toString
    outDir = dir.resolve("out")
  }

  def step(rec: Recorder, trace: Option[Trace]): Double = {
    val calls = new Calls(trace)
    rec.op("etl") {
      val start = Mark.now()
      trace match {
        case None => calls("pipeline")(Pipeline.runAndSave(spark, csv, outDir.toString))
        case Some(_) => staged(calls)
      }
      rec.add("commit", start)
      rec.add("fresh", start)
      checkOutputs(rec)
    }
    for (_ <- 1 to Etl.Reads) rec.op("query") {
      val start = Mark.now()
      val rows = dashboard()
      rec.add("query", start)
      checkDashboard(rec, rows)
    }
    calls.seconds
  }

  /** `Pipeline.runAndSave`, one span per stage. */
  private def staged(call: Calls): Unit = {
    val landing = call("pipeline.ingest")(Ingest.load(spark, csv))
    val (cleansed, invalid) = call("pipeline.cleanse") {
      val seedDf = landing.agg(coalesce(max(col("order_id").cast("int")), lit(0)).as("__seed"))
      val routed = Cleanse(landing, seedDf = Some(seedDf))
      (routed.cleansed.localCheckpoint(), routed.invalid)
    }
    val location = call("pipeline.location_dim")(LocationDim(cleansed).localCheckpoint())
    val time = call("pipeline.time_dim")(TimeDim(cleansed).localCheckpoint())
    val product = call("pipeline.product_dim")(ProductDim(cleansed).localCheckpoint())
    // `run` leaves the fact lazy; forcing it here is what splits the
    // cube's compute from its write, at the cost of one in-memory copy
    val fact = call("pipeline.fact")(
      FactBuilder(cleansed, product, location, time).localCheckpoint())
    val (_, _, bytes) = Harness.written(outDir, traced = true) {
      call("pipeline.write") {
        Seq(invalid, cleansed, location, time, product, fact).zip(outputs).foreach {
          case (df, name) => df.write.mode("overwrite").parquet(outDir.resolve(name).toString)
        }
      }
    }
    counts.getOrElseUpdate("pipeline.write.bytes_written", mutable.ArrayBuffer.empty) += bytes.toDouble
  }

  /** Revenue by city from the written fact: (rows, quantity, revenue
    * in cents) per (city, state). */
  private def dashboard(): Seq[(Long, Long, Long)] =
    spark.read.parquet(outDir.resolve("fact_table").toString)
      .groupBy("city_name", "state_name")
      .agg(count(lit(1)), sum("quantity_ordered"),
        sum(col("quantity_ordered") * col("price_each") * 100).cast("long"))
      .collect().toSeq.map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))

  private def checkDashboard(rec: Recorder, rows: Seq[(Long, Long, Long)]): Boolean =
    Seq(
      rec.expect("dashboard cities", rows.size.toLong, record.cities),
      rec.expect("fact rows", rows.map(_._1).sum, record.factRows),
      rec.expect("fact quantity", rows.map(_._2).sum, record.quantity),
      rec.expect("fact revenue (cents)", rows.map(_._3).sum, record.revenueCents)
    ).forall(identity)

  private def checkOutputs(rec: Recorder): Boolean = {
    def n(name: String) = spark.read.parquet(outDir.resolve(name).toString).count()
    val cleansedQty = spark.read.parquet(outDir.resolve("cleansed").toString)
      .agg(sum("quantity_ordered")).first().getLong(0)
    Seq(
      rec.expect("invalid rows", n("invalid"), record.invalid),
      rec.expect("cleansed rows", n("cleansed"), record.cleansed),
      rec.expect("cleansed quantity", cleansedQty, record.quantity),
      rec.expect("location_dimension rows", n("location_dimension"), record.locations),
      rec.expect("time_dimension rows", n("time_dimension"), record.days),
      rec.expect("product_dimension rows", n("product_dimension"), record.productVersions)
    ).forall(identity)
  }

  def finish(rec: Recorder): Unit = ()

  def storedBytes: Long = Harness.du(outDir)

  def extras: Map[String, Double] = counts.map { case (k, v) => k -> v.sum / v.size }.toMap
}

object Etl {
  /** Dashboard reads per loaded batch. */
  val Reads = 15

  /** The reference's January file: 9,724 lines with 16 repeated
    * headers, 26 `,,,,,` lines, 10 exact duplicates and 387
    * multi-item orders over 19 products, 10 (city, state) pairs and 32
    * days — with fewer addresses than its 9,160, so that the dense
    * fact (days x products x addresses) fits a run. */
  val month = FeedShape(orders = 9090, multiItemOrders = 387, addresses = 800,
    products = 19, days = 32, headers = 16, blanks = 26, duplicates = 10)

  /** The small feed a traced run of another workload puts through the
    * pipeline once, so every pipeline span is measured there too. */
  val probe = FeedShape(orders = 1500, multiItemOrders = 60, addresses = 200,
    products = 19, days = 32, headers = 16, blanks = 26, duplicates = 10)
}
