package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The warehouse benchmark: runs one workload from a seed for a fixed
  * time and prints its metrics as one JSON object on the last line.
  *
  *   perfbench.Main --workload <etl_month|cdc_refresh> --seed <n>
  *     --seconds <n> --trace <0|1> --work <dir>
  *
  * Closed loop, one client: a single driver thread issues every call,
  * against `local[4]`. `--trace 0` measures the end-to-end metrics with
  * tracing off; `--trace 1` reports the per-layer metrics instead.
  */
object Main {
  val Cores = 4

  val Spans = Seq("pipeline.ingest", "pipeline.cleanse", "pipeline.location_dim",
    "pipeline.time_dim", "pipeline.product_dim", "pipeline.fact", "pipeline.write",
    "table.insert", "table.cdc", "table.maintain", "table.read", "mv.refresh", "mv.read")
  val Measures = Seq("s", "jobs", "sql_execs", "tasks", "task_s", "core_util",
    "driver_s", "shuffle_bytes")
  /** `Ingest.load` runs no Spark job (the CSV scan runs inside the
    * cleanse), so its executor time is always zero. */
  val Unmeasured = Set("pipeline.ingest.task_s", "pipeline.ingest.core_util")
  val Extras = Seq("table.insert.files_written", "table.cdc.files_rewritten",
    "table.cdc.files_carried", "table.insert.bytes_written", "table.cdc.bytes_written",
    "table.maintain.bytes_written", "mv.refresh.bytes_written",
    "pipeline.write.bytes_written", "mv.refresh.dirty_groups", "table.files_live")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val runSeconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    require(Seq("etl_month", "cdc_refresh").contains(workload),
      s"unknown workload '$workload'")

    val spark = session(work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    def make(name: String): Workload = name match {
      case "etl_month" => new Etl(spark, Etl.month, seed)
      case "etl_probe" => new Etl(spark, Etl.probe, seed)
      case "cdc_refresh" => new Cdc(spark, Cdc.workload, seed)
      case "cdc_probe" => new Cdc(spark, Cdc.probe, seed)
    }
    val w = make(workload)
    val rec = new Recorder

    // Set-up, once: JVM and session start, the inputs, tables and MVs,
    // and the untimed warm-up iteration, in wall seconds.
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val prepStart = System.nanoTime()
    w.prepare(work.resolve("state"))
    val prepS = (System.nanoTime() - prepStart) / 1e9
    val warmStart = System.nanoTime()
    w.step(new Recorder, None)
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupCpuS = Cpu.processSeconds

    // A traced run also times two untraced iterations, with no listener
    // attached: one before the traced loop and one after it, so that
    // neither side is only the colder. Both sides sum the wall seconds
    // of the same calls (Calls).
    val untracedS = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (traced) untracedS += w.step(rec, None)
    val trace = if (traced) Some(new Trace(spark, Cores)) else None
    // the timed loop starts on a collected heap; a full collection
    // after each iteration, outside its timings, gives the live heap it
    // left behind
    Heap.liveBytes()
    val t0 = System.nanoTime()
    val (steal0, ticks0) = Cpu.ticks()
    val cpu0 = Cpu.processSeconds
    val jit0 = Cpu.jitSeconds
    val callSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    var heapPeak = 0L
    do {
      callSeconds += w.step(rec, trace)
      heapPeak = math.max(heapPeak, Heap.liveBytes())
    } while ((System.nanoTime() - t0) / 1e9 < runSeconds)
    val loopCpuS = Cpu.processSeconds - cpu0
    val loopJitS = Cpu.jitSeconds - jit0
    val loopS = (System.nanoTime() - t0) / 1e9
    val stealShare = {
      val (steal1, ticks1) = Cpu.ticks()
      if (ticks1 > ticks0) (steal1 - steal0).toDouble / (ticks1 - ticks0) else 0.0
    }

    // a traced run puts the other kind of workload through one small
    // iteration, so every layer's spans are measured in every run
    val probeExtras = trace.map { _ =>
      val p = make(if (workload.startsWith("etl")) "cdc_probe" else "etl_probe")
      p.prepare(work.resolve("probe"))
      p.step(rec, trace)
      p.finish(rec)
      p.extras
    }
    val layers = trace.map(_.report())
    if (traced) untracedS += w.step(rec, None)
    w.finish(rec)
    val storedBytes = w.storedBytes

    def p50(name: String) = Harness.median(rec.samples(name).toSeq)
    val metrics: Seq[(String, Double, String)] = layers match {
      case None =>
        Seq(("setup_s", setupS, "s"),
          ("commit_p50_s", p50("commit"), "s"),
          ("fresh_p50_s", p50("fresh"), "s"),
          ("query_p50_s", p50("query"), "s"),
          ("stored_mb", storedBytes / 1e6, "MB"),
          ("heap_peak_mb", heapPeak / 1e6, "MB"))
      case Some(layers) =>
        val extras = w.extras ++ probeExtras.get
        val units = Map("s" -> "s", "task_s" -> "s", "driver_s" -> "s",
          "core_util" -> "ratio", "shuffle_bytes" -> "bytes")
        val spanMetrics = for (s <- Spans; m <- Measures if !Unmeasured(s"$s.$m"))
          yield (s"$s.$m", layers(s)(m), units.getOrElse(m, "count"))
        spanMetrics ++
          Extras.map(e => (e, extras(e), if (e.endsWith("bytes_written")) "bytes" else "count")) ++
          Seq(("trace.op_s", Harness.median(callSeconds.toSeq), "s"),
            ("trace.untraced_op_s", Harness.median(untracedS.toSeq), "s"))
    }

    println(s"# workload=$workload seed=$seed cores=$Cores (host has " +
      s"${Runtime.getRuntime.availableProcessors} processors) run_seconds=$runSeconds " +
      s"iterations=${callSeconds.size} traced=$traced")
    println(f"# setup: $setupS%.3f s wall ($setupCpuS%.3f s process CPU): session " +
      f"$sessionS%.3f s, inputs and state $prepS%.3f s, warm-up $warmS%.3f s")
    for ((name, xs) <- rec.samples) {
      val tail = Harness.tail(xs.toSeq).fold("tail: fewer than 11 samples") {
        case (p, v) => f"tail p$p%.1f $v%.4f s" }
      val kind = if (name.endsWith("_cpu")) "CPU work" else "wall"
      println(f"# $name ($kind): n=${xs.size} p50 ${Harness.median(xs.toSeq)}%.4f s, $tail; " +
        xs.map(x => f"$x%.3f").mkString("[", " ", "]"))
    }
    if (traced) println("# calls the spans wrap, wall s per iteration: traced " +
      callSeconds.map(x => f"$x%.3f").mkString("[", " ", "]") + ", untraced (before, after) " +
      untracedS.map(x => f"$x%.3f").mkString("[", " ", "]"))
    println(f"# timed loop: $loopS%.1f s wall, $loopCpuS%.1f s process CPU of which " +
      f"JIT compiling $loopJitS%.1f s, " +
      f"host steal ${100 * stealShare}%.1f%% of CPU time")
    println(f"# error_rate=${rec.failed.toDouble / rec.attempted}%.4f " +
      s"(${rec.failed} failed of ${rec.attempted} attempted)")
    rec.problems.foreach(p => println(s"# WRONG: $p"))

    spark.stop()
    Harness.deleteTree(work)

    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": {${body.mkString(", ")}}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def session(work: Path): SparkSession = {
    Files.createDirectories(work)
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    graft.QueryDef.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
