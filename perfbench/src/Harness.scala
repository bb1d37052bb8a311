package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark workload: its inputs and state, one closed-loop
  * iteration, and the checks of the program's outputs. */
trait Workload {
  /** Make the inputs from the seed and build any state, under `dir`. */
  def prepare(dir: Path): Unit
  /** One iteration; returns the wall seconds of the calls its spans
    * wrap ([[Calls]]), traced or not. */
  def step(rec: Recorder, trace: Option[Trace]): Double
  /** Checks of the final state, after the loop. */
  def finish(rec: Recorder): Unit
  /** Bytes the workload's outputs hold on disk. */
  def storedBytes: Long
  /** Traced-run counts beyond the spans, as per-call means. */
  def extras: Map[String, Double]
}

/** A point in time: wall clock nanoseconds and CPU work seconds. */
final case class Mark(wall: Long, cpu: Double)

object Mark {
  def now(): Mark = Mark(System.nanoTime(), Cpu.workSeconds)
}

/** Latency samples, operation counts and correctness failures. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  private def add(metric: String, seconds: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += seconds

  /** Record an operation from `start` to now: wall seconds as
    * `metric`, CPU work seconds as `metric_cpu`. */
  def add(metric: String, start: Mark): Unit = {
    val end = Mark.now()
    add(metric, (end.wall - start.wall) / 1e9)
    add(s"${metric}_cpu", end.cpu - start.cpu)
  }

  /** Count one operation, failed when `body` throws or returns false. */
  def op(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case NonFatal(e) => problem(s"$what threw $e"); false
    }
    if (!ok) failed += 1
  }

  /** Compare one output against its expected value. */
  def expect(what: String, got: Any, want: Any): Boolean = {
    val ok = got == want
    if (!ok) problem(s"$what: got $got, expected $want")
    ok
  }

  def problem(msg: String): Unit = if (problems.size < 50) problems += msg
}

/** Wraps each call into the program: a span when traced, and in every
  * run a wall-clock timer, so that traced and untraced iterations sum
  * the same intervals. */
final class Calls(trace: Option[Trace]) {
  /** Wall seconds of the calls so far. */
  var seconds = 0.0

  def apply[T](span: String)(body: => T): T = {
    val start = System.nanoTime()
    try trace.fold(body)(_.span(span)(body))
    finally seconds += (System.nanoTime() - start) / 1e9
  }
}

object Harness {
  /** Median as Python's `statistics.median` gives it. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "median of no samples")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val i = s.size - 11
    if (i < 0) None else Some((100.0 * (i + 1) / s.size, s(i)))
  }

  /** Size of every regular file under `dir`, by path. */
  def listing(dir: Path): Map[Path, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p -> Files.size(p)).toMap
      finally st.close()
    }

  /** Bytes of all regular files under `dir`. */
  def du(dir: Path): Long = listing(dir).values.sum

  /** Data files and bytes written by `body` under `dir`: those present
    * after the call and not before it. Lists `dir` only when `traced`,
    * and gives zeros otherwise. */
  def written[T](dir: Path, traced: Boolean)(body: => T): (T, Int, Long) =
    if (!traced) (body, 0, 0L)
    else {
      val before = listing(dir)
      val out = body
      val added = listing(dir).filter { case (p, _) => !before.contains(p) }
      (out, added.count(_._1.getFileName.toString.endsWith(".parquet")), added.values.sum)
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val st = Files.walk(dir)
    try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    finally st.close()
  }
}

/** Heap left in use after full collections: the live set. Collections
  * repeat while the heap still shrinks, because Spark frees the blocks
  * of datasets a collection found unreachable only afterwards, on its
  * cleaner thread. */
object Heap {
  def liveBytes(): Long = {
    def collect(): Long = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = collect()
    var settled = false
    for (_ <- 1 to 5 if !settled) {
      Thread.sleep(200)
      val next = collect()
      settled = next > last * 0.98
      last = math.min(last, next)
    }
    last
  }
}

/** CPU time this process has used, and the share of the host's CPU time
  * the hypervisor gave to other guests (steal), from /proc/stat. */
object Cpu {
  def processSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used so far, from
    * /proc/self/task (utime + stime in clock ticks of 1/100 s); zero
    * where /proc is absent. The compiler threads are fixed for the
    * JVM's life (`-XX:-UseDynamicNumberOfCompilerThreads`), so none
    * takes its CPU time away with it. */
  def jitSeconds: Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm"))).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0
  }

  /** Process CPU seconds less the JIT's: the work of the program and
    * the JVM's collector, without the compiling a warm JVM has done. */
  def workSeconds: Double = processSeconds - jitSeconds

  /** (steal ticks, all ticks) so far; zeros where /proc/stat is absent. */
  def ticks(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val cpu = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
    }
  }
}
