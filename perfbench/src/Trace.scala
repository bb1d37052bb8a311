package perfbench

import org.apache.spark.SparkBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Spans around the benchmark's calls into the program's layers, and a
  * `SparkListener` that charges Spark's work to them.
  *
  * A span is opened around one public call. While it is open the
  * driver thread carries its id as a Spark local property, so every
  * job the call starts names its span; stages and tasks follow their
  * job. SQL executions carry no properties and are charged by start
  * time. Everything stays in memory until [[report]].
  *
  * `driver_s` is the part of a span's self time in which none of its
  * jobs was running: planning, metadata I/O and waiting. Self time is
  * the span's duration less its child spans'.
  */
final class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  // listener-side state, touched only on the listener bus thread
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobIntervals = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val counts = mutable.HashMap.empty[Int, Counts]
  private val sqlStarts = mutable.ArrayBuffer.empty[Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      id.foreach { s =>
        val span = s.toInt
        jobSpan(e.jobId) = span
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = span)
        counts.getOrElseUpdate(span, new Counts).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      for (span <- jobSpan.get(e.jobId); t0 <- jobStart.remove(e.jobId))
        jobIntervals.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += ((t0, e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counts.getOrElseUpdate(span, new Counts)
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts += s.time
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as one call of span `name`. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, System.currentTimeMillis(), open.headOption.map(_.id))
    spans += s
    val prev = sc.getLocalProperty(SpanProp)
    open.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.currentTimeMillis()
      open.pop()
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  /** Per-call means of every measure, by span name. */
  def report(): Map[String, Map[String, Double]] = {
    SparkBus.drain(sc)
    sc.removeSparkListener(listener)
    val childMs = spans.groupBy(_.parent).collect {
      case (Some(p), kids) => p -> kids.map(k => k.end - k.start).sum
    }
    spans.groupBy(_.name).map { case (name, calls) =>
      val n = calls.size.toDouble
      val selfMs = calls.map(c => c.end - c.start - childMs.getOrElse(c.id, 0L)).sum
      val busyMs = calls.map(c => covered(c, jobIntervals.getOrElse(c.id, Nil))).sum
      val cs = calls.flatMap(c => counts.get(c.id))
      val taskMs = cs.map(_.taskMs).sum
      val sql = calls.map(c => sqlStarts.count(t => t >= c.start && t <= c.end)).sum
      name -> Map(
        "calls" -> n,
        "s" -> selfMs / 1000.0 / n,
        "jobs" -> cs.map(_.jobs).sum / n,
        "sql_execs" -> sql / n,
        "tasks" -> cs.map(_.tasks).sum / n,
        "task_s" -> taskMs / 1000.0 / n,
        "core_util" -> (if (selfMs > 0) taskMs.toDouble / (selfMs * cores) else 0.0),
        "driver_s" -> math.max(0L, selfMs - busyMs) / 1000.0 / n,
        "shuffle_bytes" -> cs.map(_.shuffleBytes).sum / n)
    }
  }

  /** Milliseconds of `s` during which at least one of its jobs ran. */
  private def covered(s: Span, jobs: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var reach = s.start
    jobs.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
      .foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { total += b - from; reach = b }
      }
    total
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  private final case class Span(id: Int, name: String, start: Long, parent: Option[Int]) {
    var end: Long = start
  }

  private final class Counts {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
  }
}
