package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Wall clock in epoch milliseconds with nanosecond resolution: the
  * harness's spans and Spark's listener events share one time base.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Double, end: Double)

/** Records a span around every layer call when tracing is on; with
  * tracing off it only runs the body. Each span carries its parent
  * and the operation it belongs to. The innermost open span is also
  * published as a Spark local property, so jobs submitted inside it
  * can be parented to it by the listener.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private var currentOp = -1
  /** Time spent recording spans, outside the traced bodies. */
  var bookkeepingNs = 0L

  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    try span(name)(body) finally currentOp = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = Clock.ms()
      val b1 = System.nanoTime()
      try body
      finally {
        val b2 = System.nanoTime()
        spans += Span(id, name, parent, currentOp, t0, Clock.ms())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_.toString).orNull)
        bookkeepingNs += (b1 - b0) + (System.nanoTime() - b2)
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
    "start" -> s.start, "end" -> s.end))
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** The benchmark's own SparkListener: job and stage spans plus the
  * task-metric totals the per-layer metrics are built from.
  */
final class BenchListener extends SparkListener {
  final case class Job(id: Int, span: Int, start: Double,
      var end: Double, stages: Seq[Int])
  final case class Stage(id: Int, start: Double, end: Double, tasks: Int)

  val jobs = ArrayBuffer[Job]()
  val stages = ArrayBuffer[Stage]()
  private val jobById = scala.collection.mutable.Map[Int, Job]()
  val totals = scala.collection.mutable.Map[String, Double]()
    .withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = totals(k) = totals(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    val j = Job(e.jobId, span, e.time.toDouble, e.time.toDouble,
      e.stageIds)
    jobs += j
    jobById(e.jobId) = j
    add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId,
        i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble, i.numTasks)
      add("stages", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (!e.taskInfo.successful) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ns", m.executorCpuTime.toDouble)
      add("deserialize_ms", m.executorDeserializeTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      // Spark UI's scheduler delay: task wall time not spent
      // deserializing, running, serializing or fetching the result
      val wall = (info.finishTime - info.launchTime).toDouble
      add("sched_delay_ms", math.max(0.0, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime
         else 0L)))
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.map(j => Map("id" -> j.id, "span" -> j.span,
      "start" -> j.start, "end" -> j.end, "stages" -> j.stages))
  }

  def stagesJson: Seq[Map[String, Any]] = synchronized {
    val jobOf = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    stages.toSeq.map(s => Map("id" -> s.id, "job" -> jobOf.getOrElse(s.id, -1),
      "start" -> s.start, "end" -> s.end, "tasks" -> s.tasks))
  }
}

/** JVM-wide counters read before and after each operation. */
object JvmStats {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  def jitMs: Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime.toDouble
    else 0.0
  }

  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.isCollectionUsageThresholdSupported &&
      p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Old-generation occupancy after the most recent collection. */
  def oldGenAfterGcBytes: Long =
    oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum
}
