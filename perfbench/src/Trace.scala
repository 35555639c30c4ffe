package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** One traced call into a layer. Times are epoch milliseconds with a
  * fractional part (nanoTime offsets from one epoch anchor), so spans
  * compare directly with Spark's millisecond event times. */
final case class Span(id: Int, name: String, parent: Int, request: String,
    start: Double, var end: Double = Double.NaN) {
  def ms: Double = end - start
}

/** Costs that Spark events charge to one span. */
final class Charge {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
}

/** Outside-in tracer: spans are opened by the benchmark around each call
  * into a layer, held in memory, and written out when the run ends. The
  * listener only records raw job and task events; charging happens after
  * the session stops, by time window: a job belongs to the innermost
  * span open when it was submitted, and a task to its job. With one
  * serial client that is exact, including for work that runs on the HTTP
  * server's job threads. */
object Trace {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  /** Run `body` inside a span named `name`; a no-op wrapper when tracing
    * is off. `request` defaults to the enclosing span's. */
  def span[T](name: String, request: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val req = Option(request).orElse(stack.headOption.map(_.request)).getOrElse("")
      val s = synchronized {
        val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), req, nowMs)
        spans += s
        stack = s :: stack
        s
      }
      try body
      finally synchronized {
        s.end = nowMs
        stack = stack.tail
      }
    }

  // raw Spark events, charged after the run
  private final case class JobEv(timeMs: Long, stages: Seq[Int])
  private final case class TaskEv(stage: Int, cpuNs: Long, shuffle: Long,
      spill: Long, rows: Long)
  private val jobEvs = new java.util.concurrent.ConcurrentLinkedQueue[JobEv]()
  private val taskEvs = new java.util.concurrent.ConcurrentLinkedQueue[TaskEv]()

  // executed-plan SQL metrics: (execution, node, metric, accumulator)
  private final case class PlanMetric(exec: Long, node: String, metric: String, accum: Long)
  private val planMetrics = new java.util.concurrent.ConcurrentLinkedQueue[PlanMetric]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val accumValues = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private def walk(exec: Long, p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => planMetrics.add(PlanMetric(exec, p.nodeName, m.name, m.accumulatorId)))
    p.children.foreach(walk(exec, _))
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobEvs.add(JobEv(e.time, e.stageIds))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, s.time)
        walk(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => walk(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
    // a stage's accumulable holds the accumulator's running total
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.accumulables.foreach { case (id, info) =>
        info.value match {
          case Some(v: Long) => accumValues.merge(id, v, (a, b) => math.max(a, b))
          case _ =>
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        taskEvs.add(TaskEv(e.stageId, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead))
      }
  }

  /** Charge every recorded event to its span (call after the session
    * has stopped, which drains the listener bus). Events outside every
    * span land under key -1. */
  def charges(): Map[Int, Charge] = {
    import scala.jdk.CollectionConverters._
    val out = scala.collection.mutable.Map.empty[Int, Charge]
    def at(id: Int) = out.getOrElseUpdate(id, new Charge)
    val closed = spans.toVector
    def owner(t: Double): Int = {
      // innermost = latest-started span whose window holds t
      var best = -1
      closed.foreach { s => if (s.start <= t + 0.5 && t <= s.end + 0.5) best = s.id }
      best
    }
    val stageOwner = scala.collection.mutable.Map.empty[Int, Int]
    jobEvs.asScala.foreach { j =>
      val o = owner(j.timeMs.toDouble)
      at(o).jobs += 1
      j.stages.foreach(st => stageOwner(st) = o)
    }
    taskEvs.asScala.foreach { t =>
      val c = at(stageOwner.getOrElse(t.stage, -1))
      c.tasks += 1; c.cpuNs += t.cpuNs; c.shuffleBytes += t.shuffle
      c.spillBytes += t.spill; c.inputRows += t.rows
    }
    out.toMap
  }

  /** Output rows of every join node executed under spans named `name`,
    * read from the executed plans' SQL metrics (call after the session
    * has stopped). */
  def joinOutputRows(name: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val windows = spans.filter(_.name == name).map(s => (s.start, s.end))
    val execs = execStart.asScala.collect {
      case (id, t) if windows.exists { case (a, b) => t + 0.5 >= a && t <= b + 0.5 } => id
    }.toSet
    planMetrics.asScala.toSeq
      .filter(m => execs(m.exec) && m.node.contains("Join") && m.metric == "number of output rows")
      .map(_.accum).distinct.flatMap(a => Option(accumValues.get(a)).map(_.longValue))
  }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Span duration minus the part of its window its children cover. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.start max s.start, c.end min s.end))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var cur = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cur._1.isNaN || a > cur._2) {
        if (!cur._1.isNaN) covered += cur._2 - cur._1
        cur = (a, b)
      } else cur = (cur._1, cur._2 max b)
    }
    if (!cur._1.isNaN) covered += cur._2 - cur._1
    s.ms - covered
  }
}
