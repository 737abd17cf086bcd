package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: the client thread spent [startNs, endNs) inside
  * the call named `name`; `parent` is the enclosing span (-1 = none). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer is the name up to the first dot ("factors.build_marts"
    * belongs to "factors"). */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the single client thread. Disabled, it
  * runs the body and records nothing, so untraced runs pay one branch
  * per call. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.sortBy(_.id).toSeq
}

/** Spark-side counters for the traced run, fed by Spark's public
  * listener interfaces and filtered to a time window afterwards. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters._

  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phases]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()): Long)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    if (p.nonEmpty)
      phases.add(Phases(p.values.map(_.startTimeMs).min,
        p.map { case (k, v) => k -> v.durationMs }))
  }

  /** Per-op averages over the window [fromMs, toMs). */
  def summary(fromMs: Long, toMs: Long, ops: Int): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    def in(t: Long) = t >= fromMs && t < toMs
    val ts = tasks.asScala.filter(t => in(t.launchMs)).toSeq
    val ph = phases.asScala.filter(p => in(p.startMs)).toSeq
    def phase(k: String) = ph.map(_.byPhase.getOrElse(k, 0L)).sum / 1e3
    // time in the window with no task running anywhere: driver-side
    // work (planning, scheduling, result handling)
    var busy = 0L
    var end = fromMs
    ts.map(t => (t.launchMs max fromMs, t.finishMs min toMs)).sortBy(_._1).foreach {
      case (a, b) =>
        if (b > end) { busy += b - (a max end); end = b }
    }
    val n = ops.max(1).toDouble
    Map(
      "spark.optimization_s" -> phase("optimization"),
      "spark.planning_s" -> phase("planning"),
      "spark.jobs" -> jobs.asScala.count(t => in(t)).toDouble,
      "spark.stages" -> stages.asScala.count(t => in(t)).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_overhead_s" -> ts.map(t => t.finishMs - t.launchMs - t.runMs).sum / 1e3,
      "spark.task_deserialize_s" -> ts.map(_.deserMs).sum / 1e3,
      "spark.no_task_s" -> (toMs - fromMs - busy) / 1e3,
      "spark.executor_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
    ).map { case (k, v) => k -> v / n }
  }
}

object SparkCounters {
  final case class Task(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                        deserMs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long)
  final case class Phases(startMs: Long, byPhase: Map[String, Long])
}
