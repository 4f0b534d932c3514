package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals from the listener bus. Always on: `task_s` is an
  * end-to-end metric, and summing task metrics costs nothing measurable.
  * The job intervals and per-layer job attribution feed the traced run.
  * All fields are read and written under the instance lock. */
final class ExecListener extends SparkListener {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
  val jobsByLayer = scala.collection.mutable.Map[String, Long]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = e.time
    val layer = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.LayerProperty))).getOrElse("")
    jobsByLayer(layer) = jobsByLayer.getOrElse(layer, 0L) + 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  def snapshot(): Map[String, Double] = synchronized {
    Map("jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
      "tasks" -> tasks.toDouble, "failed_tasks" -> failedTasks.toDouble,
      "task_s" -> taskMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_write_mb" -> shuffleWrite / 1048576.0,
      "shuffle_read_mb" -> shuffleRead / 1048576.0,
      "spill_mb" -> spill / 1048576.0) ++
      jobsByLayer.map { case (l, n) => s"jobs_in.$l" -> n.toDouble }
  }

  /** Milliseconds of [t0, t1] (epoch ms) covered by at least one job. */
  def jobCoveredMs(t0: Long, t1: Long): Long = synchronized {
    Intervals.covered(jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) })
  }
}

/** Catalyst phase times (`QueryExecution.tracker`) and final-plan shape of
  * every Dataset action: exchanges and in-memory (cached) relation scans. */
final class PlanListener extends QueryExecutionListener {
  var analysisMs, optimizationMs, planningMs = 0L
  var actions, exchanges, cacheScans = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = PlanListener.nodes(qe.executedPlan)
    synchronized {
      actions += 1
      analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      planningMs += ms(QueryPlanningTracker.PLANNING)
      exchanges += nodes.count(_.isInstanceOf[ShuffleExchangeExec])
      cacheScans += nodes.count(_.isInstanceOf[InMemoryTableScanExec])
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Map[String, Double] = synchronized {
    Map("analysis_s" -> analysisMs / 1e3, "optimization_s" -> optimizationMs / 1e3,
      "planning_s" -> planningMs / 1e3, "actions" -> actions.toDouble,
      "exchanges" -> exchanges.toDouble, "cache_scans" -> cacheScans.toDouble)
  }
}

object PlanListener {
  /** Every node of the final physical plan, through adaptive wrappers and
    * query stages, without descending into cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

final case class Span(id: Int, name: String, parent: Int, item: String,
                      startNs: Long, var endNs: Long)

/** In-memory spans for the traced passes: name, start, end, parent and
  * item id, recorded around each call from the harness into an engine
  * layer. Spans are kept per thread as a stack; the innermost open span's
  * name is also set as a Spark local property, so a job started inside a
  * layer call is attributed to that layer. While `enabled` is false the
  * body runs untouched. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](name: String, item: String = "")(body: => T): T =
    if (!enabled) body else {
      val st = stack.get()
      val s = synchronized {
        val s = Span(spans.length, name, st.headOption.map(_.id).getOrElse(-1),
          if (item.nonEmpty) item else st.headOption.map(_.item).getOrElse(""),
          System.nanoTime(), -1L)
        spans += s
        s
      }
      stack.set(s :: st)
      val prevLayer = sc.getLocalProperty(Tracer.LayerProperty)
      sc.setLocalProperty(Tracer.LayerProperty, name)
      try body finally {
        s.endNs = System.nanoTime()
        stack.set(st)
        sc.setLocalProperty(Tracer.LayerProperty, prevLayer)
      }
    }

  /** The innermost open span of this thread. */
  def current: Option[Span] = if (enabled) stack.get().headOption else None

  /** Runs `body` on this thread as if inside `parent` — for work a span
    * hands to pool threads. */
  def adopt[T](parent: Option[Span])(body: => T): T =
    if (!enabled) body else {
      val st = stack.get()
      stack.set(parent.toList)
      try body finally stack.set(st)
    }

  /** Id of the next span; `times(mark)` covers the spans from here on. */
  def mark: Int = synchronized(spans.length)

  /** Span count per name, and total and self seconds per name. Self time is
    * a span's duration minus the part of its interval that its child spans
    * cover (children on pool threads included). Spans `from` on only. */
  def times(from: Int): (Map[String, Int], Map[String, Double], Map[String, Double]) =
    synchronized {
      val done = spans.drop(from).filter(_.endNs >= 0)
      val children = done.groupBy(_.parent)
      val n = scala.collection.mutable.Map[String, Int]()
      val total = scala.collection.mutable.Map[String, Double]()
      val self = scala.collection.mutable.Map[String, Double]()
      done.foreach { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        val d = (s.endNs - s.startNs) / 1e9
        n(s.name) = n.getOrElse(s.name, 0) + 1
        total(s.name) = total.getOrElse(s.name, 0.0) + d
        self(s.name) = self.getOrElse(s.name, 0.0) + d - Intervals.covered(kids) / 1e9
      }
      (n.toMap, total.toMap, self.toMap)
    }

  def dump(): Seq[Span] = synchronized(spans.toList)
}

/** Length of the union of half-open intervals. */
object Intervals {
  def covered(ivs: Iterable[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    ivs.filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }
}

object Tracer {
  val LayerProperty = "perfbench.layer"
}

/** JVM heap peak (reset after set-up) and JIT compile time. */
object JvmStats {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Collects garbage, then waits (at most `maxMs`) until the JIT compiler
    * threads go idle, so compilation queued by the warm-up passes does not
    * compete with the timed passes for cores. */
  def quiesce(maxMs: Long): Unit = {
    System.gc()
    val deadline = System.currentTimeMillis() + maxMs
    var last = jitMs
    var idle = false
    while (!idle && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      val now = jitMs
      idle = now - last < 25
      last = now
    }
  }
}
