package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The collector for one pass of a traced run. Loaded only by traced runs.
  *
  * With `spans` on, each span runs under its own Spark job group and its
  * output is materialized at the boundary (an eager local checkpoint that
  * the next call consumes), so the work lands in the span that did it; the
  * pass reports per-span metrics and the observed ratios. With `spans` off
  * the calls stay lazy exactly as in an untraced run and the pass reports
  * the run-level metrics (planning, jobs, tasks, waits, GC, scan rows), so
  * these describe the plan a user runs, not one cut at every span. Task
  * metrics come from a SparkListener keyed by job group; planning phases
  * and scan row counts from a QueryExecutionListener. Everything stays in
  * memory until the pass ends.
  */
final class Traced(spark: SparkSession, spans: Boolean) extends Tracer {
  private val sc = spark.sparkContext
  private val tasks = new TaskCollector
  private val plans = new PlanCollector
  private val wall = mutable.LinkedHashMap[String, Long]()
  private val observed = mutable.LinkedHashMap[String, Double]()

  sc.addSparkListener(tasks)
  spark.listenerManager.register(plans)

  private def inGroup[T](name: String)(f: => T): T = {
    sc.setJobGroup(name, name, false)
    val t0 = System.nanoTime
    try f
    finally {
      wall(name) = wall.getOrElse(name, 0L) + (System.nanoTime - t0)
      sc.clearJobGroup()
    }
  }

  def span(name: String)(f: => DataFrame): DataFrame =
    if (spans) inGroup(name)(f.localCheckpoint(true)) else f

  def act[T](name: String)(f: => T): T = if (spans) inGroup(name)(f) else f

  def observe(name: String)(v: => Double): Unit = if (spans) observed(name) = v

  /** Detaches the collectors and returns this pass's per-layer metrics. */
  def finish(): Map[String, Double] = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    sc.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
    if (spans) spanMetrics else runMetrics
  }

  private def spanMetrics: Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    for ((name, ns) <- wall if !name.startsWith("bench.")) {
      val a = tasks.byGroup.getOrElse(name, new TaskAcc)
      out(s"$name.self_s") = ns / 1e9
      out(s"$name.task_s") = a.runMs / 1e3
      out(s"$name.shuffle_mb") = a.shuffleBytes / 1e6
      out(s"$name.spill_mb") = a.spillBytes / 1e6
    }
    (out ++= observed).toMap
  }

  private def runMetrics: Map[String, Double] = {
    val all = tasks.byGroup.values
    val nTasks = all.map(_.tasks).sum
    Map(
      "plans.planning_s" -> plans.planningMs / 1e3,
      "plans.actions" -> plans.actions.toDouble,
      "spark.jobs" -> tasks.jobsByGroup.values.sum.toDouble,
      "spark.tasks" -> nTasks.toDouble,
      "spark.scheduler_wait_s" -> all.map(_.waitMs).sum / 1e3,
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
      "spark.empty_task_ratio" ->
        (if (nTasks == 0) 0.0 else all.map(_.empty).sum.toDouble / nTasks),
      "spark.scan_rows" -> plans.scanRows.toDouble)
  }
}

final class TaskAcc {
  var runMs, shuffleBytes, spillBytes, gcMs, waitMs, tasks, empty = 0L
}

/** Task metrics aggregated per job group (runs on the listener thread;
  * read only after the bus is drained).
  */
final class TaskCollector extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val stageSubmitted = mutable.HashMap[Int, Long]()
  val byGroup = mutable.HashMap[String, TaskAcc]()
  val jobsByGroup = mutable.HashMap[String, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("unattributed")
    e.stageIds.foreach(stageGroup(_) = g)
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "unattributed"),
        new TaskAcc)
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.tasks += 1
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) a.empty += 1
      // time the task waited for a free core after its stage was submitted
      stageSubmitted.get(e.stageId).foreach { s =>
        a.waitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
    }
  }
}

/** Planning phases of every executed query, and the rows its file scans
  * output. Scan nodes are kept by identity and read when the pass ends: a
  * cached plan's scan, shared by every query that reads the cache, counts
  * once, and a lazily checkpointed plan's scan counts once it has run.
  */
final class PlanCollector extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var planningMs = 0L
  @volatile var actions = 0L
  private val scanNodes = new java.util.IdentityHashMap[FileSourceScanExec, Unit]()

  private def collectScans(plan: SparkPlan): Unit =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => scanNodes.put(s, ())
      case c: InMemoryTableScanExec => collectScans(c.relation.cachedPlan)
    }

  def scanRows: Long = synchronized {
    scanNodes.keySet.asScala.toSeq
      .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      actions += 1
      planningMs += qe.tracker.phases.filter(_._1 != "parsing").values.map(_.durationMs).sum
      collectScans(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { actions += 1 }
}
