package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local session per test JVM. Tests fork in two groups
  * (build.sbt `testGrouping`): DeterminismSpec in a JVM of its own, every
  * other suite in the second, the two running side by side.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` and returns once `l` has seen every job start and task end
    * `f` caused, even when `f` throws (only those two events are passed
    * on). Listener events arrive asynchronously but in order, so a marker
    * job started afterwards flushes them; `l` never sees the marker job.
    */
  def observing[T](l: SparkListener)(f: => T): T = {
    val sc = spark.sparkContext
    val marker = new java.util.concurrent.CountDownLatch(1)
    val gate = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(MarkerKey) != null)
          marker.countDown()
        else l.onJobStart(j)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (marker.getCount > 0) l.onTaskEnd(te)
    }
    sc.addSparkListener(gate)
    try f
    finally {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      marker.await(30, java.util.concurrent.TimeUnit.SECONDS)
      sc.removeSparkListener(gate)
    }
  }

  private val MarkerKey = "graft.test.marker"

  /** Total shuffle records written by every task while `f` runs — the
    * LOAD-INSENSITIVE work proxy the scale probes (DocScaleSpec,
    * GraphScaleSpec) assert on: record counts are a function of the data
    * and the plan, not of this host's CPU-steal waves, so a quadratic
    * candidate-pair tail still trips the ratio deterministically while a
    * slow window can't flake it. Listener events arrive asynchronously
    * after the action returns, so the reader polls until the counter is
    * stable.
    */
  def shuffleRecords(f: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) acc.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var prev = -1L
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 5000) {
        Thread.sleep(100)
        waited += 100
        val cur = acc.get
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      acc.get
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
