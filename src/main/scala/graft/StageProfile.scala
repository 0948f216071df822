package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._

import BenchSession.{force, releaseQueryBlocks, warmUp}

/** Dev-only stage-level attribution: for each named SparkEntry query, the
  * wall time of the Bench action alongside the number of Spark jobs,
  * stages, tasks and the summed executor task time — separating "the plan
  * does too many exchanges/jobs" (stage-count floor) from "the tasks are
  * slow" (per-task work) and "neither" (driver-side planning time).
  *
  * Each query runs `reps` times in isolation under the Bench session
  * settings, after an untimed warm-up at sf0.001 and with per-query block
  * cleanup — the tool for attributing a slow suite row without paying a
  * full bench pass.
  *
  * Usage: runMain graft.StageProfile <sfDir> <reps> <q1,q2,...>
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: StageProfile <sfDir> <reps> <q1,q2,...>")
    val (d, reps, names) = (args(0), args(1).toInt, args(2).split(",").toSeq)
    val spark = BenchSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0)
    val shufWrite = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shufWrite.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      }
    })

    warmUp(spark, d, names)
    SparkEntry.resetShared(spark)
    println(f"${"query"}%-34s ${"wall"}%7s ${"jobs"}%5s ${"stage"}%5s " +
      f"${"tasks"}%6s ${"taskS"}%7s ${"shufKB"}%8s")
    (1 to reps).foreach { rep =>
      names.foreach { n =>
        Thread.sleep(150) // let listener drain
        val (j0, s0, t0, m0, w0) =
          (jobs.get, stages.get, tasks.get, taskMs.get, shufWrite.get)
        val w = System.nanoTime()
        try force(SparkEntry.queries(n)(spark, d))
        catch { case e: Throwable => println(s"[sp] $n FAILED: ${e.getMessage}") }
        val wall = (System.nanoTime() - w) / 1e9
        Thread.sleep(150)
        println(f"$n%-34s $wall%7.3f ${jobs.get - j0}%5d ${stages.get - s0}%5d " +
          f"${tasks.get - t0}%6d ${(taskMs.get - m0) / 1e3}%7.2f " +
          f"${(shufWrite.get - w0) / 1024}%8d")
        releaseQueryBlocks(spark)
      }
      println(s"--- end rep $rep")
    }
    spark.stop()
  }
}
