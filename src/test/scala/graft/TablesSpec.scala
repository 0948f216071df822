package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val r = TestSpark.observing(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })(f)
    (r, jobs.get)
  }

  test("spread widens a 1-partition frame the optimizer overestimates") {
    // an explode and a join inflate the size estimate far past any scan's,
    // while the checkpointed rows are a few KB in one partition
    val base = spark.range(0, 2000, 1, 1).select(col("id"), sequence(lit(1L), lit(5L)).as("xs"))
    val inflated = base.select(col("id"), explode(col("xs")).as("x"))
      .join(base.select(col("id").as("x"), lit("k").as("k")), "x")
      .coalesce(1)
      .localCheckpoint(true)
    assert(inflated.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(256L << 20))
    assert(Tables.plannedPartitions(inflated) === Some(1))
    val (wide, jobs) = jobsDuring {
      Tables.plannedPartitions(Tables.spread(inflated))
    }
    assert(wide === Some(spark.sparkContext.defaultParallelism))
    assert(jobs === 0)
  }

  test("spread leaves a frame that is already wide unshuffled") {
    val width = spark.sparkContext.defaultParallelism
    val frames: Seq[DataFrame] = Seq(
      spark.range(0, 1000, 1, width).toDF().localCheckpoint(true),
      spark.range(0, 1000, 1, 1).repartition(width * 2).select(col("id") * 2))
    for (df <- frames) {
      val (out, jobs) = jobsDuring(Tables.spread(df))
      assert(out eq df)
      assert(jobs === 0)
    }
  }

  test("spread passes through a frame whose width is only known at run time") {
    val agg = spark.range(0, 1000, 1, 1).groupBy(col("id") % 7).count()
    assert(Tables.plannedPartitions(agg) === None)
    assert(Tables.spread(agg) eq agg)
  }
}
