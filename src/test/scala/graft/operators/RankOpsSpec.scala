package graft.operators

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The prefix-sum kernel behind `globalRowNumber`, `globalCumsums` and
  * `packByCumsum`, checked against the plain single-window reference on
  * seeded frames whose strata tie, span several range buckets, outnumber
  * the shuffle partitions and include a null key.
  */
class RankOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val strata = null +: ('a' to 'l').map(_.toString)

  /** (k, g, id, n): k skewed — a third of the rows in "a" — so a stratum
    * spans several range buckets; ids unique, so (k, g, id) is a total order.
    */
  private def frame(seed: Long) = {
    val r = new Random(seed)
    r.shuffle((1 to 600).toList).map { id =>
      val k = if (r.nextInt(3) == 0) "a" else strata(r.nextInt(strata.length))
      (k, r.nextInt(2), id.toLong, 1 + r.nextInt(300))
    }.toDF("k", "g", "id", "n")
  }

  private def withPartitions[T](n: Int)(f: => T): T = {
    val conf = spark.conf
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    conf.set(keys(0), n.toLong)
    conf.set(keys(1), false)
    try f
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  private def byId(df: DataFrame, c: String): Map[Long, Long] =
    df.select(col("id"), col(c).cast("long")).as[(Long, Long)].collect().toMap

  for (parts <- Seq(1, 4, 7)) {
    test(s"prefix-sum kernel matches the single-window reference at $parts shuffle partitions") {
      withPartitions(parts) {
        val seed = 10L + parts
        val df = frame(seed).repartition(5)
        val order = Seq(col("k").asc, col("id").asc)
        val n = df.count()

        val rn = byId(RankOps.globalRowNumber(df, order, "rn"), "rn")
        val rnRef = byId(df.withColumn("ref", row_number().over(Window.orderBy(order: _*))),
          "ref")
        assert(rn.size === n && rn === rnRef, s"globalRowNumber, seed $seed")

        val cs = RankOps.globalCumsums(df, order, Seq(col("n") -> "cn", col("g") -> "cg"))
        val w = Window.orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val csRef = df.withColumn("rn", sum(col("n")).over(w))
          .withColumn("rg", sum(col("g")).over(w))
        assert(byId(cs, "cn") === byId(csRef, "rn"), s"globalCumsums n, seed $seed")
        assert(byId(cs, "cg") === byId(csRef, "rg"), s"globalCumsums g, seed $seed")

        val bins = byId(FoldOps.packByCumsum(df, Seq("k", "g"), Seq("id"), col("n"), 256),
          "bin_id")
        val wStratum = Window.partitionBy(col("k"), col("g")).orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val binRef = byId(df.withColumn("bin",
          floor((sum(col("n")).over(wStratum) - col("n")) / 256.0)), "bin")
        assert(bins.size === n && bins === binRef, s"packByCumsum, seed $seed")

        // the frame exercises what the kernel must handle
        val spans = RankOps.pinnedRangeBuckets(df, Seq(col("k"), col("g"), col("id")))
          .groupBy("k", "g").agg(countDistinct(col("__gr_pid")).as("b"))
          .as[(String, Int, Long)].collect()
        assert(spans.length > parts && spans.exists(_._1 == null))
        if (parts > 1) assert(spans.exists(_._3 > 1), "no stratum spans two buckets")
      }
    }
  }
}
