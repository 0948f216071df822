package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Scale-path join machinery: bucketed co-located joins (shuffle-free) and
  * salted skew joins (result-identical).
  */
class ScaleJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val wh = Files.createTempDirectory("graft-warehouse")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li.write.mode("overwrite")
      .option("path", s"$wh/li_b").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_b")
    ord.write.mode("overwrite")
      .option("path", s"$wh/ord_b").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_b")
    try {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      try {
        val joined = spark.table("li_b")
          .join(spark.table("ord_b"), $"l_orderkey" === $"o_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"))
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join should not shuffle:\n$plan")
        assert(joined.count() === li.count()) // every lineitem has its order
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("salted join returns exactly the plain join's rows under skew") {
    // hot key: 10k rows on one key, a handful elsewhere
    val large = ((1 to 10000).map(i => (1L, i)) ++ (1 to 50).map(i => (2L, i)))
      .toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "cold"), (3L, "absent")).toDF("k", "tag")
    val plain = large.join(small, Seq("k"))
    val salted = JoinOps.saltedEquiJoin(large, small, "k", salt = 8)
    assert(salted.count() === plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("50%-skew stress: salting caps the hot partition the plain join can't") {
    // one key holds HALF the fact rows — the hot-patient / hot-session
    // shape. With AQE off (the environment saltedEquiJoin exists for) the
    // plain join funnels the hot key through one monster partition; the
    // salt scatters it across `salt` tractable ones.
    val hot = (1 to 20000).map(i => (1L, i))
    val rest = (1 to 20000).map(i => (2L + i % 997, i))
    val large = (hot ++ rest).toDF("k", "v")
    val small = (1L to 999L).map(k => (k, s"tag$k")).toDF("k", "tag")

    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // cluster-like partition count: with very few partitions the salt
      // buckets birthday-collide into the same partition and the size
      // comparison measures hash luck, not the salting
      "spark.sql.shuffle.partitions" -> "32")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def partSizes(df: org.apache.spark.sql.DataFrame): Seq[Int] =
        df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

      val plain = large.join(small, Seq("k"))
      val salted = JoinOps.saltedEquiJoin(large, small, "k", salt = 64)
      val plainMax = partSizes(plain).max
      val saltedMax = partSizes(salted).max
      // the plain join's hottest partition carries at least the hot key in
      // full; salting must beat it by a wide margin, not round-off
      assert(plainMax >= 20000, s"fixture lost its skew: plainMax=$plainMax")
      assert(saltedMax * 2 < plainMax,
        s"salting failed to split the hot key: salted=$saltedMax plain=$plainMax")
      assert(salted.count() === plain.count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("asOfPointInInterval: skewSafe route is AQE-skew-splittable, default is not") {
    // the flag is gone: checks that the one route, under the same skew
    // confs, gives a brute-force join + max(start)'s rows, one per point,
    // with no Window. Half the points sit on the hot key "H"
    val points = ((1 to 60000).map(i => ("H", i.toLong)) ++
      (1 to 100).flatMap(k => (1 to 600).map(i => (s"k$k", i.toLong))))
      .toDF("pk", "ts")
      .withColumn("payload", md5(concat(col("pk"), col("ts"))))
    val intervals = (Seq("H") ++ (1 to 100).map(k => s"k$k"))
      .flatMap(k => Seq((k, 0L, 100L), (k, 50L, 200L), (k, 101L, 100000L)))
      .toDF("pk", "s", "e")

    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // thresholds scaled down so the 60k-row hot partition counts as
      // skewed at test size; production keeps the defaults
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.shuffle.partitions" -> "32")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = JoinOps.asOfPointInInterval(points, intervals,
        "pk", "ts", "s", "e", "asof")
      // collect() runs THIS Dataset's own QueryExecution, so executedPlan
      // below is the AQE-final plan
      val got = df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"as-of join planned a window:\n$plan")
      val reference = points.as("p").join(intervals.as("i"),
          col("p.pk") === col("i.pk") && col("i.s") <= col("p.ts") &&
            col("p.ts") <= col("i.e"), "left")
        .groupBy(col("p.pk"), col("p.ts"), col("p.payload"))
        .agg(max(col("i.s")).as("asof"))
      assert(got.length === points.count())
      assert(got.map(r => (r.getString(0), r.getLong(1))).distinct.length === got.length)
      assert(df.except(reference).isEmpty && reference.except(df).isEmpty)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("semiFilter without a smallSide hint works through the shuffle path") {
    // semiFilter has no hint: checks its shuffle path equals a broadcast semi-join
    val fact = (1 to 5000).map(i => (i.toLong % 97, i)).toDF("k", "v")
    val keep = (0L to 40L).map(Tuple1(_)).toDF("k")
    val hinted = fact.join(broadcast(keep.distinct()), Seq("k"), "left_semi")
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val unhinted = JoinOps.semiFilter(fact, Seq("k"), keep)
      unhinted.collect()
      val plan = unhinted.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected the non-broadcast path:\n$plan")
      assert(unhinted.count() === hinted.count())
      assert(unhinted.except(hinted).isEmpty && hinted.except(unhinted).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      prevA match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }
}
