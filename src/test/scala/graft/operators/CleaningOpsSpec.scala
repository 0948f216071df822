package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CleaningOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("dominantCategoryFilter drops only non-modal rows of dominated groups") {
    // group g1: 96% 'mg' → drop the 'g' row; g2: 60/40 below 0.95 cutoff → keep
    // all; g3: single category → untouched (reference uom_conversion.py:11-28)
    val rows =
      (1 to 96).map(i => ("g1", "mg", i)) ++ Seq(("g1", "g", 97)) ++
        (1 to 3).map(i => ("g2", "mg", i)) ++ (1 to 2).map(i => ("g2", "g", i)) ++
        Seq(("g3", "u", 1))
    val df = rows.toDF("item", "uom", "row")
    val kept = CleaningOps.dominantCategoryFilter(df, "item", "uom", 0.95)
    assert(kept.count() === rows.size - 1)
    assert(kept.filter($"item" === "g1" && $"uom" === "g").count() === 0)
    assert(kept.filter($"item" === "g2").count() === 5)
    assert(kept.filter($"item" === "g3").count() === 1)
  }

  test("null keys pass the cleaners untouched and a NULL modal unit is kept") {
    // null-key rows belong to no group; in k=1 the NULL unit is the mode
    // (4 of 5, share 0.8 > 0.7), so only its 'g' row goes; k=2 is an even
    // split and stays whole — 8 of 9 rows survive
    val df = Seq[(Option[Int], Option[String], Double)](
      (None, Some("mg"), 1.0), (None, Some("mg"), 2.0),
      (Some(1), None, 1.0), (Some(1), None, 2.0), (Some(1), None, 3.0),
      (Some(1), None, 4.0), (Some(1), Some("g"), 5.0),
      (Some(2), Some("a"), 1.0), (Some(2), Some("b"), 2.0)).toDF("k", "u", "v")
    val kept = CleaningOps.dominantCategoryFilter(df, "k", "u", 0.7)
    assert(kept.count() === 8)
    assert(kept.filter($"k".isNull).count() === 2)
    assert(kept.filter($"k" === 1 && $"u".isNull).count() === 4)
    assert(kept.filter($"u" === "g").count() === 0)
    // a [min, max] band drops nothing; the median gate keeps both null keys
    assert(CleaningOps.percentileDrop(df, "k", "v", 0.0, 1.0).count() === 9)
    assert(CleaningOps.quantileGate(df, "k", "v", 0.5)
      .filter($"k".isNull).count() === 2)
  }

  test("percentileClamp bounds values to exact per-group percentiles") {
    // 0..100 per group: p02/p98 of 0..100 with type-7 interpolation = 2.0/98.0
    val df = (0 to 100).map(v => ("k", v.toDouble)).toDF("item", "v")
    val clamped = CleaningOps.percentileClamp(df, "item", "v", 0.02, 0.98)
    val got = clamped.select("v").as[Double].collect()
    assert(got.min === 2.0 && got.max === 98.0)
    assert(got.count(_ == 2.0) === 3)  // 0,1,2 clamp to 2
    assert(got.count(_ == 98.0) === 3) // 98,99,100
    // row_number and the group count share one Window node
    val plan = clamped.queryExecution.sparkPlan
    assert(plan.collect { case w if w.nodeName == "Window" => w }.size === 1, plan.toString)
  }

  test("percentileDrop removes out-of-band rows") {
    val df = (0 to 100).map(v => ("k", v.toDouble)).toDF("item", "v")
    val got = CleaningOps.percentileDrop(df, "item", "v", 0.02, 0.98)
      .select("v").as[Double].collect()
    assert(got.min === 2.0 && got.max === 98.0 && got.length === 97)
  }

  test("quantileGate keeps rows at or above their group's median") {
    // g1 median of 1..5 = 3 → keeps 3,4,5; g2 median of (10,20) = 15 → keeps 20
    val df = ((1 to 5).map(v => ("g1", v.toDouble)) ++
      Seq(("g2", 10.0), ("g2", 20.0))).toDF("grp", "v")
    val got = CleaningOps.quantileGate(df, "grp", "v", 0.5)
      .select("grp", "v").as[(String, Double)].collect().toSet
    assert(got === Set(("g1", 3.0), ("g1", 4.0), ("g1", 5.0), ("g2", 20.0)))
  }

  test("madOutliers flags by hand-computed robust z, MAD-zero groups flag nothing") {
    // g1: values 1,2,3,4,100 → med 3, absdevs 2,1,0,1,97 → MAD 1
    //   z(100) = 97/1.4826 ≈ 65.4 → flagged; z(1) = 2/1.4826 ≈ 1.35 → not
    // g2: constant values → MAD 0 → nothing flagged
    val df = (Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("g1", _)) ++
      Seq.fill(5)(("g2", 7.0))).toDF("grp", "v")
    val got = CleaningOps.madOutliers(df, "grp", "v", cutoff = 3.5)
    val flagged = got.filter($"is_outlier" === 1)
      .select("grp", "v", "robust_z").as[(String, Double, Double)].collect()
    assert(flagged.toSeq === Seq(("g1", 100.0,
      math.rint(97.0 / 1.4826 * 1e6) / 1e6)))
    assert(got.filter($"grp" === "g2" && $"is_outlier" === 1).count() === 0)
  }

  test("fuzzyNormalize: exact hit, nearest-within-budget, tie-break, no-match null") {
    val dict = Seq("bolt", "bolts", "gear", "rings")
    val df = Seq("bolt", "blt", "ring", "zzzzz", "bolt").toDF("w")
    val got = CleaningOps.fuzzyNormalize(df, col("w"), dict, maxDist = 2)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(got.size === 4)                                 // distinct dirty values
    assert(got("bolt") === ((Some("bolt"), 0)))            // exact beats bolts@1
    // blt: bolt@1 and bolts@2 → min distance wins
    assert(got("blt") === ((Some("bolt"), 1)))
    // ring: rings@1 unique within budget (gear@4 is out)
    assert(got("ring") === ((Some("rings"), 1)))
    assert(got("zzzzz") === ((None, -1)))                  // nothing within 2 edits
  }

  test("fuzzyNormalize ties at equal distance resolve lexicographically") {
    // 'bolx' is distance 1 from both 'bolt' and 'bola' → canon 'bola'
    val got = CleaningOps.fuzzyNormalize(Seq("bolx").toDF("w"), col("w"),
      Seq("bolt", "bola"), maxDist = 2).collect()(0)
    assert(got.getString(1) === "bola")
    assert(got.getInt(2) === 1)
  }
}
