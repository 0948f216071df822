package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.dedup.DedupOps

/** Hand-computed oracles for the round-7 operator batch. */
class Round7OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Mann-Whitney U ----

  test("mannWhitney: no ties, U and z match the textbook values") {
    // A = {1, 3}, B = {2, 4}: ranks 1..4, R_A = 4, U_A = 1
    val df = Seq((1.0, "A"), (3.0, "A"), (2.0, "B"), (4.0, "B"))
      .toDF("v", "g")
    val r = RegressionOps.mannWhitney(df, col("v"), col("g"), "A", "B")
      .collect()(0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 1.0)
    // z = (1 - 2)/sqrt(4/12 * 5) = -0.774597
    assert(r.getDouble(3) === -0.774597)
  }

  test("mannWhitney: tied value spans both groups, tie-corrected variance") {
    // A = {1, 2}, B = {2, 3}: avg ranks 1, 2.5, 2.5, 4 → R_A = 3.5,
    // U_A = 0.5; one tie group of 2 → Σ(t³−t) = 6
    val df = Seq((1.0, "A"), (2.0, "A"), (2.0, "B"), (3.0, "B"))
      .toDF("v", "g")
    val r = RegressionOps.mannWhitney(df, col("v"), col("g"), "A", "B")
      .collect()(0)
    assert(r.getDouble(2) === 0.5)
    // σ² = (4/12)·(5 − 6/12) = 1.5 → z = -1.5/sqrt(1.5) = -1.224745
    assert(r.getDouble(3) === -1.224745)
  }

  test("mannWhitney ignores rows outside the two groups and null values") {
    val df = Seq((1.0, "A"), (3.0, "A"), (2.0, "B"), (4.0, "B"),
      (99.0, "C"), (Double.NaN, "zzz"))
      .toDF("v", "g")
      .withColumn("v", when(col("g") === "zzz", lit(null)).otherwise(col("v")))
    val r = RegressionOps.mannWhitney(df, col("v"), col("g"), "A", "B")
      .collect()(0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r.getDouble(2) === 1.0)
  }

  // ---- embedding covariance ----

  test("embeddingCovariance: exact 2-dim population covariance") {
    val df = Seq(Seq(1f, 2f), Seq(3f, 4f), Seq(5f, 12f)).toDF("e")
    val out = RegressionOps.embeddingCovariance(df, col("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(out.size === 3) // upper triangle only
    assert(out((0L, 0L)) === 2.666667) // var dim0 = 8/3
    assert(out((0L, 1L)) === 6.666667) // cov = 20/3
    assert(out((1L, 1L)) === 18.666667) // var dim1 = 56/3
  }

  // ---- rolling median ----

  test("rollingMedian: trailing-3 exact median, interpolated at even count") {
    val df = Seq((1, 1, 1.0), (1, 2, 9.0), (1, 3, 2.0), (1, 4, 8.0),
      (1, 5, 3.0)).toDF("u", "t", "v")
    val out = WindowOps.rollingMedian(df, Seq("u"), Seq("t"), col("v"),
        k = 3, "med")
      .orderBy("t").collect().map(_.getDouble(3))
    assert(out.toSeq === Seq(1.0, 5.0, 2.0, 8.0, 3.0))
  }

  test("rollingMedian is per-entity: partitions never bleed") {
    val df = Seq((1, 1, 10.0), (2, 2, 99.0), (1, 3, 20.0)).toDF("u", "t", "v")
    val out = WindowOps.rollingMedian(df, Seq("u"), Seq("t"), col("v"),
        k = 3, "med")
      .orderBy("u", "t").collect().map(_.getDouble(3))
    assert(out.toSeq === Seq(10.0, 15.0, 99.0))
  }

  // ---- temporal split ----

  test("temporalSplit: 80/20 boundary is ceil((1-f)·n), order-respecting") {
    // 5 rows → 4 train + 1 test, the LAST row is the test row
    val df = (1 to 5).map(i => (7, i)).toDF("u", "t")
    val out = FoldOps.temporalSplit(df, Seq("u"), Seq(col("t")), 0.2)
      .orderBy("t").collect().map(_.getString(2))
    assert(out.toSeq === Seq("train", "train", "train", "train", "test"))
  }

  test("temporalSplit: tiny entities keep all rows in train (no leakage risk)") {
    val df = Seq((1, 1), (2, 1), (2, 2)).toDF("u", "t")
    val out = FoldOps.temporalSplit(df, Seq("u"), Seq(col("t")), 0.2)
      .collect().map(_.getString(2))
    assert(out.forall(_ == "train")) // ceil(1·0.8)=1, ceil(2·0.8)=2
  }

  // ---- Adamic-Adar ----

  test("adamicAdar: shared-neighbor counts and inverse-log-degree sums") {
    // z—{a,b,c}, w—{a,b}; degrees z=3, w=2, a=2, b=2, c=1
    val edges = Seq(("a", "z"), ("b", "z"), ("c", "z"), ("a", "w"), ("b", "w"))
      .toDF("src", "dst")
    val out = GraphOps.adamicAdar(edges, "src", "dst",
        maxDeg = 100, minCommon = 1L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // (a,b) share z and w: 1/ln3 + 1/ln2
    assert(out(("a", "b")) === ((2L, 2.352934)))
    // (a,c)/(b,c) share z only
    assert(out(("a", "c")) === ((1L, 0.910239)))
    assert(out(("b", "c")) === ((1L, 0.910239)))
    // (w,z) share a and b: 2/ln2
    assert(out(("w", "z")) === ((2L, 2.88539)))
    assert(out.size === 4)
  }

  test("adamicAdar: hub cap drops wedges through over-degree nodes") {
    val edges = Seq(("a", "z"), ("b", "z"), ("c", "z"), ("a", "w"), ("b", "w"))
      .toDF("src", "dst")
    val out = GraphOps.adamicAdar(edges, "src", "dst",
        maxDeg = 2, minCommon = 1L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // z (deg 3) is capped out as a shared endpoint: (a,b) keeps only its
    // w-wedge, (w,z) still forms through a and b, c pairs with nobody
    assert(out === Map(("a", "b") -> 1L, ("w", "z") -> 2L))
  }

  // ---- DeLong AUROC ----

  test("aurocDeLong: AUC, placement-value SE and CI on a hand example") {
    // pos {3, 5}, neg {1, 2, 5}: V10 = {4/6, 5/6}, V01 = {1, 1, 1/4}
    // θ = 0.75, S10 = 1/72, S01 = 3/16, SE = sqrt(S10/2 + S01/3)
    val df = Seq((3.0, 1), (5.0, 1), (1.0, 0), (2.0, 0), (5.0, 0))
      .toDF("s", "y")
    val r = MetricsOps.aurocDeLong(df, col("s"), col("y")).collect()(0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 0.75)
    val se = math.sqrt(1.0 / 72 / 2 + 3.0 / 16 / 3)
    assert(math.abs(r.getDouble(3) - se) < 1e-6)
    assert(math.abs(r.getDouble(4) - (0.75 - 1.959964 * se)) < 1e-5)
    assert(math.abs(r.getDouble(5) - (0.75 + 1.959964 * se)) < 1e-5)
  }

  test("aurocDeLong: perfect separation gives auc 1, se 0") {
    val df = Seq((10.0, 1), (11.0, 1), (1.0, 0), (2.0, 0)).toDF("s", "y")
    val r = MetricsOps.aurocDeLong(df, col("s"), col("y")).collect()(0)
    assert(r.getDouble(2) === 1.0)
    assert(r.getDouble(3) === 0.0)
  }

  // ---- Cohen's kappa ----

  test("cohensKappa: textbook 2x2 table gives kappa 0.4") {
    // yes/yes 20, yes/no 5, no/yes 10, no/no 15 → po=0.7, pe=0.5, κ=0.4
    val rows =
      Seq.fill(20)(("yes", "yes")) ++ Seq.fill(5)(("yes", "no")) ++
        Seq.fill(10)(("no", "yes")) ++ Seq.fill(15)(("no", "no"))
    val r = AssociationOps.cohensKappa(rows.toDF("a", "b"),
      col("a"), col("b")).collect()(0)
    assert(r.getLong(0) === 50L)
    assert(r.getDouble(1) === 0.7)
    assert(r.getDouble(2) === 0.5)
    assert(r.getDouble(3) === 0.4)
  }

  test("cohensKappa: both raters constant on one label → pe=1, kappa null") {
    val df = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    val r = AssociationOps.cohensKappa(df, col("a"), col("b")).collect()(0)
    assert(r.getDouble(1) === 1.0 && r.getDouble(2) === 1.0)
    assert(r.isNullAt(3))
  }

  // ---- activity completeness ----

  test("activityCompleteness: coverage ratio and max silence gap") {
    val df = Seq(
      (1, "1970-01-01"), (1, "1970-01-02"), (1, "1970-01-04"),
      (1, "1970-01-02"), // duplicate activity on a day collapses
      (2, "1970-03-01"))
      .toDF("u", "d").withColumn("ts", to_timestamp(col("d")))
    val out = TimeSeriesOps.activityCompleteness(df, "u", "ts")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out(1) === ((3L, 4L, 0.75, 2L)))
    assert(out(2) === ((1L, 1L, 1.0, 1L)))
  }

  // ---- seasonal decomposition ----

  test("seasonalDecompose: pure seasonal signal leaves zero trend and residual") {
    // value depends only on the calendar cell → seasonal soaks everything
    val rows = for (d <- 0 until 14; h <- Seq(3, 15)) yield
      (d * 48L + h, "k",
        java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d $h%02d:00:00"),
        if (h == 3) 10.0 else 20.0)
    val df = rows.toDF("event_id", "k", "ts", "value")
    val out = TimeSeriesOps.seasonalDecompose(df, "k", "ts", "event_id",
      col("value"), trendK = 5).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(2) === 10.0 || r.getDouble(2) === 20.0) // seasonal
      assert(r.getDouble(3) === 0.0) // trend
      assert(r.getDouble(4) === 0.0) // residual
    }
  }

  // ---- PCA projection ----

  test("pcaProject: collinear cloud projects onto its axis at |v|") {
    // points t·(1,2): dominant eigenvector (1,2)/√5 (sign-pinned
    // positive) → pc1 = √5·t
    val df = Seq((1L, Seq(1f, 2f)), (2L, Seq(2f, 4f)), (3L, Seq(3f, 6f)))
      .toDF("vec_id", "e")
    val out = RegressionOps.pcaProject(df, "vec_id", col("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r5 = math.sqrt(5.0)
    assert(math.abs(out(1L) - r5) < 1e-5)
    assert(math.abs(out(2L) - 2 * r5) < 1e-5)
    assert(math.abs(out(3L) - 3 * r5) < 1e-5)
  }

  // ---- rolling correlation ----

  test("rollingCorr: perfect linear tracking gives ±1, constant side null") {
    val df = Seq(
      (1, 1, 1.0, 2.0), (1, 2, 2.0, 4.0), (1, 3, 3.0, 6.0), // y = 2x
      (2, 1, 1.0, 9.0), (2, 2, 2.0, 7.0), (2, 3, 3.0, 5.0), // y = -2x + 11
      (3, 1, 1.0, 5.0), (3, 2, 2.0, 5.0)) // constant y → null
      .toDF("u", "t", "x", "y")
    val out = WindowOps.rollingCorr(df, Seq("u"), Seq("t"),
        col("x"), col("y"), k = 3, "c")
      .filter(col("t") === lit(3) || (col("u") === 3 && col("t") === 2))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(out(1) === 1.0)
    assert(out(2) === -1.0)
    assert(out(3) === null)
  }

  test("rollingCorr: single-row window is degenerate → null") {
    val df = Seq((1, 1, 1.0, 2.0)).toDF("u", "t", "x", "y")
    val r = WindowOps.rollingCorr(df, Seq("u"), Seq("t"),
      col("x"), col("y"), k = 3, "c").collect()(0)
    assert(r.isNullAt(4))
  }

  // ---- LSH recall audit ----

  test("lshRecallEval: identical docs are always recalled, counts coherent") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "utterly different text with no shared shingles at all"))
      .toDF("doc_id", "text")
    val r = DedupOps.lshRecallEval(df, "doc_id", "text",
      shingleN = 2, k = 4, bands = 2, threshold = 0.5).collect()(0)
    assert(r.getLong(0) === 1L) // truth: the identical pair
    assert(r.getLong(2) === 1L) // hit
    assert(r.getDouble(3) === 1.0) // recall
    assert(r.getLong(1) >= 1L && r.getDouble(4) <= 1.0)
  }

  // ---- Wilcoxon signed-rank ----

  test("wilcoxonSignedRank: textbook W+ and z, zero diffs dropped") {
    // diffs {1, -2, 3, 0}: zero drops; |d| ranks 1,2,3 → W+ = 1+3 = 4
    val df = Seq(1L, -2L, 3L, 0L).toDF("d")
    val r = RegressionOps.wilcoxonSignedRank(df, col("d")).collect()(0)
    assert(r.getLong(0) === 3L)
    assert(r.getDouble(1) === 4.0)
    // z = (4 − 3)/sqrt(3.5) = 0.534522
    assert(r.getDouble(2) === 0.534522)
  }

  test("wilcoxonSignedRank: tie spanning signs gets the averaged rank") {
    // diffs {1, -1, 2}: |d|=1 twice (avg rank 1.5), 2 once (rank 3)
    // W+ = 1.5 + 3 = 4.5; ties = 6 → σ² = 3.375
    val df = Seq(1L, -1L, 2L).toDF("d")
    val r = RegressionOps.wilcoxonSignedRank(df, col("d")).collect()(0)
    assert(r.getDouble(1) === 4.5)
    assert(r.getDouble(2) === 0.816497)
  }

  // ---- McNemar ----

  test("mcnemar: discordant counts and continuity-corrected chi2") {
    // 3 rows A-only correct, 1 B-only, 1 both, 1 neither
    // → b=3, c=1, χ² = (|3−1|−1)²/4 = 0.25
    val df = Seq(
      (true, true, false), (true, true, false), (true, true, false),
      (true, false, true), (true, true, true), (true, false, false))
      .toDF("t", "a", "b")
    val r = MetricsOps.mcnemar(df, col("t"), col("a"), col("b")).collect()(0)
    assert(r.getLong(0) === 6L && r.getLong(1) === 3L && r.getLong(2) === 1L)
    assert(r.getDouble(3) === 0.25)
  }

  test("mcnemar: no discordant pairs → chi2 null") {
    val df = Seq((true, true, true), (false, false, false)).toDF("t", "a", "b")
    val r = MetricsOps.mcnemar(df, col("t"), col("a"), col("b")).collect()(0)
    assert(r.getLong(1) === 0L && r.getLong(2) === 0L && r.isNullAt(3))
  }

  // ---- autocorrelation ----

  test("autocorr: alternating series flips sign by lag parity") {
    val df = Seq((1, 1, 1L), (1, 2, -1L), (1, 3, 1L), (1, 4, -1L), (1, 5, 1L))
      .toDF("u", "t", "v").withColumn("tie", col("t"))
    val out = TimeSeriesOps.autocorr(df, "u", "t", "tie", col("v"), 3)
      .collect().map(r => r.getInt(1) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out(1) === -1.0)
    assert(out(2) === 1.0)
    assert(out(3) === -1.0)
  }

  test("autocorr: constant series is degenerate → null acf") {
    val df = Seq((1, 1, 5L), (1, 2, 5L), (1, 3, 5L)).toDF("u", "t", "v")
      .withColumn("tie", col("t"))
    val out = TimeSeriesOps.autocorr(df, "u", "t", "tie", col("v"), 1)
      .collect()
    assert(out.length === 1 && out(0).isNullAt(3))
  }

  // ---- bigram LM ----

  private def prof(df: org.apache.spark.sql.DataFrame): GramProfile =
    SummaryOps.gramProfile(df, "doc_id", "text")

  test("bigramLogProb: add-1 smoothed transition scores, hand-checked") {
    // corpus: "a b a", "b a", "x" → c(a)=3, c(b)=2, c(x)=1, V=3
    // bigram counts: "a b"=1, "b a"=2
    val df = Seq((1L, "a b a"), (2L, "b a"), (3L, "x")).toDF("doc_id", "text")
    val out = SummaryOps.bigramLogProb(prof(df))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    // doc1: [ln(2/6) + ln(3/5)]/2 = -0.804719
    assert(out(1L) === ((2L, -0.804719)))
    // doc2: ln(3/5) = -0.510826
    assert(out(2L) === ((1L, -0.510826)))
    // doc3: no bigrams → null score
    assert(out(3L) === ((0L, null)))
  }
}
