package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hand-checkable cases for the round-9 statistics operators. */
class Round9OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kruskalWallis: textbook two-group separation, no ties") {
    // A = {1, 2}, B = {4, 5}: ranks 1,2 / 3,4 → R_A = 3, R_B = 7, n = 4
    // H = 12/(4·5) · (9/2 + 49/2) − 3·5 = 17.4 − 15 = 2.4 (tie term 0)
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 4.0), ("B", 5.0))
      .toDF("g", "v")
    val r = RegressionOps.kruskalWallis(df, col("v"), col("g")).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 4L)
    assert(math.abs(r.getDouble(2) - 2.4) < 1e-9)
  }

  test("kruskalWallis: identical distributions give H near zero") {
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 1.0), ("B", 2.0))
      .toDF("g", "v")
    val r = RegressionOps.kruskalWallis(df, col("v"), col("g")).head()
    assert(math.abs(r.getDouble(2)) < 1e-9)
  }

  test("mannKendallTrend: strictly increasing series, exact S and z sign") {
    // n = 5 increasing: S = C(5,2) = 10; no value ties →
    // Var = 5·4·15/18 = 50/3; z = 9/sqrt(50/3)
    val df = (1L to 5L).map(d => ("u", d, d * 10)).toDF("k", "o", "v")
    val r = TimeSeriesOps.mannKendallTrend(df, "k", col("o"), col("v"))
      .head()
    assert(r.getLong(1) === 5L && r.getLong(2) === 10L)
    val want = BigDecimal(9.0 / math.sqrt(50.0 / 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(3) === want)
  }

  test("mannKendallTrend: constant series guards variance zero to null") {
    val df = (1L to 4L).map(d => ("u", d, 7L)).toDF("k", "o", "v")
    val r = TimeSeriesOps.mannKendallTrend(df, "k", col("o"), col("v"))
      .head()
    assert(r.getLong(2) === 0L && r.isNullAt(3))
  }

  test("theilSenSlope: median pairwise slope, robust to one outlier") {
    // series (1,10) (2,20) (3,30) (4,1000): slopes 10, 10, 10 and
    // 990/3=330, 980/2=490, 970/1 — sorted [10,10,10,330,490,970],
    // type-7 median interpolates h=2.5: 10 + 0.5·(330−10) = 170 —
    // while the CLEAN 3-point series is exactly 10
    val clean = Seq(("u", 1L, 10L), ("u", 2L, 20L), ("u", 3L, 30L))
      .toDF("k", "o", "v")
    val r0 = TimeSeriesOps.theilSenSlope(clean, "k", col("o"), col("v"))
      .head()
    assert(r0.getDouble(1) === 10.0)
    val dirty = clean.union(Seq(("u", 4L, 1000L)).toDF("k", "o", "v"))
    val r1 = TimeSeriesOps.theilSenSlope(dirty, "k", col("o"), col("v"))
      .head()
    assert(r1.getDouble(1) === 170.0)
  }

  test("mannKendallTrend: maxSeries cap drops oversized entities loudly") {
    val big = (1L to 30L).map(d => ("big", d, d))
    val small = (1L to 5L).map(d => ("small", d, d))
    val out = TimeSeriesOps.mannKendallTrend(
        (big ++ small).toDF("k", "o", "v"), "k", col("o"), col("v"),
        maxSeries = 10)
      .select("k").as[String].collect()
    assert(out.toSeq === Seq("small"))
  }

  test("winnowing: a shared run of k+w-1 tokens shares a fingerprint") {
    // k=3, w=4 → guarantee threshold k+w−1 = 6: doc a and doc b share
    // the 6-token run "p q r s t u" at DIFFERENT offsets, doc c shares
    // nothing — the MOSS property is (a,b) detected, (·,c) not
    val docs = Seq(
      (1L, "p q r s t u x1 x2 x3"),
      (2L, "y1 y2 p q r s t u"),
      (3L, "a b c d e f g h i")).toDF("doc_id", "text")
    val pairs = graft.dedup.DedupOps
      .winnowSharedPairs(docs, "doc_id", "text", k = 3, w = 4,
        minShared = 1, maxDf = 50)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("winnowing: density is ~2/(w+1) and identical docs coincide") {
    val docs = Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 40).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val fp = graft.dedup.DedupOps
      .winnowedFingerprints(docs, "doc_id", "text", k = 3, w = 4)
    val byDoc = fp.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(byDoc(1L) === byDoc(2L))
    // 38 k-grams, 35 full windows → distinct minima well under 35 but ≥ ~7
    assert(byDoc(1L) >= 7L && byDoc(1L) <= 20L)
    assert(fp.select("fp").distinct().count() === byDoc(1L))
  }

  test("winnowing: a maxDf below a fingerprint's df loses exactly the pairs it alone linked") {
    // passage P sits in docs 1-4 (its fingerprints have df 4), passage Q
    // in docs 4 and 5 (df 2); every other token is unique to its doc
    val p = (1 to 10).map(i => s"p$i").mkString(" ")
    val q = (1 to 10).map(i => s"q$i").mkString(" ")
    def own(d: Int) = (1 to 5).map(i => s"d${d}x$i").mkString(" ")
    val docs = Seq(
      (1L, s"${own(1)} $p"), (2L, s"$p ${own(2)}"), (3L, s"${own(3)} $p ${own(3)}"),
      (4L, s"$p ${own(4)} $q"), (5L, s"$q ${own(5)}")).toDF("doc_id", "text")
    def pairs(maxDf: Long) = graft.dedup.DedupOps
      .winnowSharedPairs(docs, "doc_id", "text", k = 3, w = 4, minShared = 1, maxDf = maxDf)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val fps = graft.dedup.DedupOps.winnowedFingerprints(docs, "doc_id", "text", 3, 4)
      .as[(Long, String)].collect()
    val df = fps.groupBy(_._2).map { case (f, rs) => f -> rs.length }
    val byDoc = fps.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet }
    def shared(p: (Long, Long)) = byDoc(p._1) & byDoc(p._2)
    // plain-Scala reference: per pair, the shared fingerprints under the cap
    def want(maxDf: Long) = (for {
      a <- 1L to 5L; b <- a + 1 to 5L
      n = shared((a, b)).count(df(_) <= maxDf) if n > 0
    } yield (a, b) -> n.toLong).toMap
    assert(df.values.max === 4)
    val all = pairs(50)
    val capped = pairs(3)
    assert(all === want(50))
    assert(capped === want(3))
    // exactly the pairs whose every shared fingerprint has df 4 are lost;
    // the Q pair survives with its full count
    val lost = all.keySet -- capped.keySet
    assert(lost === all.keySet.filter(p => shared(p).forall(df(_) > 3)))
    assert(lost.contains((1L, 2L)) && lost.contains((1L, 4L)))
    assert(capped((4L, 5L)) === all((4L, 5L)))
  }

  test("semanticDedup: lower id survives, cross-cluster twins untouched") {
    // ids 1,2 are identical vectors in the [1,0] cluster → 2 dropped;
    // id 3 lands in the other cluster so its (identical) direction is
    // never compared cross-cluster — kept by construction
    val corpus = Seq(
      (1L, Array(1.0f, 0.05f)), (2L, Array(1.0f, 0.05f)),
      (3L, Array(0.05f, 1.0f))).toDF("vec_id", "embedding")
    val out = graft.dedup.DedupOps.semanticDedup(
        corpus, "vec_id", "embedding",
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), threshold = 0.99)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 1, 2L -> 0, 3L -> 1))
  }

  test("signTestBH: exact dyadic p and BH step-up flag") {
    // u1: 10 points strictly increasing → m=9, kmin=0, p = 2·C(9,0)/2^9
    // = 1/256 = 0.00390625; u2: alternating → pos=neg=4, m=8, p=1 via
    // min(1, ·). BH with q=0.05, M=2: rank-1 gate 0.025 → u1 flagged,
    // u2 (rank 2, gate 0.05) not
    val u1 = (1L to 10L).map(d => ("u1", d, d))
    val u2 = (1L to 9L).map(d => ("u2", d, if (d % 2 == 0) 10L else 1L))
    val out = AssociationOps.signTestBH(
        (u1 ++ u2).toDF("k", "o", "v"), "k", col("o"), col("v"), q = 0.05)
      .select("k", "p", "flagged").as[(String, Double, Int)]
      .collect().map { case (k, p, f) => k -> (p, f) }.toMap
    val (p1, f1) = out("u1")
    assert(math.abs(p1 - 0.003906) < 1e-9 && f1 === 1)
    val (p2, f2) = out("u2")
    assert(p2 === 1.0 && f2 === 0)
  }

  test("friedman: perfectly consistent rankings hit the b(k-1) maximum") {
    // 3 blocks ranking 3 treatments identically (A<B<C everywhere):
    // R = (3,6,9), chi2 = 12/(3·3·4)·(9+36+81) − 3·3·4 = 42 − 36 = 6 =
    // b(k−1); incomplete block u4 (2 of 3 treatments) must be dropped
    val rows = for (b <- 1 to 3; (t, v) <- Seq(("A", 1L), ("B", 2L), ("C", 3L)))
      yield (s"u$b", t, v * 10 + b)
    val extra = Seq(("u4", "A", 5L), ("u4", "B", 6L))
    val df = (rows ++ extra).toDF("blk", "trt", "v")
    val r = RegressionOps.friedman(df, col("blk"), col("trt"), col("v"))
      .head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 6.0)
  }

  test("friedman: all-tied blocks yield null chi2") {
    val df = (for (b <- 1 to 2; t <- Seq("A", "B")) yield (s"u$b", t, 7L))
      .toDF("blk", "trt", "v")
    val r = RegressionOps.friedman(df, col("blk"), col("trt"), col("v"))
      .head()
    assert(r.isNullAt(2))
  }

  test("labelPropagation: disjoint triangles converge to min-id labels") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val rows = GraphOps.labelPropagation(edges, "src", "dst", rounds = 4)
      .collect()
    val out = rows.map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // triangles reach their fixpoint well inside 4 rounds
    assert(rows.forall(_.getAs[Boolean]("converged")))
  }

  test("labelPropagation: converged=false when rounds stop short") {
    // a 5-path needs more than one round for labels to stabilize
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val r1 = GraphOps.labelPropagation(edges, "src", "dst", rounds = 1)
      .collect()
    assert(r1.forall(!_.getAs[Boolean]("converged")))
  }

  test("queryLikelihoodTopK: hand-computed Dirichlet scores and order") {
    // corpus: d1="a a b", d2="b c c"; terms {a,b}, mu=3; |C|=6,
    // cf(a)=cf(b)=2 → P(t|C)=1/3. d1: ln((2+1)/6)+ln((1+1)/6) =
    // ln(.5)+ln(1/3) = −1.791759; d2: ln(1/6)+ln(1/3) = −2.890372
    val docs = Seq((1L, "a a b"), (2L, "b c c")).toDF("doc_id", "text")
    val out = RetrievalOps.queryLikelihoodTopK(docs, "doc_id", "text",
        terms = Seq("a", "b"), k = 10, mu = 3.0)
      .as[(Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(1L, 2L))
    assert(math.abs(out(0)._2 - (-1.791759)) < 1e-6)
    assert(math.abs(out(1)._2 - (-2.890372)) < 1e-6)
  }

  test("groupAdvantage: exact mean-centering, z, and degenerate groups") {
    // g1 rewards (1,2,3): advantages (−1,0,1), z = ±3/√6 = ±1.224745;
    // g2 singleton: advantage 0, null z; g3 constant: advantage 0, null z
    val df = Seq(("g1", 1L, 1L), ("g1", 2L, 2L), ("g1", 3L, 3L),
      ("g2", 4L, 9L), ("g3", 5L, 4L), ("g3", 6L, 4L))
      .toDF("grp", "id", "r")
    val out = FoldOps.groupAdvantage(df, "grp", "id", col("r"))
      .select("id", "advantage", "z")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(out(1L) === (-1.0, Some(-1.224745)))
    assert(out(2L) === (0.0, Some(0.0)))
    assert(out(3L) === (1.0, Some(1.224745)))
    assert(out(4L) === (0.0, None))
    assert(out(5L) === (0.0, None))
    assert(out(6L) === (0.0, None))
  }

  test("holtSmooth: integer-micro fold, hand-traced α=β=½ recursion") {
    // ys = [4,1,1,3]: l0=4, b0=-3; y=1 → l=1, b=-3; y=3 → vL=1e6 →
    // ⌊(2e6+2)/4⌋ = 500000 (half-up toward +∞), vB=-3.5e6 → -1750000
    val df = Seq(("u", 1L, 4L), ("u", 2L, 1L), ("u", 3L, 1L),
      ("u", 4L, 3L)).toDF("k", "o", "v")
    val r = TimeSeriesOps.holtSmooth(df, "k", col("o"), col("v")).head()
    assert(r.getLong(1) === 4L)
    assert(r.getDouble(2) === 0.5 && r.getDouble(3) === -1.75)
    assert(r.getDouble(4) === -1.25)
  }

  test("holtSmooth: two-point series returns the init state unchanged") {
    val df = Seq(("u", 1L, 5L), ("u", 2L, 9L)).toDF("k", "o", "v")
    val r = TimeSeriesOps.holtSmooth(df, "k", col("o"), col("v")).head()
    assert(r.getDouble(2) === 5.0 && r.getDouble(3) === 4.0)
    assert(r.getDouble(4) === 9.0)
  }

  test("neighborJaccard: structurally equivalent square corners score 1") {
    // cycle 1-2-3-4: Γ(1) = Γ(3) = {2,4}, Γ(2) = Γ(4) = {1,3} →
    // (1,3) and (2,4) share BOTH neighbors: jaccard 2/(2+2−2) = 1.0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .toDF("src", "dst")
    val out = GraphOps.neighborJaccard(edges, "src", "dst",
        maxDeg = 10, minCommon = 1L)
      .select("node_a", "node_b", "common", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
  }

  test("runsTest: alternation vs clumping around the exact median") {
    // alternating 1,9,... (n=6): median 5, R=6, n1=n2=3 → µ=4,
    // σ²=18·12/(36·5)=1.2, z=2/√1.2=1.825742; clumped 1,1,1,9,9,9 →
    // R=2 → z=−1.825742; constant series drops entirely (all ties)
    val alt = (1 to 6).map(i => ("alt", i.toLong, if (i % 2 == 0) 9L else 1L))
    val clump = (1 to 6).map(i => ("cl", i.toLong, if (i <= 3) 1L else 9L))
    val const = (1 to 5).map(i => ("k", i.toLong, 7L))
    val out = TimeSeriesOps.runsTest(
        (alt ++ clump ++ const).toDF("k", "o", "v"),
        "k", col("o"), col("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    assert(out.keySet === Set("alt", "cl"))
    assert(out("alt") === ((6L, 1.825742)))
    assert(out("cl") === ((2L, -1.825742)))
  }

  test("rangeSplitPoints: exact type-7 boundaries, integer and fractional") {
    import org.apache.spark.sql.functions.col
    // 1..9, 4 buckets: h = 8i/4 + 1 = 3,5,7 → splits land ON ranks;
    // 1..10: h = 9i/4 + 1 = 3.25, 5.5, 7.75 → interpolated
    val nine = (1 to 9).map(_.toDouble).toDF("x")
    val got9 = RankOps.rangeSplitPoints(nine, col("x"), 4)
      .as[(Int, Double)].collect().toMap
    assert(got9 === Map(1 -> 3.0, 2 -> 5.0, 3 -> 7.0))
    val ten = (1 to 10).map(_.toDouble).toDF("x")
    val got10 = RankOps.rangeSplitPoints(ten, col("x"), 4)
      .as[(Int, Double)].collect().toMap
    assert(got10 === Map(1 -> 3.25, 2 -> 5.5, 3 -> 7.75))
  }

  test("twoProportionZ: hand-computed pooled z and null-cohort exclusion") {
    // A: 1/4 success, B: 3/4 → pp=.5, rad=.25·.5=.125,
    // z = -.5/√.125 = -1.414214; a null-cohort row must not count as B
    val rows = (1 to 4).map(i => (Some(true), i == 1)) ++
      (1 to 4).map(i => (Some(false), i <= 3)) :+ ((None: Option[Boolean]) -> false)
    val df = rows.map { case (a, s) => (a, s) }.toDF("ina", "succ")
    val r = AssociationOps.twoProportionZ(df, col("ina"), col("succ"))
      .head()
    assert(r.getLong(0) === 4L && r.getLong(1) === 1L)
    assert(r.getLong(2) === 4L && r.getLong(3) === 3L)
    assert(r.getDouble(6) === -1.414214)
  }
}
