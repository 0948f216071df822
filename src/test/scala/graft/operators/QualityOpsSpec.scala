package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hand-checkable cases for the corpus-curation quality gates, the new
  * graph measures, the moment/variance tests, and the binary-quantized
  * ANN added in round 9 (continued).
  */
class QualityOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def prof(df: org.apache.spark.sql.DataFrame): GramProfile =
    SummaryOps.gramProfile(df, "doc_id", "text")

  /** DSIR weights with `isTarget` as the marker of every doc. */
  private def dsir(docs: org.apache.spark.sql.DataFrame,
      isTarget: org.apache.spark.sql.Column) =
    QualityOps.dsirWeights(prof(docs),
      docs.select(col("doc_id"), isTarget.as("__tgt")))

  /** The target-trained LM over `train ∪ score`, trained on `train`'s
    * ids and reported for `score`'s.
    */
  private def against(train: org.apache.spark.sql.DataFrame,
      score: org.apache.spark.sql.DataFrame) =
    SummaryOps.bigramLogProbAgainst(prof(train.unionByName(score)),
        train.select("doc_id"))
      .join(score.select("doc_id"), Seq("doc_id"), "left_semi")

  // --- Gopher rules ------------------------------------------------------

  test("gopherRules: flags and composite keep on crafted docs") {
    val good = (("the quick brown fox jumps over and very lazy dog " * 5) +
      "that have with it").trim // > 50 words, all alpha, plenty stopwords
    val short = "the of and"
    val df = Seq((1L, good), (2L, short)).toDF("doc_id", "text")
    val r = QualityOps.gopherRules(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Int]("keep") === 1)
    assert(r(0).getAs[Double]("alpha_frac") === 1.0)
    assert(r(0).getAs[Int]("stop_hits") >= 2)
    // 3 words only: word-count rule fails even though ratios are fine
    assert(r(1).getAs[Int]("n_words") === 3)
    assert(r(1).getAs[Int]("keep") === 0)
  }

  test("gopherRules: symbol ratio and alpha fraction discriminate") {
    val symy = (1 to 60).map(_ => "#").mkString(" ") // all-symbol doc
    val df = Seq((1L, symy)).toDF("doc_id", "text")
    val r = QualityOps.gopherRules(df, "doc_id", "text").head()
    assert(r.getAs[Double]("symbol_frac") === 1.0)
    assert(r.getAs[Double]("alpha_frac") === 0.0)
    assert(r.getAs[Int]("keep") === 0)
  }

  // --- CCNet perplexity terciles -----------------------------------------

  test("perplexityBuckets: rank terciles are ordered by perplexity") {
    // 6 docs, 2 per tercile once ranked by LM perplexity
    val docs = Seq(
      (1L, "a b a b a b a b"), (2L, "a b a b a b b a"),
      (3L, "a b c d a b c d"), (4L, "c d c d a b a b"),
      (5L, "e f g h i j k l"), (6L, "m n o p q r s t"))
      .toDF("doc_id", "text")
    val r = QualityOps.perplexityBuckets(prof(docs))
      .orderBy("ppl").collect()
    assert(r.length === 6)
    assert(r.map(_.getAs[String]("bucket")).toSeq ===
      Seq("head", "head", "middle", "middle", "tail", "tail"))
    // buckets follow the ppl order: heads are the lowest-perplexity docs
    val ppl = r.map(_.getAs[Double]("ppl"))
    assert(ppl.sorted.toSeq === ppl.toSeq)
  }

  // --- DSIR importance weights -------------------------------------------

  test("dsirWeights: target-like docs score positive, off-target negative") {
    val docs = Seq(
      (1L, "x y x y x y", 1), (2L, "x y x y x y", 1), (3L, "x y x y", 1),
      (4L, "p q p q p q", 0), (5L, "p q p q", 0), (6L, "x y p q", 0))
      .toDF("doc_id", "text", "is_en")
    val r = dsir(docs, col("is_en") === 1)
      .collect().map(x => x.getLong(0) -> x.getAs[Double]("dsir_w")).toMap
    assert(r(1) > 0) // built from target-dominant bigrams
    assert(r(4) < 0) // built from raw-only bigrams
    assert(r(1) === r(2)) // same bigram bag → same weight
  }

  test("dsirWeights: docs without bigrams surface with null weight") {
    val docs = Seq((1L, "solo", 1), (2L, "a b", 0)).toDF("doc_id", "text", "t")
    val r = dsir(docs, col("t") === 1)
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) === 0L && r(0).isNullAt(2))
    assert(r(1).getLong(1) === 1L && !r(1).isNullAt(2))
  }

  test("dsirWeights: a null-id doc is unmarked and leaves the other weights alone") {
    val fixture = Seq(
      (Option(1L), "x y x y x y", 1), (Option(2L), "x y x y x y", 1),
      (Option(3L), "x y x y", 1), (Option(4L), "p q p q p q", 0),
      (Option(5L), "p q p q", 0), (Option(6L), "x y p q", 0))
    // a target doc made of off-target bigrams: modeled, it would move
    // every weight
    val withNull = (fixture :+ ((None: Option[Long], "p q p q p q", 1)))
      .toDF("doc_id", "text", "is_en")
    def weights(docs: org.apache.spark.sql.DataFrame) =
      dsir(docs, col("is_en") === 1).collect()
        .map(x => Option(x.get(0)) -> ((x.getLong(1), Option(x.get(2)))))
    val got = weights(withNull).toMap
    assert(got(None) === ((0L, None)))
    assert(got - None === weights(fixture.toDF("doc_id", "text", "is_en")).toMap)
  }

  test("one GramProfile reused across the LM family equals a fresh profile per member") {
    val docs = Seq(
      (1L, "x y x y z", "en"), (2L, "x y z x y", "en"), (3L, "p q x y", "fr"),
      (4L, "p q p q r", "fr"), (5L, "solo", "en"), (6L, "z x y p q", "de"),
      (7L, "r p q p", "de")).toDF("doc_id", "text", "lang")
    val trainIds = docs.filter(col("lang") === "en").select("doc_id")
    val markers = docs.select(col("doc_id"), (col("lang") === "en").as("__tgt"))
    val members: Seq[(String, GramProfile => org.apache.spark.sql.DataFrame)] =
      Seq("bigramLogProb" -> (p => SummaryOps.bigramLogProb(p)),
        "bigramLogProbAgainst" -> (p => SummaryOps.bigramLogProbAgainst(p, trainIds)),
        "knBigramLogProb" -> (p => SummaryOps.knBigramLogProb(p)),
        "perplexityBuckets" -> (p => QualityOps.perplexityBuckets(p)),
        "dsirWeights" -> (p => QualityOps.dsirWeights(p, markers)),
        "dsirBucketRatios" -> (p => QualityOps.dsirBucketRatios(p, markers)))
    val shared = prof(docs)
    val reused = members.map { case (n, m) => n -> m(shared).collect().toSet }
    reused.zip(members).foreach { case ((n, got), (_, m)) =>
      assert(got.nonEmpty, n)
      assert(got === m(prof(docs)).collect().toSet, n)
    }
  }

  // --- ExactSubstr duplicated-span coverage ------------------------------

  test("dupSpanCoverage: shared 5-gram covers both docs' spans exactly") {
    val docs = Seq(
      (1L, "a b c d e f"), // grams at 0 ("a b c d e", dup) and 1 (unique)
      (2L, "a b c d e"), // one gram, dup
      (3L, "z1 z2 z3 z4 z5 z6")) // all unique
      .toDF("doc_id", "text")
    val r = QualityOps.dupSpanCoverage(docs, "doc_id", "text", k = 5)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("covered_tokens") === 5L)
    assert(r(0).getAs[Double]("coverage") === BigDecimal(5.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r(1).getAs[Double]("coverage") === 1.0)
    assert(r(2).getAs[Long]("n_dup_spans") === 0L &&
      r(2).getAs[Double]("coverage") === 0.0)
  }

  test("dupSpanCoverage: overlapping spans union, not sum") {
    // identical 7-token docs: dup starts 0,1,2 with k=5 →
    // union = 1 + 1 + 5 = 7 tokens, NOT 15
    val docs = Seq((1L, "x y z w v u t"), (2L, "x y z w v u t"))
      .toDF("doc_id", "text")
    val r = QualityOps.dupSpanCoverage(docs, "doc_id", "text", k = 5)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_dup_spans") === 3L)
    assert(r(0).getAs[Long]("covered_tokens") === 7L)
    assert(r(0).getAs[Double]("coverage") === 1.0)
  }

  test("dupSpanCoverage: docs shorter than k contribute and cover nothing") {
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val r = QualityOps.dupSpanCoverage(docs, "doc_id", "text", k = 5)
      .collect()
    assert(r.forall(_.getAs[Long]("covered_tokens") === 0L))
  }

  // --- HITS ---------------------------------------------------------------

  test("hits: two hubs pointing at one authority") {
    // a→c, b→c: authority mass all on c, hub mass splits a/b evenly
    val e = Seq(("a", "c", 1L), ("b", "c", 1L)).toDF("s", "t", "w")
    val r = GraphOps.hits(e, "s", "t", "w", iters = 3)
      .collect().map(x => x.getString(0) ->
        (x.getAs[Double]("authority"), x.getAs[Double]("hub"))).toMap
    assert(r("c") === ((1.0, 0.0)))
    assert(r("a") === ((0.0, 0.5)))
    assert(r("b") === ((0.0, 0.5)))
  }

  test("hits: edge weight shifts authority toward the heavier target") {
    val e = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("s", "t", "w")
    val r = GraphOps.hits(e, "s", "t", "w", iters = 2)
      .collect().map(x => x.getString(0) -> x.getAs[Double]("authority")).toMap
    assert(r("b") > r("c"))
    assert(math.abs(r("b") + r("c") + r("a") - 1.0) < 1e-6) // L1 normalized
  }

  // --- local clustering coefficient ---------------------------------------

  test("localClusteringCoeff: triangle plus pendant") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = GraphOps.localClusteringCoeff(e, "src", "dst")
      .collect().map(x => x.getLong(0) ->
        (x.getAs[Long]("degree"), x.getAs[Long]("triangles"),
          x.getAs[Double]("clustering_coeff"))).toMap
    assert(r(1L) === ((2L, 1L, 1.0)))
    assert(r(2L) === ((2L, 1L, 1.0)))
    assert(r(3L) === ((3L, 1L, BigDecimal(1.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(r(4L) === ((1L, 0L, 0.0)))
  }

  // --- Jarque–Bera ---------------------------------------------------------

  test("jarqueBera: symmetric three-point mass") {
    // {1,2,3}: skew 0, m2 = 2/3, m4 = 2/3 → kurt = 1.5, excess −1.5,
    // JB = 3/6 · (0 + 2.25/4) = 0.28125
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L)).toDF("g", "v")
    val r = AssociationOps.jarqueBera(df, col("g"), col("v")).head()
    assert(r.getAs[Double]("skewness") === 0.0)
    assert(r.getAs[Double]("ex_kurtosis") === -1.5)
    assert(r.getAs[Double]("jb") === 0.28125)
  }

  test("jarqueBera: zero-variance group yields nulls") {
    val df = Seq(("g", 5L), ("g", 5L)).toDF("g", "v")
    val r = AssociationOps.jarqueBera(df, col("g"), col("v")).head()
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  // --- Brown–Forsythe ------------------------------------------------------

  test("brownForsythe: identical spreads give F = 0") {
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L),
      ("b", 11L), ("b", 12L), ("b", 13L)).toDF("g", "v")
    val r = AssociationOps.brownForsythe(df, col("g"), col("v")).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 6L)
    assert(r.getAs[Double]("f_stat") === 0.0)
  }

  test("brownForsythe: wider group drives F above zero; zero SSW nulls") {
    val spready = Seq(("a", 0L), ("a", 10L), ("a", 20L),
      ("b", 10L), ("b", 11L), ("b", 12L)).toDF("g", "v")
    val f = AssociationOps.brownForsythe(spready, col("g"), col("v"))
      .head().getAs[Double]("f_stat")
    assert(f > 1.0)
    // both groups' |x − med| constant → SSW = 0 → guarded null
    val degen = Seq(("a", 0L), ("a", 10L), ("b", 5L), ("b", 15L))
      .toDF("g", "v")
    assert(AssociationOps.brownForsythe(degen, col("g"), col("v"))
      .head().isNullAt(2))
  }

  // --- binary-quantized ANN ------------------------------------------------

  test("hammingTopK: with an uncut shortlist it matches brute force") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 4)
    val brute = graft.ann.Knn.bruteForceTopK(emb, q, "vec_id", "embedding",
        k = 5)
      .select("query_id", "neighbor_id", "sim", "rank")
    val viaHam = graft.ann.Knn.hammingTopK(emb, q, "vec_id", "embedding",
        cand = 10000, k = 5)
      .select("query_id", "neighbor_id", "sim", "rank")
    assert(viaHam.exceptAll(brute).isEmpty && brute.exceptAll(viaHam).isEmpty)
  }

  test("hammingTopK: identical sign patterns land hamming 0 first") {
    val vecs = Seq(
      (0L, Array.fill(64)(1.0f)),
      (1L, Array.fill(64)(0.5f)), // same signs as 0 → hamming 0
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.ann.Knn.hammingTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", cand = 1, k = 1).head()
    assert(r.getAs[Long]("neighbor_id") === 1L)
    assert(r.getAs[Int]("hamming") === 0)
  }

  // --- PCM zero-crossing rate ----------------------------------------------

  test("pcmFrameZcr: alternating signal crosses its mean at every step") {
    // samples 0,100,0,100 (LE int16): mean 50 → signs −,+,−,+ → 3 crossings
    val bytes = Array[Byte](0, 0, 100, 0, 0, 0, 100, 0)
    val df = Seq((1L, bytes)).toDF("doc_id", "payload")
    val r = graft.multimodal.BinaryOps
      .pcmFrameZcr(spark, df, "doc_id", "payload", frameLen = 256).head()
    assert(r.n_samples === 4 && r.crossings === 3L)
    assert(r.zcr === Some(1.0))
  }

  test("pcmFrameZcr: constant signal never crosses; 1-sample tail is null") {
    val const = Array[Byte](10, 0, 10, 0, 10, 0)
    val df = Seq((1L, const)).toDF("doc_id", "payload")
    val r = graft.multimodal.BinaryOps
      .pcmFrameZcr(spark, df, "doc_id", "payload", frameLen = 256).head()
    assert(r.crossings === 0L && r.zcr === Some(0.0))
    val single = Seq((2L, Array[Byte](10, 0)))
      .toDF("doc_id", "payload")
    val r1 = graft.multimodal.BinaryOps
      .pcmFrameZcr(spark, single, "doc_id", "payload", frameLen = 256).head()
    assert(r1.n_samples === 1 && r1.zcr === None)
  }

  // --- Hosmer–Lemeshow ------------------------------------------------------

  test("hosmerLemeshow: perfectly calibrated bins give chi2 = 0") {
    import org.apache.spark.sql.functions._
    // bin 0.25: 4 rows, 1 positive (O = E = 1); bin 0.75: 4 rows, 3 pos
    val df = (Seq.fill(3)((0.25, 0)) ++ Seq((0.25, 1)) ++
      Seq.fill(3)((0.75, 1)) ++ Seq((0.75, 0))).toDF("p", "y")
    val r = MetricsOps.hosmerLemeshow(df, col("p"), col("y"), bins = 2)
      .head()
    assert(r.getAs[Long]("n_bins") === 2L && r.getAs[Long]("n") === 8L)
    assert(r.getAs[Double]("hl_chi2") === 0.0)
    assert(r.getAs[Long]("df") === 0L)
  }

  test("hosmerLemeshow: miscalibration grows chi2; degenerate bins drop") {
    import org.apache.spark.sql.functions._
    // upper bin (p = 0.5) has ALL positives: O = 4, E = 2 ->
    // term = 4/(2*(1-2/4)) = 4; lower bin (p = 0): E = 0, excluded
    val df = (Seq.fill(4)((0.5, 1)) ++
      Seq.fill(2)((0.0, 0))).toDF("p", "y")
    val r = MetricsOps.hosmerLemeshow(df, col("p"), col("y"), bins = 2)
      .head()
    assert(r.getAs[Long]("n_bins") === 1L)
    assert(r.getAs[Double]("hl_chi2") === 4.0)
  }

  // --- l-diversity -----------------------------------------------------------

  test("lDiversityProfile: distinct l, entropy, and dominance per QI group") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("qa", "s1"), ("qa", "s1"), ("qa", "s2"), ("qa", "s3"), // diverse
      ("qb", "s1"), ("qb", "s1"), ("qb", "s1")) // degenerate: l = 1
      .toDF("qi", "sv")
    val r = PrivacyOps.lDiversityProfile(df, Seq("qi"), col("sv"))
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r("qa").getAs[Long]("l_distinct") === 3L)
    assert(r("qb").getAs[Long]("l_distinct") === 1L)
    assert(r("qb").getAs[Double]("entropy") === 0.0)
    assert(r("qb").getAs[Double]("max_share") === 1.0)
    // H(1/2, 1/4, 1/4) = ln4 - (2 ln2)/4 - ... = 1.5 ln 2
    val want = BigDecimal(1.5 * math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r("qa").getAs[Double]("entropy") === want)
    assert(r("qa").getAs[Double]("max_share") === 0.5)
  }

  // --- reciprocity -----------------------------------------------------------

  test("reciprocity: mutual pair counts once each way, loops ignored") {
    import org.apache.spark.sql.functions._
    val e = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "c"))
      .toDF("s", "t")
    val r = GraphOps.reciprocity(e, "s", "t").head()
    assert(r.getAs[Long]("m") === 3L) // loop dropped
    assert(r.getAs[Long]("reciprocal") === 2L) // a->b and b->a
    val want = BigDecimal(2.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("reciprocity") === want)
  }

  // --- embedding mean drift ---------------------------------------------------

  test("embeddingMeanDrift: per-lane means of each slice, exact deltas") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (0L, Array(1.0f, -2.0f)), (2L, Array(3.0f, -2.0f)), // slice A: means 2, -2
      (1L, Array(5.0f, 7.0f)), (3L, Array(7.0f, 9.0f))) // slice B: means 6, 8
      .toDF("vec_id", "embedding")
    val r = RegressionOps.embeddingMeanDrift(df, "embedding",
        col("vec_id") % 2 === 1)
      .collect().map(x => x.getInt(0) -> x).toMap
    assert(r(0).getAs[Double]("mean_a") === 2.0 &&
      r(0).getAs[Double]("mean_b") === 6.0 &&
      r(0).getAs[Double]("drift") === 4.0)
    assert(r(1).getAs[Double]("mean_a") === -2.0 &&
      r(1).getAs[Double]("mean_b") === 8.0 &&
      r(1).getAs[Double]("drift") === 10.0)
  }

  // --- MASE backtest ----------------------------------------------------------

  test("maseBacktest: exact weekly pattern scores mase 0; constant nulls") {
    import org.apache.spark.sql.functions._
    // 21 days of a strict period-7 pattern: seasonal errors all 0,
    // persistence errors mostly > 0 -> mase = 0
    val weekly = (0 until 21).map(i => ("u", i.toLong, ((i % 7) + 1).toLong))
      .toDF("k", "o", "v")
    val r = TimeSeriesOps.maseBacktest(weekly, "k", col("o"), col("v"),
      season = 7).head()
    assert(r.getAs[Double]("mae_seasonal") === 0.0)
    assert(r.getAs[Double]("mase") === 0.0)
    assert(r.getAs[Double]("mae_naive") > 0.0)
    // constant series: naive MAE 0 -> ratio guarded to null
    val const = (0 until 10).map(i => ("u", i.toLong, 5L)).toDF("k", "o", "v")
    val rc = TimeSeriesOps.maseBacktest(const, "k", col("o"), col("v"),
      season = 7).head()
    assert(rc.getAs[Double]("mae_naive") === 0.0 && rc.isNullAt(4))
  }

  test("maseBacktest: alternating series, hand-computed MAEs") {
    import org.apache.spark.sql.functions._
    // 0,10,0,10,... over 10 steps: |v - lag1| = 10 always (9 terms);
    // |v - lag7| = 10 always (3 terms, lag7 flips parity) -> mase = 1
    val alt = (0 until 10).map(i => ("u", i.toLong, (i % 2) * 10L))
      .toDF("k", "o", "v")
    val r = TimeSeriesOps.maseBacktest(alt, "k", col("o"), col("v"),
      season = 7).head()
    assert(r.getAs[Double]("mae_naive") === 10.0)
    assert(r.getAs[Double]("mae_seasonal") === 10.0)
    assert(r.getAs[Double]("mase") === 1.0)
  }

  // --- DSIR invariant ----------------------------------------------------------

  test("dsirWeights: target == corpus collapses every weight to zero") {
    import org.apache.spark.sql.functions._
    // p and q are the SAME smoothed distribution when every doc is
    // target, so ln(p/q) = 0 in every bucket regardless of content
    val docs = Seq((1L, "a b c a b"), (2L, "x y z"), (3L, "q w e r t"))
      .toDF("doc_id", "text")
    val r = dsir(docs, lit(true)).collect()
    assert(r.forall(x => x.isNullAt(2) || x.getAs[Double]("dsir_w") === 0.0))
    assert(r.exists(x => !x.isNullAt(2)))
  }

  // --- TextRank / int8 recall ---------------------------------------------------

  test("textrank shape: the shared hub token outranks the leaves") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    val docs = Seq((1L, "hub x"), (2L, "hub y"), (3L, "hub z"), (4L, "x y"))
      .toDF("doc_id", "text")
    val pairs = docs
      .select(explode(TextFns.rawShingles(TextFns.tokens(col("text")), 2))
        .as("__bg"))
      .select(substring_index(col("__bg"), " ", 1).as("a"),
        substring_index(col("__bg"), " ", -1).as("b"))
      .filter(col("a") =!= col("b"))
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    val r = GraphOps.pageRank(edges, "src", "dst", "cnt",
        iters = 3, damping = 0.85)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("hub") > r("x") && r("hub") > (r("y") + 1e-9) && r("hub") > r("z"))
  }

  test("int8 round trip is lossless on grid-aligned vectors") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns
    // components already on the 255-step [lo, hi] grid -> dequantized
    // vectors equal the originals, so approx top-k == exact top-k
    val vecs = Seq(
      (0L, Array(0.0f, 1.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f, 1.0f)), (3L, Array(1.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val deq = vecs
      .select(col("vec_id"), VectorFns.toDoubleArr(col("embedding")).as("__v"))
      .withColumn("__lo", array_min(col("__v")))
      .withColumn("__scale", (array_max(col("__v")) - col("__lo")) / 255.0)
      .select(col("vec_id"),
        transform(VectorFns.int8Quantize(col("__v"), col("__lo"),
            array_max(col("__v"))),
          q => col("__lo") + (q + 128).cast("double") * col("__scale"))
          .as("embedding"))
    val exact = graft.ann.Knn.bruteForceTopK(vecs,
      vecs.filter(col("vec_id") < 2), "vec_id", "embedding", k = 2)
    val approx = graft.ann.Knn.bruteForceTopK(deq,
      deq.filter(col("vec_id") < 2), "vec_id", "embedding", k = 2)
    val rec = graft.ann.Knn.recallAtK(exact, approx).collect()
    assert(rec.length === 2 && rec.forall(_.getAs[Double]("recall") === 1.0))
  }

  // --- char-n-gram language ID ----------------------------------------------

  test("charNgramLangId: self-trained models recover clean labels") {
    import org.apache.spark.sql.functions._
    // two sharply different char distributions, 3 docs each
    val docs = Seq(
      (1L, "aaa bbb aaa bbb aaa", "aa"), (2L, "aab baa abb aba bab", "aa"),
      (3L, "bbb aaa bba abb aab", "aa"),
      (4L, "xxx yyy xxx yyy xxx", "xx"), (5L, "xxy yxx xyy xyx yxy", "xx"),
      (6L, "yyy xxx yyx xyy xxy", "xx"))
      .toDF("doc_id", "text", "lang")
    val r = QualityOps.charNgramLangId(docs, "doc_id", "text", "lang")
      .collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    assert(r(("aa", "aa")) === 3L && r(("xx", "xx")) === 3L)
    assert(!r.contains(("aa", "xx")) && !r.contains(("xx", "aa")))
  }

  // --- deterministic epoch shuffle --------------------------------------------

  test("ml26 epoch shuffle: per-epoch bijection, epochs differ") {
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("ml26_epoch_shuffle")(
      spark, "/root/testdata/sf0.001").collect()
    val byEpoch = out.groupBy(_.getInt(0))
    assert(byEpoch.keySet === Set(0, 1))
    val n = byEpoch(0).length
    byEpoch.values.foreach { rows =>
      assert(rows.map(_.getLong(2)).sorted.toSeq === (1L to n).toSeq)
    }
    // the two permutations are genuinely different orders
    def order(e: Int) = byEpoch(e).sortBy(_.getLong(2)).map(_.getLong(1)).toSeq
    assert(order(0) !== order(1))
  }

  // --- domain-LM delta -----------------------------------------------------------

  test("bigramLogProbAgainst: unseen grams hit the add-1 floor ln(1/V)") {
    import org.apache.spark.sql.functions._
    val train = Seq((1L, "a b")).toDF("doc_id", "text") // V = 2 unigrams
    val score = Seq((9L, "z w")).toDF("doc_id", "text") // fully unseen
    val r = against(train, score).head()
    val want = BigDecimal(math.log(1.0 / 2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(1) === 1L)
    assert(r.getAs[Double]("avg_logprob") === want)
  }

  test("bigramLogProbAgainst: in-domain text outscores out-of-domain") {
    import org.apache.spark.sql.functions._
    val train = Seq((1L, "x y x y x y"), (2L, "x y x y")).toDF("doc_id", "text")
    val score = Seq((10L, "x y x y"), (11L, "p q p q")).toDF("doc_id", "text")
    val r = against(train, score)
      .collect().map(x => x.getLong(0) -> x.getAs[Double]("avg_logprob")).toMap
    assert(r(10L) > r(11L))
  }

  // --- 2x2 effect sizes ---------------------------------------------------------

  test("twoByTwoEffects: hand 2x2, OR and RR closed forms") {
    import org.apache.spark.sql.functions._
    // a=20 b=10 c=5 d=15: OR = 20*15/(10*5) = 6, RR = (2/3)/(1/4) = 8/3
    val rows = Seq.fill(20)((1, 1)) ++ Seq.fill(10)((1, 0)) ++
      Seq.fill(5)((0, 1)) ++ Seq.fill(15)((0, 0))
    val df = rows.toDF("e", "y")
    val r = AssociationOps.twoByTwoEffects(df, col("e"), col("y")).head()
    assert(r.getAs[Double]("odds_ratio") === 6.0)
    assert(r.getAs[Double]("risk_ratio") === BigDecimal(8.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getAs[Double]("or_lo") < 6.0 && r.getAs[Double]("or_hi") > 6.0)
  }

  test("twoByTwoEffects: a zero cell nulls the effects, cells stay exact") {
    import org.apache.spark.sql.functions._
    val df = (Seq.fill(5)((1, 1)) ++ Seq.fill(5)((0, 0))).toDF("e", "y")
    val r = AssociationOps.twoByTwoEffects(df, col("e"), col("y")).head()
    assert(r.getLong(0) === 5L && r.getLong(3) === 5L)
    assert(r.isNullAt(4) && r.isNullAt(7))
  }
}
