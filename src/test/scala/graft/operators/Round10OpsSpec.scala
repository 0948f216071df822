package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hand-checkable cases for the round-10 additions: duplicated-span pair
  * attribution, lexical richness, and the Gopher repetition rules.
  */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toks(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")
  private def prof(df: org.apache.spark.sql.DataFrame): SpanProfile =
    QualityOps.spanProfile(df, "doc_id", "text")
  private def gramProf(df: org.apache.spark.sql.DataFrame): GramProfile =
    SummaryOps.gramProfile(df, "doc_id", "text")

  // --- dupSpanPairs -------------------------------------------------------

  test("dupSpanPairs attributes a planted shared span to the right pair") {
    val span = toks("s", 50)
    val a = (toks("u", 20) ++ span ++ toks("v", 20)).mkString(" ")
    val b = (toks("w", 20) ++ span ++ toks("x", 20)).mkString(" ")
    val c = toks("y", 60).mkString(" ") // shares nothing
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val r = QualityOps.dupSpanPairs(prof(df)).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("doc_a") === 1L)
    assert(r(0).getAs[Long]("doc_b") === 2L)
    assert(r(0).getAs[Long]("max_shared_span") === 50L)
  }

  test("dupSpanPairs: within-doc repetition alone yields no cross-doc pair") {
    val rep = toks("x", 10)
    val df = Seq((1L, (rep ++ rep).mkString(" ")),
      (2L, toks("z", 30).mkString(" "))).toDF("doc_id", "text")
    assert(QualityOps.dupSpanPairs(prof(df)).count() === 0L)
  }

  // --- lexicalRichness ----------------------------------------------------

  test("lexicalRichness: hand-checked spectrum (a a b c)") {
    val df = Seq((1L, "a a b c")).toDF("doc_id", "text")
    val r = QualityOps.lexicalRichness(df, "doc_id", "text").head()
    assert(r.getAs[Long]("n_tokens") === 4L)
    assert(r.getAs[Long]("n_types") === 3L)
    assert(r.getAs[Long]("hapax") === 2L)
    assert(r.getAs[Double]("ttr") === 0.75)
    assert(r.getAs[Double]("hapax_ratio") === 0.666667)
    // K = 1e4 * (Σ m²V − N) / N² = 1e4 * ((4·1 + 1·2) − 4) / 16 = 1250
    assert(r.getAs[Double]("yules_k") === 1250.0)
  }

  test("lexicalRichness: all-distinct doc has K = 0 and TTR = 1") {
    val df = Seq((1L, toks("w", 20).mkString(" "))).toDF("doc_id", "text")
    val r = QualityOps.lexicalRichness(df, "doc_id", "text").head()
    assert(r.getAs[Double]("yules_k") === 0.0)
    assert(r.getAs[Double]("ttr") === 1.0)
    assert(r.getAs[Double]("hapax_ratio") === 1.0)
  }

  // --- gopherRepetition ---------------------------------------------------

  test("gopherRepetition flags a looping doc and passes a diverse one") {
    val spam = Seq.fill(30)("spam ham").mkString(" ") // 60 tokens, 2 types
    val clean = toks("word", 60).mkString(" ")
    val df = Seq((1L, spam), (2L, clean)).toDF("doc_id", "text")
    val r = QualityOps.gopherRepetition(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    // spam: top bigram "spam ham" occurs 30x, chars = 30·(4+3) = 210,
    // frac = 30·7/210 = 1.0; every 5-gram repeats → full coverage
    assert(r(0).getAs[String]("top_bigram") === "spam ham")
    assert(r(0).getAs[Double]("top_bigram_frac") === 1.0)
    assert(r(0).getAs[Double]("dup5_coverage") === 1.0)
    assert(r(0).getAs[Int]("keep") === 0)
    // clean: every bigram unique → tiny top fraction, zero dup coverage
    assert(r(1).getAs[Double]("dup5_coverage") === 0.0)
    assert(r(1).getAs[Double]("top_bigram_frac") < 0.05)
    assert(r(1).getAs[Int]("keep") === 1)
  }

  // --- knBigramLogProb ----------------------------------------------------

  test("knBigramLogProb: hand-checked interpolated KN on a tiny corpus") {
    // bigrams of "a b a b a c": ab x2, ba x2, ac x1
    // ctx a: cv=3 n1v=2; ctx b: cv=2 n1v=1; cont b/a/c: n1w=1 each; nbb=3
    val df = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val r = SummaryOps.knBigramLogProb(gramProf(df)).head()
    assert(r.getAs[Long]("n_bigrams") === 5L)
    val pAB = (2 - 0.75 + 0.75 * 2 * (1.0 / 3)) / 3
    val pBA = (2 - 0.75 + 0.75 * 1 * (1.0 / 3)) / 2
    val pAC = (math.max(1 - 0.75, 0.0) + 0.75 * 2 * (1.0 / 3)) / 3
    val expected =
      (2 * math.log(pAB) + 2 * math.log(pBA) + math.log(pAC)) / 5
    assert(math.abs(r.getAs[Double]("avg_logprob_kn") - expected) < 1e-5)
  }

  test("knBigramLogProb: a deterministic single-continuation corpus scores 0") {
    // one bigram "x y": P(y|x) = (1−D)/1 + (D·1/1)·(1/1) = 1 → ln = 0
    val df = Seq((1L, "x y")).toDF("doc_id", "text")
    val r = SummaryOps.knBigramLogProb(gramProf(df)).head()
    assert(r.getAs[Long]("n_bigrams") === 1L)
    assert(r.getAs[Double]("avg_logprob_kn") === 0.0)
  }

  // --- pqTrain ------------------------------------------------------------

  test("pqTrain: trained codebooks beat the seed codebooks on distortion") {
    import graft.ann.Pq
    // 40 vectors in 16 dims, two well-separated blobs per half-space
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1.0 else 9.0
      (i.toLong, Array.tabulate(16)(d => (base + (i * 7 + d) % 3 * 0.1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cb = Pq.pqTrain(df, "vec_id", "embedding",
      m = 2, subDim = 8, k = 2, iters = 3)
    val rows = cb.collect()
    assert(rows.length === 2 * 2 * 8) // m * k * subDim tall rows
    // every vector lands on some codeword and both codewords are used
    val byCw = rows.map(r => (r.getAs[Int]("subspace"),
      r.getAs[Int]("codeword")) -> r.getAs[Long]("n_assigned")).toMap
    assert(byCw.values.sum === 2L * 40) // m assignments per vector
    assert(byCw.values.forall(_ > 0L))
    // trained centroids sit near the blob centers (1.x and 9.x), not the
    // two seed vectors' raw values only
    val cvs = rows.map(_.getAs[Double]("c_v"))
    assert(cvs.exists(v => v > 0.5 && v < 2.0))
    assert(cvs.exists(v => v > 8.5 && v < 10.0))
  }

  // --- fimSplit -----------------------------------------------------------

  test("fimSplit: segments partition the document and cuts stay in range") {
    val df = (0L until 12L).map(i => (i, toks("w", 5 + (i % 7).toInt)
      .mkString(" "))).toDF("doc_id", "text")
    val rows = FoldOps.fimSplit(df, "doc_id", "text").collect()
    assert(rows.length === 12)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val (c1, c2) = (r.getAs[Long]("cut1"), r.getAs[Long]("cut2"))
      assert(c1 >= 1 && c1 <= n - 1, s"cut1 $c1 out of [1, ${n - 1}]")
      assert(c2 >= c1 && c2 <= n, s"cut2 $c2 out of [$c1, $n]")
      // prefix ++ middle ++ suffix reassembles the original token stream
      val re = Seq("prefix", "middle", "suffix")
        .map(r.getAs[String]).filter(_.nonEmpty).mkString(" ")
      val orig = toks("w", n.toInt).mkString(" ")
      assert(re === orig, s"doc ${r.getAs[Long]("doc_id")} lost tokens")
      val fim = r.getAs[String]("fim")
      assert(fim.startsWith("<SUF>") && fim.contains("<PRE>") &&
        fim.contains("<MID>"))
    }
  }

  test("fimSplit: cuts are a pure function of doc_id — stable across runs") {
    val df = (0L until 30L).map(i => (i, toks("t", 9).mkString(" ")))
      .toDF("doc_id", "text")
    val a = FoldOps.fimSplit(df, "doc_id", "text")
      .select("doc_id", "cut1", "cut2").collect().map(_.toSeq).toSet
    val b = FoldOps.fimSplit(df.repartition(7), "doc_id", "text")
      .select("doc_id", "cut1", "cut2").collect().map(_.toSeq).toSet
    assert(a === b)
    // same length → same relative cuts only when ids coincide mod n-1/n:
    // with 30 ids over length 9 both cut positions are actually exercised
    val c1s = a.map(_(1).asInstanceOf[Long]).toSet
    assert(c1s.size > 1, "modular cut never varied")
  }

  test("fimSplit: cut coverage survives gcd-degenerate length classes") {
    // n = 8 → n-1 = 7: the old `pmod(doc_id * 7, n-1)` formula reached only
    // multiples of gcd(7, 7) = 7, pinning cut1 = 1 for EVERY 8-token doc;
    // the md5 mix must spread cuts across the full [1, 7] range instead
    val df = (0L until 40L).map(i => (i, toks("g", 8).mkString(" ")))
      .toDF("doc_id", "text")
    val rows = FoldOps.fimSplit(df, "doc_id", "text")
      .select("cut1", "cut2", "n_tokens").collect()
    val c1s = rows.map(_.getAs[Long]("cut1")).toSet
    assert(c1s.size > 3, s"cut1 degenerate over 8-token docs: $c1s")
    rows.foreach { r =>
      val (c1, c2) = (r.getAs[Long]("cut1"), r.getAs[Long]("cut2"))
      assert(c1 >= 1 && c1 <= 7 && c2 >= c1 && c2 <= 8)
    }
  }

  test("fimSplit: single-token and empty-ish docs degrade without error") {
    val df = Seq((4L, "only"), (6L, "a b")).toDF("doc_id", "text")
    val rows = FoldOps.fimSplit(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val one = rows(4L)
    assert(one.getAs[Long]("n_tokens") === 1L)
    assert(one.getAs[Long]("cut1") === 0L)
    assert(one.getAs[String]("prefix") === "")
    val two = rows(6L)
    assert(two.getAs[Long]("cut1") === 1L) // only legal interior cut
  }

  // --- simplifiedSilhouette -----------------------------------------------

  test("simplifiedSilhouette: two well-separated clusters, hand distances") {
    val df = Seq(
      (1L, "A", Array(0f, 0f)), (2L, "A", Array(2f, 0f)),
      (3L, "B", Array(10f, 0f)), (4L, "B", Array(12f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val r = graft.ann.Knn.simplifiedSilhouette(df, "vec_id", "embedding", "label")
      .collect().map(x => x.getAs[String]("label") -> x).toMap
    // centroids (1,0) and (11,0); s = (10/11 + 8/9)/2 per cluster
    assert(r("A").getAs[Long]("n") === 2L)
    assert(r("A").getAs[Double]("mean_silhouette") === 0.89899)
    assert(r("B").getAs[Double]("mean_silhouette") === 0.89899)
  }

  test("simplifiedSilhouette: single cluster scores 0 by convention") {
    val df = Seq((1L, "A", Array(0f, 0f)), (2L, "A", Array(4f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val r = graft.ann.Knn.simplifiedSilhouette(df, "vec_id", "embedding", "label")
      .head()
    assert(r.getAs[Double]("mean_silhouette") === 0.0)
  }

  test("simplifiedSilhouette: interleaved clusters score near zero or worse") {
    val df = Seq(
      (1L, "A", Array(0f, 0f)), (2L, "A", Array(10f, 0f)),
      (3L, "B", Array(1f, 0f)), (4L, "B", Array(11f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val rows = graft.ann.Knn.simplifiedSilhouette(df, "vec_id", "embedding", "label")
      .collect()
    rows.foreach(x => assert(x.getAs[Double]("mean_silhouette") <= 0.0))
  }

  test("silhouette/distortion: ragged rows are excluded, not scored as 0") {
    // vec 5 is 1-dim in a 2-dim corpus: zip_with would null-pad it and
    // silently score it 0 (and drop it from the distortion sum while
    // counting it in n) — the modal-dimension filter must exclude it
    val df = Seq(
      (1L, "A", Array(0f, 0f)), (2L, "A", Array(2f, 0f)),
      (3L, "B", Array(10f, 0f)), (4L, "B", Array(12f, 0f)),
      (5L, "A", Array(7f)))
      .toDF("vec_id", "label", "embedding")
    val s = graft.ann.Knn.simplifiedSilhouette(df, "vec_id", "embedding", "label")
      .collect().map(x => x.getAs[String]("label") -> x).toMap
    assert(s("A").getAs[Long]("n") === 2L, "ragged row leaked into silhouette")
    assert(s("A").getAs[Double]("mean_silhouette") === 0.89899)
    val q = graft.ann.Knn.quantizationDistortion(df, "vec_id", "embedding", "label")
      .collect().map(x => x.getAs[String]("label") -> x).toMap
    assert(q("A").getAs[Long]("n") === 2L, "ragged row leaked into distortion n")
    assert(q("A").getAs[Double]("mean_d2") === 1.0)
  }

  test("silhouette: all-null/empty corpus fails fast, not zero-arg coalesce") {
    val df = Seq((1L, "A", Array.empty[Float]), (2L, "B", Array.empty[Float]))
      .toDF("vec_id", "label", "embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.ann.Knn.simplifiedSilhouette(df, "vec_id", "embedding", "label")
        .collect()
    }
    assert(ex.getMessage.contains("no non-empty embeddings"))
  }

  // --- quantizationDistortion ----------------------------------------------

  test("quantizationDistortion: hand-checked mean/rms/max per cluster") {
    val df = Seq(
      (1L, "A", Array(0f, 0f)), (2L, "A", Array(2f, 0f)),
      (3L, "B", Array(5f, 0f))).toDF("vec_id", "label", "embedding")
    val r = graft.ann.Knn
      .quantizationDistortion(df, "vec_id", "embedding", "label")
      .collect().map(x => x.getAs[String]("label") -> x).toMap
    // A: centroid (1,0), both points at distance 1
    assert(r("A").getAs[Long]("n") === 2L)
    assert(r("A").getAs[Double]("mean_d2") === 1.0)
    assert(r("A").getAs[Double]("rms_dist") === 1.0)
    assert(r("A").getAs[Double]("max_dist") === 1.0)
    // B: singleton sits on its centroid
    assert(r("B").getAs[Double]("max_dist") === 0.0)
  }

  // --- kwic ----------------------------------------------------------------

  test("kwic: windows clip at document edges") {
    val df = Seq(
      (1L, "a b spark c d"),
      (2L, "spark x y z w"),
      (3L, "no hits here")).toDF("doc_id", "text")
    val rows = QualityOps.kwic(df, "doc_id", "text", "spark", 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.size === 2)
    assert(rows(1L).getAs[Long]("pos") === 2L)
    assert(rows(1L).getAs[String]("left_ctx") === "a b")
    assert(rows(1L).getAs[String]("right_ctx") === "c d")
    assert(rows(2L).getAs[String]("left_ctx") === "")
    assert(rows(2L).getAs[String]("right_ctx") === "x y z")
  }

  test("kwic: every occurrence gets its own row") {
    val df = Seq((1L, "spark a spark b spark")).toDF("doc_id", "text")
    val rows = QualityOps.kwic(df, "doc_id", "text", "spark", 2).collect()
    assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq === Seq(0L, 2L, 4L))
    val last = rows.maxBy(_.getAs[Long]("pos"))
    assert(last.getAs[String]("left_ctx") === "spark b")
    assert(last.getAs[String]("right_ctx") === "")
  }

  // --- splitConformal -----------------------------------------------------

  test("splitConformal: hand-checked threshold and coverage") {
    val cal = (1 to 10).map(i => (i.toLong, i.toDouble, true))
    val test = Seq((100L, 5.0, false), (101L, 10.5, false))
    val df = (cal ++ test).toDF("rid", "score", "is_cal")
    val r = MetricsOps.splitConformal(df, col("score"), col("rid"),
      col("is_cal"), alpha = 0.1).head()
    // k = ceil(11 * 0.9) = 10 → tau = 10th smallest = 10.0
    assert(r.getAs[Long]("n_cal") === 10L)
    assert(r.getAs[Long]("k") === 10L)
    assert(r.getAs[Double]("tau") === 10.0)
    assert(r.getAs[Long]("n_covered") === 1L)
    assert(r.getAs[Double]("coverage") === 0.5)
  }

  test("splitConformal: k beyond the calibration set makes the gate vacuous") {
    val df = Seq((1L, 1.0, true), (2L, 2.0, true), (3L, 3.0, true),
      (4L, 99.0, false)).toDF("rid", "score", "is_cal")
    val r = MetricsOps.splitConformal(df, col("score"), col("rid"),
      col("is_cal"), alpha = 0.1).head()
    assert(r.getAs[Long]("k") === 4L) // > n_cal = 3
    assert(r.isNullAt(r.fieldIndex("tau")))
    assert(r.getAs[Double]("coverage") === 1.0)
  }

  test("splitConformal: empty held-out slice emits NO row (oracle parity)") {
    // a global agg would mint one row with null coverage; the GROUP-BY
    // oracle emits zero rows on the same input — the engine must match
    val df = Seq((1L, 1.0, true), (2L, 2.0, true), (3L, 3.0, true))
      .toDF("rid", "score", "is_cal")
    val rows = MetricsOps.splitConformal(df, col("score"), col("rid"),
      col("is_cal"), alpha = 0.1).collect()
    assert(rows.isEmpty)
  }

  // --- groupConformal -----------------------------------------------------

  test("groupConformal: per-group thresholds are independent") {
    // group X: cal 1..10 (tau = 10); group Y: cal 101..110 (tau = 110)
    val calX = (1 to 10).map(i => ("X", i.toLong, i.toDouble, true))
    val calY = (1 to 10).map(i => ("Y", (100 + i).toLong, (100 + i).toDouble, true))
    val testRows = Seq(("X", 900L, 10.0, false), ("X", 901L, 10.5, false),
      ("Y", 902L, 105.0, false))
    val df = (calX ++ calY ++ testRows).toDF("grp", "rid", "score", "is_cal")
    val r = MetricsOps.groupConformal(df, "grp", col("score"), col("rid"),
      col("is_cal"), alpha = 0.1)
      .collect().map(x => x.getAs[String]("grp") -> x).toMap
    assert(r("X").getAs[Double]("tau") === 10.0)
    assert(r("X").getAs[Double]("coverage") === 0.5)
    assert(r("Y").getAs[Double]("tau") === 110.0)
    assert(r("Y").getAs[Double]("coverage") === 1.0)
  }

  test("groupConformal: a group with no test rows drops out") {
    val df = Seq(("X", 1L, 1.0, true), ("X", 2L, 2.0, true),
      ("X", 3L, 1.5, false),
      ("Z", 4L, 9.0, true)).toDF("grp", "rid", "score", "is_cal")
    val grps = MetricsOps.groupConformal(df, "grp", col("score"), col("rid"),
      col("is_cal"), alpha = 0.1).collect().map(_.getAs[String]("grp")).toSet
    assert(grps === Set("X"))
  }

  // --- bradleyTerry -------------------------------------------------------

  test("bradleyTerry: two-item fixed point matches the closed-form MLE") {
    // A beats B 3-1 → BT MLE has p_A/(p_A+p_B) = 3/4; normalized (.75,.25)
    val m = Seq(("A", "B"), ("A", "B"), ("A", "B"), ("B", "A"))
      .toDF("winner", "loser")
    val r = FoldOps.bradleyTerry(m, "winner", "loser", iters = 4)
      .collect().map(x => x.getAs[String]("item") -> x).toMap
    assert(r("A").getAs[Long]("wins") === 3L)
    assert(r("A").getAs[Long]("n_matches") === 4L)
    assert(r("A").getAs[Double]("strength") === 0.75)
    assert(r("B").getAs[Double]("strength") === 0.25)
  }

  test("bradleyTerry: transitive wins order the strengths") {
    val m = Seq(("A", "B"), ("A", "B"), ("B", "C"), ("B", "C"), ("A", "C"))
      .toDF("winner", "loser")
    val r = FoldOps.bradleyTerry(m, "winner", "loser", iters = 4)
      .collect().map(x => x.getAs[String]("item") -> x.getAs[Double]("strength"))
      .toMap
    assert(r("A") > r("B") && r("B") > r("C"))
  }

  test("bradleyTerry: a never-winning item floors at 1e-6, not div-by-zero") {
    val m = Seq(("A", "B"), ("A", "B")).toDF("winner", "loser")
    val r = FoldOps.bradleyTerry(m, "winner", "loser", iters = 4)
      .collect().map(x => x.getAs[String]("item") -> x).toMap
    assert(r("B").getAs[Long]("wins") === 0L)
    assert(r("B").getAs[Double]("strength") === 1e-6)
    assert(r("A").getAs[Double]("strength") === 1.0)
  }

  test("bradleyTerry: all-zero q (only null winners) floors every strength") {
    // the null winner's wins cannot join back to its item, so every q is 0
    // and the normalizing total is 0 — strengths floor instead of 0/0
    val m = Seq((Option.empty[String], "B"), (Option.empty[String], "C"))
      .toDF("winner", "loser")
    val r = FoldOps.bradleyTerry(m, "winner", "loser", iters = 4)
      .collect().map(x => x.getAs[String]("item") -> x.getAs[Double]("strength")).toMap
    assert(r === Map("B" -> 1e-6, "C" -> 1e-6))
  }

  test("bradleyTerry: an unbounded item key fails before any pair reaches the driver") {
    // 1,000,001 matches of distinct consecutive items → 2,000,002 directed
    // pairs, past the 2,000,000 bound: the guard must fire on a count, so
    // no task ships the pair rows back
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) resultBytes.addAndGet(te.taskMetrics.resultSize)
    }
    val m = spark.range(0L, 1000001L).select(col("id").as("winner"), (col("id") + 1).as("loser"))
    val ex = intercept[IllegalArgumentException] {
      TestSpark.observing(l)(FoldOps.bradleyTerry(m, "winner", "loser", iters = 1))
    }
    assert(ex.getMessage.contains("2000002 directed item pairs"))
    assert(resultBytes.get < (4L << 20), s"${resultBytes.get} result bytes")
  }

  // --- rankEval -----------------------------------------------------------

  private def rankedDf(rows: Seq[(Long, Long, Int)]) =
    rows.toDF("query_id", "neighbor_id", "rank")

  test("rankEval: perfect ranking scores mrr = ndcg = 1") {
    val exact = rankedDf(Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)))
    val r = graft.ann.Knn.rankEval(exact, exact).head()
    assert(r.getAs[Long]("k") === 3L)
    assert(r.getAs[Long]("n_hits") === 3L)
    assert(r.getAs[Long]("first_hit_rank") === 1L)
    assert(r.getAs[Double]("mrr") === 1.0)
    assert(r.getAs[Double]("ndcg") === 1.0)
  }

  test("rankEval: swapped pair — hand-checked pico DCG ratio") {
    val exact = rankedDf(Seq((1L, 10L, 1), (1L, 11L, 2)))
    val approx = rankedDf(Seq((1L, 11L, 1), (1L, 10L, 2)))
    val r = graft.ann.Knn.rankEval(exact, approx).head()
    // grades: 10→2, 11→1; DCG = 1/log2(2) + 2/log2(3), IDCG = 2 + 1/log2(3)
    def pico(g: Double, pos: Double) =
      math.round(g / (math.log(pos + 1) / math.log(2.0)) * 1e12)
    val dcg = pico(1, 1) + pico(2, 2)
    val idcg = pico(2, 1) + pico(1, 2)
    val expected = math.round(dcg.toDouble / idcg * 1e6) / 1e6
    assert(r.getAs[Double]("ndcg") === expected)
    assert(r.getAs[Double]("mrr") === 1.0) // rank-1 item IS relevant (grade 1)
    assert(r.getAs[Long]("first_hit_rank") === 1L)
  }

  test("rankEval: miss at the top halves MRR; full miss zeroes everything") {
    val exact = rankedDf(Seq((1L, 10L, 1), (1L, 11L, 2),
      (2L, 20L, 1), (2L, 21L, 2)))
    val approx = rankedDf(Seq(
      (1L, 99L, 1), (1L, 10L, 2), // first hit at rank 2
      (2L, 98L, 1), (2L, 97L, 2))) // no hits at all
    val rows = graft.ann.Knn.rankEval(exact, approx)
      .collect().map(r => r.getAs[Long]("query_id") -> r).toMap
    assert(rows(1L).getAs[Double]("mrr") === 0.5)
    assert(rows(1L).getAs[Long]("n_hits") === 1L)
    assert(rows(2L).getAs[Double]("mrr") === 0.0)
    assert(rows(2L).getAs[Double]("ndcg") === 0.0)
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("first_hit_rank")))
  }

  test("gopherRepetition: single-token doc has no bigram, zero fractions") {
    val df = Seq((1L, "lonely")).toDF("doc_id", "text")
    val r = QualityOps.gopherRepetition(df, "doc_id", "text").head()
    assert(r.isNullAt(r.fieldIndex("top_bigram")))
    assert(r.getAs[Double]("top_bigram_frac") === 0.0)
    assert(r.getAs[Double]("dup5_coverage") === 0.0)
    assert(r.getAs[Int]("keep") === 1)
  }
}
