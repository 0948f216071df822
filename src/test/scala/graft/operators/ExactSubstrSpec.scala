package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** True ExactSubstr (d22): arbitrary-length duplicated spans must be
  * reported at their ACTUAL length — the property the fixed-k shingle
  * approximation (d21) cannot express.
  */
class ExactSubstrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def doc(pieces: Seq[String]*): String =
    pieces.flatten.mkString(" ")
  private def toks(prefix: String, n: Int): Seq[String] =
    (1 to n).map(i => s"$prefix$i")
  private def prof(df: org.apache.spark.sql.DataFrame): SpanProfile =
    QualityOps.spanProfile(df, "doc_id", "text")

  test("a planted 50-token verbatim duplicate is reported as one ~50 span") {
    val span = toks("s", 50)
    val a = doc(toks("u", 20), span, toks("v", 20)) // 90 tokens
    val b = doc(toks("w", 20), span, toks("x", 20))
    val c = doc(toks("y", 40)) // no duplication anywhere
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val r = QualityOps.exactSubstrSpans(prof(df))
      .orderBy("doc_id").collect()
    assert(r.length === 3)
    for (i <- 0 to 1) {
      assert(r(i).getAs[Long]("n_spans") === 1L)
      assert(r(i).getAs[Long]("max_span") === 50L)
      assert(r(i).getAs[Long]("covered_tokens") === 50L)
    }
    assert(r(0).getAs[Double]("coverage") === math.rint(50.0 / 90 * 1e6) / 1e6)
    assert(r(2).getAs[Long]("n_spans") === 0L)
    assert(r(2).getAs[Long]("max_span") === 0L)
  }

  test("interval union recovers spans LONGER than the suffix cap") {
    // 80-token shared span with the default 64-token suffix cap: each
    // position's LCP clips at 64, but the per-doc island union still
    // reconstructs the full 80-token extent
    val span = toks("s", 80)
    val a = doc(toks("u", 10), span, toks("v", 10))
    val b = doc(toks("w", 10), span, toks("x", 10))
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val r = QualityOps.exactSubstrSpans(prof(df))
      .orderBy("doc_id").collect()
    assert(r.map(_.getAs[Long]("max_span")).toSeq === Seq(80L, 80L))
    assert(r.map(_.getAs[Long]("n_spans")).toSeq === Seq(1L, 1L))
  }

  test("within-doc repetition counts as duplication (full self-coverage)") {
    val rep = toks("x", 10)
    val df = Seq((1L, doc(rep, rep))).toDF("doc_id", "text")
    val r = QualityOps.exactSubstrSpans(prof(df)).head()
    assert(r.getAs[Long]("covered_tokens") === 20L)
    assert(r.getAs[Double]("coverage") === 1.0)
  }

  test("two separate duplicated spans in one doc stay separate islands") {
    val s1 = toks("p", 10)
    val s2 = toks("q", 10)
    // doc 1 carries both spans with a unique 10-token gap between them;
    // docs 2 and 3 each duplicate ONE of the spans
    val a = doc(s1, toks("g", 10), s2)
    val b = doc(toks("m", 5), s1, toks("n", 5))
    val c = doc(toks("r", 5), s2, toks("t", 5))
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val r = QualityOps.exactSubstrSpans(prof(df))
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_spans") === 2L)
    assert(r(0).getAs[Long]("max_span") === 10L)
    assert(r(0).getAs[Long]("covered_tokens") === 20L)
  }

  test("sub-threshold shared grams (< minLen) report nothing") {
    val shared = toks("s", 4) // below SpanProfile.MinLen = 5
    val a = doc(toks("u", 10), shared, toks("v", 10))
    val b = doc(toks("w", 10), shared, toks("x", 10))
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val r = QualityOps.exactSubstrSpans(prof(df)).collect()
    assert(r.forall(_.getAs[Long]("n_spans") === 0L))
  }

  test("scrub removes the planted span from BOTH docs, keeps the rest") {
    val span = toks("s", 50)
    val a = doc(toks("u", 20), span, toks("v", 20)) // 90 tokens
    val b = doc(toks("w", 20), span, toks("x", 20))
    val c = doc(toks("y", 40))
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val r = QualityOps.exactSubstrScrub(prof(df))
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_toks") === 90L)
    assert(r(1L).getAs[Long]("n_kept") === 40L)
    assert(r(1L).getAs[String]("scrubbed") ===
      doc(toks("u", 20), toks("v", 20)))
    assert(r(2L).getAs[String]("scrubbed") ===
      doc(toks("w", 20), toks("x", 20)))
    // the clean doc survives verbatim
    assert(r(3L).getAs[Long]("n_kept") === 40L)
    assert(r(3L).getAs[String]("scrubbed") === c)
  }

  test("a span planted in THREE docs clusters all three mutually (d25)") {
    // rank-adjacency alone reports a spanning set: with the shared span in
    // docs 1, 2, 3, the sorted suffix list puts (1,2) and (2,3) adjacent
    // but (1,3) may never be — the cluster closure must still attribute
    // all three to ONE cluster with the full span length
    val span = toks("s", 20)
    val df = Seq(
      (1L, doc(toks("u", 10), span)),
      (2L, doc(toks("v", 10), span)),
      (3L, doc(toks("w", 10), span)),
      (4L, doc(toks("z", 30)))) // clean doc: absent from the report
      .toDF("doc_id", "text")
    val pairs = QualityOps.dupSpanPairs(prof(df))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.length < 3, s"adjacency already closed? $pairs")
    val rows = QualityOps.dupSpanClusters(prof(df)).collect()
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byDoc.keySet === Set(1L, 2L, 3L))
    Seq(1L, 2L, 3L).foreach { d =>
      assert(byDoc(d).getAs[Long]("cluster_id") === 1L)
      assert(byDoc(d).getAs[Long]("cluster_size") === 3L)
      assert(byDoc(d).getAs[Long]("cluster_max_span") === 20L)
    }
  }

  test("dupSpanClusters: disjoint duplications stay in separate clusters") {
    val sA = toks("a", 8)
    val sB = toks("b", 12)
    val df = Seq(
      (1L, doc(sA, toks("u", 5))), (2L, doc(toks("v", 5), sA)),
      (7L, doc(sB)), (9L, doc(sB, toks("x", 4))))
      .toDF("doc_id", "text")
    val rows = QualityOps.dupSpanClusters(prof(df)).collect()
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
        r.getAs[Long]("cluster_max_span"))).toMap
    assert(byDoc(1L) === ((1L, 2L, 8L)))
    assert(byDoc(2L) === ((1L, 2L, 8L)))
    assert(byDoc(7L) === ((7L, 2L, 12L)))
    assert(byDoc(9L) === ((7L, 2L, 12L)))
  }

  test("keep-one scrub: cluster representative keeps its copy, others lose it") {
    val span = toks("s", 20)
    val df = Seq(
      (3L, doc(toks("u", 10), span)),
      (5L, doc(toks("v", 10), span)),
      (8L, doc(toks("w", 10), span)),
      (9L, doc(toks("z", 30)))) // clean doc: untouched
      .toDF("doc_id", "text")
    val rows = QualityOps.exactSubstrScrubKeepOne(prof(df))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet === Set(3L, 5L, 8L, 9L))
    // representative = min doc id of the cluster keeps everything
    assert(rows(3L).getAs[Boolean]("kept_intact"))
    assert(rows(3L).getAs[Long]("n_kept") === 30L)
    assert(rows(3L).getAs[String]("scrubbed").contains("s1 s2"))
    // the other members lose exactly the 20-token span
    Seq(5L, 8L).foreach { d =>
      assert(!rows(d).getAs[Boolean]("kept_intact"))
      assert(rows(d).getAs[Long]("n_kept") === 10L)
      assert(!rows(d).getAs[String]("scrubbed").contains("s1"))
    }
    assert(rows(9L).getAs[Boolean]("kept_intact"))
    assert(rows(9L).getAs[Long]("n_kept") === 30L)
  }

  test("keep-one scrub: purely internal repetition is left alone") {
    // within-doc duplication has a single physical holder — under the
    // doc-granular keep-one policy that holder IS the kept copy
    val span = toks("s", 10)
    val df = Seq((1L, doc(span, toks("u", 5), span)),
      (2L, doc(toks("z", 30)))).toDF("doc_id", "text")
    val rows = QualityOps.exactSubstrScrubKeepOne(prof(df))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Boolean]("kept_intact"))
    assert(rows(1L).getAs[Long]("n_kept") === 25L)
  }

  test("span decontamination: cluster recall catches the non-adjacent eval copy") {
    val leak = toks("s", 15)
    val evalShared = toks("q", 8)
    val train = Seq(
      (100L, doc(toks("a", 10), leak)),   // carries the benchmark span
      (101L, doc(toks("b", 25))))         // clean train doc
      .toDF("doc_id", "text")
    val evalDocs = Seq(
      (1L, doc(leak, toks("c", 5))),      // contaminated
      (2L, doc(toks("d", 3), leak)),      // contaminated — may never be
                                          // rank-adjacent to doc 100 (doc 1
                                          // sorts between them), so pair
                                          // adjacency alone would miss it
      (3L, doc(evalShared, toks("e", 10))), // eval-eval dup only → clean
      (4L, doc(toks("f", 4), evalShared)),
      (5L, doc(toks("g", 20))))           // no duplication at all
      .toDF("doc_id", "text")
    val rows = QualityOps.spanDecontaminate(train, evalDocs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet === Set(1L, 2L, 3L, 4L, 5L)) // one row per eval doc
    Seq(1L, 2L).foreach { d =>
      assert(rows(d).getAs[Boolean]("contaminated"), s"doc $d missed")
      assert(rows(d).getAs[Long]("n_train_partners") === 1L)
      assert(rows(d).getAs[Long]("max_shared_span") === 15L)
    }
    Seq(3L, 4L, 5L).foreach { d =>
      assert(!rows(d).getAs[Boolean]("contaminated"), s"doc $d false positive")
      assert(rows(d).getAs[Long]("n_train_partners") === 0L)
      assert(rows(d).getAs[Long]("max_shared_span") === 0L)
    }
  }

  test("a 30-doc boilerplate cluster (chain-shaped) closes under defaults") {
    // the web-corpus shape the ADVICE flagged: one license-boilerplate
    // span shared by 30 docs is a 29-edge chain in rank adjacency — with
    // plain propagation and maxIter=20 the closure would throw; pointer
    // jumping must converge and report ONE 30-member cluster
    val span = toks("s", 12)
    val df = (1L to 30L)
      .map(i => (i, doc(toks(s"u$i-", 6), span)))
      .toDF("doc_id", "text")
    val rows = QualityOps.dupSpanClusters(prof(df)).collect()
    assert(rows.length === 30)
    assert(rows.map(_.getAs[Long]("cluster_id")).toSet === Set(1L))
    assert(rows.map(_.getAs[Long]("cluster_size")).toSet === Set(30L))
  }

  test("spanDecontaminate refuses overlapping train/eval ids") {
    val df1 = Seq((1L, doc(toks("a", 10)))).toDF("doc_id", "text")
    val df2 = Seq((1L, doc(toks("b", 10)))).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      QualityOps.spanDecontaminate(df1, df2, "doc_id", "text")
    }
    assert(ex.getMessage.contains("disjoint"))
  }

  test("the shared SpanProfile reproduces every standalone family member") {
    // one profile reused across every member (the SparkEntry shared-cache
    // path) gives the same rows as a fresh profile built per member
    val span = toks("s", 20)
    val df = Seq(
      (1L, doc(toks("u", 10), span)),
      (2L, doc(toks("v", 10), span)),
      (3L, doc(toks("w", 10), span)),
      (4L, doc(toks("z", 30))))
      .toDF("doc_id", "text")
    val p = prof(df)
    def rows(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.collect().map(_.toString).toSet
    assert(rows(QualityOps.exactSubstrSpans(p)) ===
      rows(QualityOps.exactSubstrSpans(prof(df))))
    assert(rows(QualityOps.exactSubstrScrub(p)) ===
      rows(QualityOps.exactSubstrScrub(prof(df))))
    assert(rows(QualityOps.dupSpanPairs(p)) ===
      rows(QualityOps.dupSpanPairs(prof(df))))
    assert(rows(QualityOps.dupSpanClusters(p)) ===
      rows(QualityOps.dupSpanClusters(prof(df))))
    assert(rows(QualityOps.exactSubstrScrubKeepOne(p)) ===
      rows(QualityOps.exactSubstrScrubKeepOne(prof(df))))
    import org.apache.spark.sql.functions.{col, lit}
    val markers = df.select(col("doc_id"), (col("doc_id") <= 2L).as("__eval"))
    assert(rows(QualityOps.spanDecontaminate(p, markers)) ===
      rows(QualityOps.spanDecontaminateMarked(df, "doc_id", "text",
        col("doc_id") <= lit(2L))))
  }

  test("scrub report agrees with the span report's covered_tokens") {
    val span = toks("s", 10)
    val a = doc(span, toks("u", 5), span) // within-doc repetition
    val df = Seq((1L, a), (2L, doc(toks("z", 30)))).toDF("doc_id", "text")
    val spans = QualityOps.exactSubstrSpans(prof(df))
      .collect().map(x => x.getAs[Long]("doc_id") ->
        x.getAs[Long]("covered_tokens")).toMap
    val scrub = QualityOps.exactSubstrScrub(prof(df))
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_toks") - x.getAs[Long]("n_kept"))).toMap
    assert(spans === scrub)
  }
}
