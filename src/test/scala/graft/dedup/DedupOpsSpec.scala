package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TextFns

class DedupOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"), // near-dup: jaccard 0.75
    (2L, "the quick brown fox jumps over the lazy dog"), // exact copy of 0
    (3L, "completely different text about spark engines here"),
    (4L, "tiny doc")                                     // < 3 tokens → no shingles
  ).toDF("doc_id", "text")

  test("shingles: distinct trigrams, short docs get empty array") {
    val got = docs.select(col("doc_id"),
        TextFns.shingles(TextFns.tokens(col("text")), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(0L).size === 7)
    assert(got(0L).contains("the quick brown"))
    assert(got(4L).isEmpty)
  }

  test("fingerprint normalizes case and whitespace") {
    val fps = Seq(Tuple1("A  b\tc"), Tuple1("a b c"), Tuple1("a b d"))
      .toDF("t").select(TextFns.fingerprint(col("t"))).as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("exactGroups collapses identical documents") {
    val got = DedupOps.exactGroups(docs, "doc_id", "text")
      .as[(String, Long, Long)].collect()
    val byCanon = got.map(r => r._2 -> r._3).toMap
    assert(byCanon(0L) === 2) // docs 0 and 2
    assert(got.length === 4)
  }

  test("minhash: identical shingle sets share full signatures") {
    val sigs = DedupOps.minhashSignatures(docs, "doc_id", "text", 3, 6)
      .collect().map(r => r.getLong(0) -> (1 to 6).map(r.getString)).toMap
    assert(sigs(0L) === sigs(2L))
    assert(sigs(0L) !== sigs(3L))
    assert(sigs(4L).forall(_ == null)) // no shingles → null components
  }

  test("LSH near-dup pipeline finds planted pairs, no false positives") {
    val got = DedupOps.nearDupPairs(docs, "doc_id", "text", 3, 12, 6, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((0L, 2L))) // identical docs always collide in every band
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L))
    // the 5/9-jaccard pair is found iff some band collides — deterministic
    // given fixed md5 seeds; verified below against the exact-jaccard baseline
    val exact = DedupOps.jaccardAllPairs(
        DedupOps.withShingles(docs, "doc_id", "text", 3), "doc_id", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(exact)) // LSH+verify never yields a pair the baseline rejects
  }

  test("jaccardAllPairs computes the exact set jaccard") {
    val sh = DedupOps.withShingles(docs, "doc_id", "text", 3)
    val got = DedupOps.jaccardAllPairs(sh, "doc_id", 0.0)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0L, 2L)) === 1.0)
    // docs 0/1 differ in the last token only: 6 of 7 shingles shared,
    // union 8 → 6/8
    assert(math.abs(got((0L, 1L)) - 0.75) < 1e-6)
  }

  test("posting df-cap bounds candidates under an adversarial corpus-wide shingle") {
    // every doc opens with the same boilerplate trigram; the rest is unique —
    // the inverted index's quadratic worst case (one posting with df = N)
    val adv = (1 to 40).map(i => (i.toLong, s"common header line unique$i word$i tail$i"))
      .toDF("doc_id", "text")
    val sh = DedupOps.withShingles(adv, "doc_id", "text", 3)
    // uncapped: all 40·39/2 pairs meet through the universal shingle
    assert(DedupOps.jaccardAllPairs(sh, "doc_id", 0.0).count() === 780L)
    // capped at df 10: the universal posting is dropped, nothing else is
    // shared, so the candidate set (and output) collapses to zero
    assert(DedupOps.jaccardAllPairs(sh, "doc_id", 0.0, maxDf = 10L).count() === 0L)
    assert(DedupOps.containmentPairs(sh, "doc_id", 0.0, maxDf = 10L).count() === 0L)
    assert(DedupOps.tfidfCosinePairs(adv, "doc_id", "text", 3, 0.0, maxDf = 10L).count() === 0L)
    // a cap above every df is a no-op — same pairs as the default
    assert(DedupOps.jaccardAllPairs(sh, "doc_id", 0.0, maxDf = 1000L).count() === 780L)

    // capped similarities are EXACT over the surviving vocabulary: two docs
    // identical except for the boilerplate header score 1.0 under the cap
    // (sizes shrink coherently with the intersections), not biased low
    val adv2 = adv.union(Seq(
      (100L, "common header line same tail of text"),
      (101L, "common header line same tail of text")).toDF("doc_id", "text"))
    val sh2 = DedupOps.withShingles(adv2, "doc_id", "text", 3)
    val capped = DedupOps.jaccardAllPairs(sh2, "doc_id", 0.9, maxDf = 10L)
      .as[(Long, Long, Double)].collect()
    assert(capped.toSeq === Seq((100L, 101L, 1.0)))
    val cont = DedupOps.containmentPairs(sh2, "doc_id", 0.9, maxDf = 10L)
      .select("id_a", "id_b", "containment_a", "containment_b")
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.toSeq === Seq((100L, 101L, 1.0, 1.0)))
  }

  test("simhash: 32-bit string, deterministic, distance tracks similarity") {
    val got = DedupOps.simhash32(docs, "doc_id", "text").as[(Long, String)].collect().toMap
    assert(got.values.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
    assert(got(0L) === got(2L)) // identical token sets → identical simhash
    val again = DedupOps.simhash32(docs, "doc_id", "text").as[(Long, String)].collect().toMap
    assert(got === again)
    def dist(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    assert(dist(got(0L), got(1L)) < dist(got(0L), got(3L)))
  }

  test("degenerate LSH buckets are capped before the self-join") {
    // 30 identical docs collapse into ONE bucket per band (B(B-1)/2 pair
    // blowup); a distinct near-dup pair sits in its own small bucket
    val clones = (1 to 30).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
    val small = Seq(
      (100L, "totally different words entirely present here today friends"),
      (101L, "totally different words entirely present here today friend"),
      (200L, "two tokens")) // no shingles -> null band key, filtered outright
    val corpus = (clones ++ small).toDF("doc_id", "text")
    val capped = DedupOps.nearDupPairs(corpus, "doc_id", "text",
        shingleN = 3, k = 12, bands = 6, threshold = 0.5, maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)),
      "over-cap clone bucket dropped, small bucket survives, shingle-less doc absent")
    // the DEFAULT cap (2000, corpus-safe) still admits this 30-member
    // bucket — clone pairs all survive
    val defaultCap = DedupOps.nearDupPairs(corpus, "doc_id", "text",
      shingleN = 3, k = 12, bands = 6, threshold = 0.5)
    assert(defaultCap.count() === 30L * 29 / 2 + 1)
  }

  test("default maxBucket drops a >2000-member degenerate bucket") {
    // 2100 identical docs collapse into one bucket per band — over the
    // 2000 default, so the whole clone family is dropped BEFORE the
    // self-join (≈2.2M pairs never materialize); the small distinct
    // near-dup pair in its own bucket still survives
    val clones = (1 to 2100).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
    val small = Seq(
      (100000L, "totally different words entirely present here today friends"),
      (100001L, "totally different words entirely present here today friend"))
    val corpus = (clones ++ small).toDF("doc_id", "text")
    val got = DedupOps.nearDupPairs(corpus, "doc_id", "text",
        shingleN = 3, k = 12, bands = 6, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((100000L, 100001L)))
  }

  test("connectedComponents: min-label over chains and separate groups") {
    // path 1-2-3-4-5 (diameter 4, needs multiple propagation rounds),
    // plus a separate pair and an isolated doc (absent from output)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("rawShingles keeps multiplicity; shingles is its distinct projection") {
    val t = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
      .select(
        TextFns.rawShingles(TextFns.tokens(col("text")), 3).as("raw"),
        TextFns.shingles(TextFns.tokens(col("text")), 3).as("dist"))
      .collect()(0)
    assert(t.getSeq[String](0) === Seq("a b a", "b a b", "a b a", "b a b"))
    assert(t.getSeq[String](1) === Seq("a b a", "b a b"))
  }

  test("tfidfCosinePairs: identical docs hit 1.0, disjoint docs never pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),  // exact clone → cosine 1
      (3L, "one two three four five six seven") // disjoint trigrams
    ).toDF("doc_id", "text")
    val got = DedupOps.tfidfCosinePairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.1)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet === Set((1L, 2L)))
    assert(math.abs(got((1L, 2L)) - 1.0) < 1e-9)
  }

  test("tfidfCosinePairs matches a hand-computed two-doc cosine") {
    // docs sharing exactly one trigram "a b c"; n=2 docs
    // doc1 trigrams: {a b c, b c d}; doc2: {a b c, b c e}
    // df(a b c)=2, df(b c d)=df(b c e)=1; idf = ln((n+1)/(df+1))+1
    val docs = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val got = DedupOps.tfidfCosinePairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.0)
      .as[(Long, Long, Double)].collect()
    val wShared = math.log(3.0 / 3.0) + 1.0   // 1.0
    val wRare = math.log(3.0 / 2.0) + 1.0
    val expected = wShared * wShared / (math.hypot(wShared, wRare) * math.hypot(wShared, wRare))
    assert(got.length === 1)
    assert(math.abs(got(0)._3 - BigDecimal(expected).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("decontaminate is invariant under corpus repartitioning") {
    val all = (1L to 60L).map(i =>
      (i, if (i % 7 == 0) "shared marker phrase appears right here today"
          else s"unique text body number $i with several filler tokens")).toDF("doc_id", "text")
    val corpus = all.filter($"doc_id" % 3 =!= 0L)
    val bench = all.filter($"doc_id" % 3 === 0L)
    val a = DedupOps.decontaminate(corpus, bench, "doc_id", "text", 5)
      .as[(Long, Long, Int)].collect().toSet
    val b = DedupOps.decontaminate(corpus.repartition(11), bench.repartition(5),
      "doc_id", "text", 5).as[(Long, Long, Int)].collect().toSet
    assert(a === b)
    // docs with the shared phrase and not in bench must flag contaminated
    val contaminatedIds = a.filter(_._3 == 1).map(_._1)
    assert(contaminatedIds === (1L to 60L).filter(i => i % 7 == 0 && i % 3 != 0).toSet)
  }

  test("nearDupAgainstIndex pairs new-batch docs with the index only, never new x new") {
    val shared = "the quick brown fox jumps over the lazy dog again and again today"
    val newBatch = Seq(
      (100L, shared),            // dup of indexed 1
      (101L, shared + " twist"), // dup of indexed 1 AND of 100 — but 100x101 must NOT pair
      (102L, "fresh content with no match anywhere in the existing corpus")
    ).toDF("doc_id", "text")
    val index = Seq(
      (1L, shared),
      (2L, "unrelated indexed document about entirely different things")
    ).toDF("doc_id", "text")
    val got = DedupOps.nearDupAgainstIndex(newBatch, index, "doc_id", "text",
      shingleN = 3, k = 12, bands = 6, threshold = 0.5)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    assert(got.forall { case (n, o) => n >= 100L && o < 100L })
    assert(got.contains((100L, 1L)))
    assert(!got.exists { case (n, o) => n >= 100L && o >= 100L })
  }

  test("dropNearDups keeps the canonical member of each group, all singletons") {
    val shared = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, shared),                 // group {1,2}: canonical 1 survives
      (2L, shared + " extra"),
      (7L, "completely different content with no overlapping shingles here at all"),
      (9L, "tiny")                  // no shingles → untouched
    ).toDF("doc_id", "text")
    val kept = DedupOps.dropNearDups(docs, "doc_id", "text",
      shingleN = 3, k = 12, bands = 6, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 7L, 9L))
  }

  test("connectedComponents on an empty pair graph returns an empty frame") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(DedupOps.connectedComponents(empty, "id_a", "id_b").count() === 0)
  }

  test("connectedComponents fails fast past maxIter instead of mis-labeling") {
    // a 12-node chain has diameter 11: min-label needs ~11 rounds plus the
    // equal-sum witness round — maxIter=3 must throw, NOT return the
    // half-propagated labels that would mis-canonicalize keep-lists
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, "id_a", "id_b", maxIter = 3)
    }
    assert(ex.getMessage.contains("did not converge"))
    // with headroom the same chain closes to the true min label
    val got = DedupOps.connectedComponents(chain, "id_a", "id_b", maxIter = 20)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(1L))
  }

  test("pointer jumping closes a 200-node path inside the default maxIter") {
    // the ADVICE-flagged shape: a span shared by k docs forms a k−1-edge
    // CHAIN in suffix-rank adjacency. Plain min-label propagation needs
    // diameter (199) rounds — far past the default 20 — but the
    // label-of-label jump makes rounds O(log diameter), so the default
    // budget closes it with room to spare
    val path = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(path, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got.size === 200)
    assert(got.values.toSet === Set(1L))
  }

  test("connectedComponents closes a 200-node path with shuffled ids inside the default maxIter") {
    // the same path with ids NOT in path order: pointer jumping needs about
    // the diameter here (57 rounds for this permutation), large-star /
    // small-star stays logarithmic in the component size
    val ids = new scala.util.Random(7).shuffle((1L to 200L).toVector)
    val path = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(path, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got.size === 200)
    assert(got.values.toSet === Set(1L))
  }

  test("connectedComponents matches a driver-side union-find on seeded random graphs") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val nodes = rnd.shuffle((1 to 80).map(i => i.toLong * 7919L % 100003L).toVector)
      val edges = Seq.fill(70)((nodes(rnd.nextInt(80)), nodes(rnd.nextInt(80))))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // the root of each union-find set is its minimum (smaller root wins)
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got = DedupOps.connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long)].collect()
      assert(got.length === want.size, s"seed $seed: one row per node")
      assert(got.toMap === want, s"seed $seed")
    }
  }

  test("connectedComponents pins one frame, however many rounds it runs") {
    val sc = spark.sparkContext
    def pinnedBy(pairs: org.apache.spark.sql.DataFrame): Int = {
      val before = if (sc.getPersistentRDDs.isEmpty) -1 else sc.getPersistentRDDs.keys.max
      val labels = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      assert(labels.count() > 0)
      sc.getPersistentRDDs.keys.count(_ > before)
    }
    val onePair = Seq((1L, 2L)).toDF("id_a", "id_b")
    val ids = new scala.util.Random(3).shuffle((1L to 64L).toVector)
    val longPath = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id_a", "id_b")
    val short = pinnedBy(onePair)
    assert(short <= 1)
    assert(pinnedBy(longPath) === short)
  }

  test("docs with no shingles get no LSH band key and form no candidate pair") {
    // every shingle-less doc has null minhash lanes; a key over them must
    // be null, not md5(""), or all such docs share one bucket per band
    val tiny = (1L to 50L).map(i => (i, "tiny")).toDF("doc_id", "text")
    val keys = DedupOps.lshBandKeys(
      DedupOps.minhashSignatures(tiny, "doc_id", "text", 3, 12), "doc_id", 6, 2)
    assert(keys.filter(col("band_key").isNotNull).count() === 0L)
    assert(DedupOps.lshCandidatePairs(keys, "doc_id").count() === 0L)
    assert(DedupOps.nearDupPairs(tiny, "doc_id", "text", 3, 12, 6, 0.5).count() === 0L)
  }

  test("jaccardVerify equals the inverted-index jaccard and skips pairs sharing nothing") {
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 12).map(i => s"w$i")
    val corpus = (1L to 40L).map(i =>
      (i, Seq.fill(4 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val sh = DedupOps.withShingles(corpus, "doc_id", "text", 2)
    val allPairs = sh.select(col("doc_id").as("id_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    for (maxDf <- Seq(Long.MaxValue, 6L)) {
      val got = DedupOps.jaccardVerify(allPairs, sh, "doc_id", 0.0, maxDf)
        .as[(Long, Long, Double)].collect().toSet
      val want = DedupOps.jaccardAllPairs(sh, "doc_id", 0.0, maxDf)
        .as[(Long, Long, Double)].collect().toSet
      assert(got === want, s"maxDf $maxDf")
    }
    // two shingle-less docs: no shared shingle, no pair, no 0/0
    val empty = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val pair = Seq((1L, 2L)).toDF("id_a", "id_b")
    assert(DedupOps.jaccardVerify(pair,
      DedupOps.withShingles(empty, "doc_id", "text", 3), "doc_id", 0.0).count() === 0L)
  }

  /** 40 docs of 3-8 words drawn from `vocabSize` words: every doc has a
    * bigram, and the smaller the vocabulary the more bigrams pairs share.
    */
  private def randomCorpus(seed: Int, vocabSize: Int) = {
    val rnd = new scala.util.Random(seed)
    val vocab = (1 to vocabSize).map(i => s"w$i")
    (1L to 40L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("nearDupAgainstIndex jaccard equals jaccardAllPairs over the union corpus") {
    val corpus = randomCorpus(5, vocabSize = 4)
    val newBatch = corpus.filter(col("doc_id") % 4 === 0)
    val index = corpus.filter(col("doc_id") % 4 =!= 0)
    val got = DedupOps.nearDupAgainstIndex(newBatch, index, "doc_id", "text",
        shingleN = 2, k = 12, bands = 6, threshold = 0.0)
      .as[(Long, Long, Double)].collect()
    val want = DedupOps.jaccardAllPairs(
        DedupOps.withShingles(corpus, "doc_id", "text", 2), "doc_id", 0.0)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.length >= 10)
    for ((n, o, j) <- got)
      assert(want.get((math.min(n, o), math.max(n, o))) === Some(j), s"pair ($n, $o)")
  }

  test("minhashEstimateFrom: exact jaccard matches jaccardVerify, est is lanes_agree / k") {
    val k = 12
    val sh = DedupOps.withShingles(randomCorpus(9, vocabSize = 14), "doc_id", "text", 2)
    val cands = sh.select(col("doc_id").as("id_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    val verified = DedupOps.jaccardVerify(cands, sh, "doc_id", 0.0)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val got = DedupOps.minhashEstimateFrom(sh, cands, "doc_id", k)
      .select("id_a", "id_b", "lanes_agree", "est", "jaccard")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(got.length.toLong === cands.count())
    val (sharing, disjoint) = got.partition(r => verified.contains((r._1, r._2)))
    assert(sharing.nonEmpty && disjoint.nonEmpty)
    for ((a, b, _, _, j) <- sharing) assert(j === verified((a, b)), s"pair ($a, $b)")
    assert(disjoint.forall(_._5 == 0.0))
    for ((a, b, agree, est, _) <- got)
      assert(est === BigDecimal(agree.toDouble / k)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"pair ($a, $b)")
  }

  test("containmentPairs flags short-in-long quoting that Jaccard misses") {
    val quote = "alpha beta gamma delta epsilon"
    val long = ("x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14 x15 " +
      "x16 x17 x18 x19 x20 ") + quote
    val docs = Seq((1L, quote), (2L, long),
      (3L, "totally unrelated words with no shared trigrams at all")).toDF("doc_id", "text")
    val sh = DedupOps.withShingles(docs, "doc_id", "text", 3)
    val cont = DedupOps.containmentPairs(sh, "doc_id", 0.9)
      .select("id_a", "id_b", "containment_a")
      .as[(Long, Long, Double)].collect()
    // doc 1's 3 trigrams are all inside doc 2 → containment_a = 1.0
    assert(cont.toSeq === Seq((1L, 2L, 1.0)))
    // ...while Jaccard at the same gate sees nothing (union dominated by doc 2)
    val jac = DedupOps.jaccardAllPairs(sh, "doc_id", 0.5).collect()
    assert(jac.isEmpty)
  }

  test("dropDuplicateSegments removes corpus-repeated segments, keeps order") {
    val docs = Seq(
      (1L, "a b c d"),   // segs: "a b" (dup ×3), "c d"
      (2L, "a b x y"),   // segs: "a b", "x y"
      (3L, "p q"),       // unique single segment
      (4L, "a b")        // entirely boilerplate → empty clean_text
    ).toDF("doc_id", "text")
    val got = DedupOps.dropDuplicateSegments(docs, "doc_id", "text", w = 2, minDup = 2L)
      .select("doc_id", "n_segs", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got(1L) === ((2L, 1L, "c d")))
    assert(got(2L) === ((2L, 1L, "x y")))
    assert(got(3L) === ((1L, 0L, "p q")))
    assert(got(4L) === ((1L, 1L, "")))
  }

  test("dropDuplicateSegments: null-text docs emit no row; empty-string docs keep one '' segment") {
    // the tokenizer maps "" to [""] (size 1), so a whitespace doc has ONE
    // empty segment; null text tokenizes to null (size null) and the
    // zero-token guard keeps sequence(0, floor(-1/w)) from walking
    // backwards and fabricating phantom segments
    val docs = Seq((1L, Some("a b c d")), (2L, Some("")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = DedupOps.dropDuplicateSegments(docs, "doc_id", "text", w = 2, minDup = 2L)
      .select("doc_id", "n_segs", "n_dropped").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((2L, 0L)))
    assert(got(2L) === ((1L, 0L))) // its '' segment occurs once — below minDup
  }

  test("dropDuplicateSegments reassembly preserves multi-segment order") {
    // no duplicates anywhere → clean_text must round-trip the document
    val text = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val got = DedupOps.dropDuplicateSegments(docs, "doc_id", "text", w = 4, minDup = 2L)
      .select("clean_text").as[String].collect()(0)
    assert(got === text)
  }

  test("sortedNeighborhood pairs typo-adjacent records, respects the window") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delte"),  // 1 edit from doc 1 — adjacent in sort
      (3L, "alpha brta gamma delta"),  // 1 edit from doc 1, sorts between 1 and 5
      (4L, "zzz completely different text here"),
      (5L, "omega psi chi phi")).toDF("doc_id", "text")
    val pairs = DedupOps.sortedNeighborhood(docs, "doc_id", "text",
      window = 3, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sort order: 1, 2, 3 adjacent → all three close pairs found;
    // 4 and 5 are within the window of 3 but beyond maxDist
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("sortedNeighborhood: whitespace runs collapse before keying") {
    val docs = Seq((1L, "alpha  beta\tgamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.sortedNeighborhood(docs, "doc_id", "text",
      window = 1, maxDist = 0).collect()
    assert(pairs.length === 1 && pairs(0).getInt(2) === 0)
  }

  test("sortedNeighborhood window=1 sees only immediate successors") {
    // three identical-prefix docs: window 1 yields the two adjacent pairs
    // only, never the (first, third) pair
    val docs = Seq((1L, "same text a"), (2L, "same text b"),
      (3L, "same text c")).toDF("doc_id", "text")
    val pairs = DedupOps.sortedNeighborhood(docs, "doc_id", "text",
      window = 1, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (2L, 3L)))
  }
}
