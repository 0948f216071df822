package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ann.Knn
import graft.dedup.DedupOps

/** Training-data prep operators: deterministic sampling, sequence packing,
  * rolling time windows, centroids, decontamination.
  */
class PrepOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hashBucket16 is deterministic, uniform-ish, and repartition-stable") {
    val df = (1L to 400L).toDF("id")
    val a = df.select(col("id"), FoldOps.hashBucket16(col("id")).as("h"))
      .as[(Long, Int)].collect().toMap
    val b = df.repartition(7).select(col("id"), FoldOps.hashBucket16(col("id")).as("h"))
      .as[(Long, Int)].collect().toMap
    assert(a === b)
    assert(a.values.forall(h => h >= 0 && h < 16))
    // every nibble value occurs over 400 keys (md5 is well-mixed)
    assert(a.values.toSet.size === 16)
  }

  test("stratifiedHashSample keeps exactly the rows under the stratum threshold") {
    val df = (1L to 300L).map(i => (i, if (i % 2 == 0) "en" else "zh")).toDF("id", "lang")
    val kept = FoldOps.stratifiedHashSample(df, col("id"), col("lang"),
      Map("en" -> 4, "zh" -> 8), default = 16)
      .select("id", "lang", "h16").as[(Long, String, Int)].collect()
    assert(kept.forall { case (_, l, h) => h < (if (l == "en") 4 else 8) })
    val full = df.select(col("id"), col("lang"), FoldOps.hashBucket16(col("id")).as("h"))
      .as[(Long, String, Int)].collect()
    val expected = full.count { case (_, l, h) => h < (if (l == "en") 4 else 8) }
    assert(kept.length === expected)
  }

  test("packByCumsum cuts bins at capacity boundaries; oversized rows pack alone") {
    val df = Seq(("s", 1, 100), ("s", 2, 100), ("s", 3, 100), ("s", 4, 300), ("s", 5, 10))
      .toDF("src", "id", "n")
    val got = FoldOps.packByCumsum(df, Seq("src"), Seq("id"), col("n"), capacity = 256)
      .select("id", "bin_id").as[(Int, Int)].collect().toMap
    // running starts: 0,100,200,300,600 → bins 0,0,0,1,2
    assert(got === Map(1 -> 0, 2 -> 0, 3 -> 0, 4 -> 1, 5 -> 2))
  }

  test("packByCumsum is invariant under input repartitioning (two-phase prefix sum)") {
    val df = (1 to 500).map(i => (s"s${i % 3}", i, 10 + i % 90)).toDF("src", "id", "n")
    val a = FoldOps.packByCumsum(df, Seq("src"), Seq("id"), col("n"), 256)
      .select("src", "id", "bin_id").as[(String, Int, Int)].collect().toSet
    val b = FoldOps.packByCumsum(df.repartition(17), Seq("src"), Seq("id"), col("n"), 256)
      .select("src", "id", "bin_id").as[(String, Int, Int)].collect().toSet
    assert(a === b)
    // bins are contiguous from 0 per stratum
    val bins = a.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._3).toSeq.sorted }
    bins.foreach { case (_, bs) => assert(bs.distinct === (0 to bs.max)) }
  }

  test("takeByBudget keeps exactly the best-first prefix that fits the budget") {
    val df = Seq((1L, 50L), (2L, 30L), (3L, 30L), (4L, 20L), (5L, 5L))
      .toDF("id", "sz")
    // priority = smallest id first; running totals 50,80,110,130,135
    val kept = FoldOps.takeByBudget(df, Seq(col("id").asc), col("sz"), budget = 110L)
      .select("id", "cum_size").as[(Long, Long)].collect().toMap
    assert(kept === Map(1L -> 50L, 2L -> 80L, 3L -> 110L))
  }

  test("takeByBudget membership is invariant under input repartitioning") {
    val df = (1L to 1000L).map(i => (i, 1L + i % 37)).toDF("id", "sz")
    val a = FoldOps.takeByBudget(df, Seq(col("sz").desc, col("id").asc), col("sz"), 5000L)
      .select("id").as[Long].collect().toSet
    val b = FoldOps.takeByBudget(df.repartition(13), Seq(col("sz").desc, col("id").asc),
        col("sz"), 5000L)
      .select("id").as[Long].collect().toSet
    assert(a === b && a.nonEmpty)
  }

  test("globalCumsum matches the single-window reference on every row") {
    val df = (1L to 800L).map(i => (i * 2654435761L % 997, i)).toDF("k", "id")
    val got = RankOps.globalCumsum(df, Seq(col("k").asc, col("id").asc), col("k"), "cs")
      .select("id", "cs").as[(Long, Long)].collect().toMap
    val ref = df.sort(col("k").asc, col("id").asc)
      .select(col("id"), col("k")).as[(Long, Long)].collect()
      .scanLeft((0L, 0L)) { case ((_, acc), (id, k)) => (id, acc + k) }.drop(1).toMap
    assert(got === ref)
  }

  test("groupEntropy: uniform mix → ln k, single category → 0") {
    val df = (Seq.tabulate(40)(i => ("u", s"t${i % 4}")) ++ Seq.fill(7)(("v", "only")))
      .toDF("g", "cat")
    val got = SummaryOps.groupEntropy(df, "g", "cat")
      .select("g", "n_rows", "n_categories", "entropy")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("u")._2 === 40L && got("u")._3 === 4L)
    assert(math.abs(got("u")._4 - math.log(4.0)) < 1e-6)
    assert(got("v") === (("v", 7L, 1L, 0.0)))
  }

  test("perStratumTopNBy equals the naive per-stratum window, stable under repartitioning") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 900).map(i => (s"s${i % 3}", i.toLong, (i * 2654435761L % 997).toDouble))
      .toDF("src", "id", "v")
    def run(in: org.apache.spark.sql.DataFrame) =
      FoldOps.perStratumTopNBy(in, col("src"),
          Seq(col("v").desc), tieBreak = col("id"), n = 5)
        .select("src", "id", "rk").as[(String, Long, Int)].collect().toSet
    val naive = df.withColumn("rk", row_number().over(
        Window.partitionBy("src").orderBy(col("v").desc, col("id").asc)))
      .filter(col("rk") <= 5)
      .select("src", "id", "rk").as[(String, Long, Int)].collect().toSet
    assert(run(df) === naive)
    assert(run(df.repartition(11)) === naive)
    assert(naive.groupBy(_._1).forall(_._2.size === 5))
  }

  test("rollingBySeconds frames trail the configured span, peers included") {
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00"), 10.0),
      (2L, 7L, ts("2024-01-01 10:30:00"), 20.0),
      (3L, 7L, ts("2024-01-01 11:10:00"), 30.0), // 10:00 falls off (70 min)
      (4L, 7L, ts("2024-01-01 11:10:00"), 40.0), // same-second peer of 3
      (5L, 8L, ts("2024-01-01 10:00:00"), 1.0)   // other partition untouched
    ).toDF("event_id", "user_id", "ts", "value")
    val got = WindowOps.rollingBySeconds(df, Seq("user_id"), "ts", col("value"), 3600L)
      .select("event_id", "roll_avg", "roll_n").as[(Long, Double, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) === ((10.0, 1L)))
    assert(got(2L) === ((15.0, 2L)))
    assert(got(3L) === ((30.0, 3L))) // 20+30+40 / 3 — peer rows share the frame
    assert(got(4L) === ((30.0, 3L)))
    assert(got(5L) === ((1.0, 1L)))
  }

  test("centroids emits per-(group, dim) means in tall form") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(3.0f, 2.0f), 0),
      (3L, Seq(10.0f, 10.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Knn.centroids(df, "label", "embedding")
      .as[(Int, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0, 0)) === 2.0)
    assert(got((0, 1)) === 1.0)
    assert(got((1, 0)) === 10.0)
    assert(got((1, 1)) === 10.0)
  }

  test("perStratumTopN keeps exactly n per stratum, stable under repartitioning") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "en" else "zh")).toDF("id", "lang")
    val a = FoldOps.perStratumTopN(df, col("lang"), col("id"), 10)
      .select("id", "lang").as[(Long, String)].collect().toSet
    val b = FoldOps.perStratumTopN(df.repartition(7), col("lang"), col("id"), 10)
      .select("id", "lang").as[(Long, String)].collect().toSet
    assert(a === b)
    assert(a.count(_._2 == "en") === 10)
    assert(a.count(_._2 == "zh") === 10)
  }

  test("int8Quantize maps min→-128, max→127; constant vectors collapse to -128") {
    val df = Seq(
      (1L, Seq(0.0f, 1.0f, 0.5f)),
      (2L, Seq(3.0f, 3.0f, 3.0f))
    ).toDF("id", "v")
      .withColumn("dv", graft.functions.VectorFns.toDoubleArr(col("v")))
      .withColumn("lo", array_min(col("dv")))
      .withColumn("hi", array_max(col("dv")))
    val got = df.select(col("id"),
        graft.functions.VectorFns.int8Quantize(col("dv"), col("lo"), col("hi")).as("q"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(1L) === Seq(-128, 127, 0)) // 0.5 → round(127.5)=128 → 0
    assert(got(2L) === Seq(-128, -128, -128))
  }

  test("empty inputs: sampling, packing, top-n, centroids degrade to empty, not errors") {
    val noDocs = Seq.empty[(Long, String)].toDF("id", "lang")
    assert(FoldOps.stratifiedHashSample(noDocs, col("id"), col("lang"),
      Map("en" -> 4), 8).count() === 0)
    assert(FoldOps.perStratumTopN(noDocs, col("lang"), col("id"), 5).count() === 0)
    val noSized = Seq.empty[(String, Long, Int)].toDF("src", "id", "n")
    assert(FoldOps.packByCumsum(noSized, Seq("src"), Seq("id"), col("n"), 64).count() === 0)
    val noVecs = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(Knn.centroids(noVecs, "label", "embedding").count() === 0)
  }

  test("empty inputs: round-4 ops degrade to empty frames, not errors") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(RetrievalOps.bm25TopK(noDocs, "doc_id", "text", Seq("x"), 5).count() === 0)
    assert(DedupOps.dropDuplicateSegments(noDocs, "doc_id", "text", 4, 2L).count() === 0)
    assert(SummaryOps.pmiBigrams(noDocs, "text", 1L).count() === 0)
    val noVals = Seq.empty[(String, Double)].toDF("grp", "v")
    assert(CleaningOps.quantileGate(noVals, "grp", "v", 0.5).count() === 0)
    assert(CleaningOps.madOutliers(noVals, "grp", "v", 3.5).count() === 0)
    val noEvents = Seq.empty[(Long, Long, Double)].toDF("id", "seg", "score")
    assert(graft.operators.MetricsOps.psi(noEvents, col("score"),
      col("seg") === 0L, 10).count() === 10) // densified bins, zero counts
    val noKeyed = Seq.empty[(Long, Long)].toDF("id", "w")
    assert(FoldOps.weightedSample(noKeyed, col("id"), col("w"), 5).count() === 0)
    // n larger than the frame returns the whole frame
    val three = (1L to 3L).map((_, 1L)).toDF("id", "w")
    assert(FoldOps.weightedSample(three, col("id"), col("w"), 10).count() === 3)
    val noSnap = Seq.empty[(Long, String)].toDF("id", "v")
    assert(JoinOps.snapshotDiff(noSnap, noSnap, "id", Seq("v")).count() === 0)
    assert(WindowOps.runLengthIntervals(
      Seq.empty[(String, Long, String)].toDF("k", "t", "v"),
      Seq("k"), Seq("t"), col("v"), col("t")).count() === 0)
    assert(RankOps.globalPercentRank(
      Seq.empty[(Double, Long)].toDF("v", "id"), "v", "pr").count() === 0)
  }

  test("decontaminate with an empty benchmark flags nothing") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = DedupOps.decontaminate(corpus, bench, "doc_id", "text", 5)
      .as[(Long, Long, Int)].collect()
    assert(got === Array((1L, 0L, 0)))
  }

  test("decontaminate counts distinct shared shingles; clean docs flag 0") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 2 5-grams with bench
      (2L, "one two three four five six"),         // clean
      (3L, "too short")                            // < 5 tokens → no shingles
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val got = DedupOps.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) === ((2L, 1)))
    assert(got(2L) === ((0L, 0)))
    assert(got(3L) === ((0L, 0)))
  }

  test("klFromCorpus: closed-form unseen mass equals the brute-force grid") {
    val docs = Seq(
      ("s1", "a a a b"), ("s1", "a b c"),
      ("s2", "x x y a"), ("s2", "y y z"))
      .toDF("source", "text")
    val got = SummaryOps.klFromCorpus(docs, "source", "text")
      .select("source", "kl").as[(String, Double)].collect().toMap

    // brute force in plain Scala: add-1 smoothing over the corpus vocab
    val toks = Seq("s1" -> Seq("a","a","a","b","a","b","c"),
      "s2" -> Seq("x","x","y","a","y","y","z"))
    val corpus = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val n = corpus.values.sum.toDouble; val v = corpus.size.toDouble
    def pc(t: String) = (corpus.getOrElse(t, 0) + 1.0) / (n + v)
    toks.foreach { case (src, ts) =>
      val cnt = ts.groupBy(identity).view.mapValues(_.size).toMap
      val ns = ts.size.toDouble
      def pg(t: String) = (cnt.getOrElse(t, 0) + 1.0) / (ns + v)
      val kl = corpus.keys.map(t => pg(t) * math.log(pg(t) / pc(t))).sum
      assert(math.abs(got(src) - math.rint(kl * 1e6) / 1e6) < 2e-6, src)
    }
    // both sources diverge from the pooled corpus
    assert(got.values.forall(_ > 0))
  }

  test("featureHash: fixed dim, repartition-stable, counts preserved") {
    val df = Seq((1L, "a b a c"), (2L, "a a a a")).toDF("id", "text")
    val toks = graft.functions.TextFns.tokens(col("text"))
    val a = FoldOps.featureHash(df, "id", toks, dim = 8)
      .as[(Long, Int, Long)].collect().toSet
    assert(a.forall { case (_, b, _) => b >= 0 && b < 8 })
    // token multiplicity survives hashing: each doc's counts total 4
    // (toSeq first — Set.map would collapse equal counts before summing)
    assert(a.toSeq.filter(_._1 == 2L).map(_._3).sum === 4L)
    assert(a.toSeq.filter(_._1 == 1L).map(_._3).sum === 4L)
    val b = FoldOps.featureHash(df.repartition(5), "id", toks, dim = 8)
      .as[(Long, Int, Long)].collect().toSet
    assert(b === a)
  }

  test("pmiBigrams matches hand-computed PMI on a fixed corpus") {
    // corpus tokens: "a b" ×3 docs, "a c" ×1 → unigrams: a=4, b=3, c=1 (T=8)
    // bigrams: (a,b)=3, (a,c)=1 (TB=4)
    val docs = Seq("a b", "a b", "a b", "a c").toDF("text")
    val got = SummaryOps.pmiBigrams(docs, "text", minCount = 1L)
      .select("tok_a", "tok_b", "n_pairs", "pmi")
      .as[(String, String, Long, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val ab = r6(math.log((3.0 / 4.0) / ((4.0 / 8.0) * (3.0 / 8.0))))
    val ac = r6(math.log((1.0 / 4.0) / ((4.0 / 8.0) * (1.0 / 8.0))))
    assert(got === Map(("a", "b") -> ((3L, ab)), ("a", "c") -> ((1L, ac))))
  }

  test("pmiBigrams minCount prunes the low-frequency tail") {
    val docs = Seq("a b", "a b", "a c").toDF("text")
    val kept = SummaryOps.pmiBigrams(docs, "text", minCount = 2L)
      .select("tok_a", "tok_b").as[(String, String)].collect()
    assert(kept.toSeq === Seq(("a", "b")))
  }

  test("weightedSample is exact-n, deterministic, and repartition-stable") {
    val df = (1L to 500L).map(i => (i, 1L + i % 7)).toDF("id", "w")
    val a = FoldOps.weightedSample(df, col("id"), col("w"), n = 40)
      .select("id").as[Long].collect().toSet
    val b = FoldOps.weightedSample(df.repartition(13), col("id"), col("w"), n = 40)
      .select("id").as[Long].collect().toSet
    assert(a.size === 40)
    assert(a === b)
  }

  test("weightedSample: a dominating weight is always selected, weights bias inclusion") {
    // ln(u)/w → 0⁻ as w → ∞, so the heavy row outranks every unit-weight row
    val df = ((1L to 200L).map(i => (i, 1L)) :+ (999L, 1000000L)).toDF("id", "w")
    val got = FoldOps.weightedSample(df, col("id"), col("w"), n = 10)
      .select("id").as[Long].collect().toSet
    assert(got.contains(999L))
    // doubling every weight rescales priorities monotonically per row but
    // NOT uniformly across rows — membership may shift; what must hold is
    // determinism of each run
    val again = FoldOps.weightedSample(df, col("id"), col("w"), n = 10)
      .select("id").as[Long].collect().toSet
    assert(got === again)
  }

  test("interleaveByWeight: 2:1 stride merge matches the hand-computed order") {
    // a (w=2): vt 0.25, 0.75, 1.25, 1.75; b (w=1): vt 0.5, 1.5
    // merged: a1 .25 | b1 .5 | a2 .75 | a3 1.25 | b2 1.5 | a4 1.75
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("b", 5L), ("b", 6L))
      .toDF("src", "id")
    val got = FoldOps.interleaveByWeight(df.repartition(4), col("src"),
        Seq(col("id").asc), Map("a" -> 2.0, "b" -> 1.0))
      .select("id", "src_rank", "pos").as[(Long, Long, Long)].collect()
      .sortBy(_._3)
    assert(got.toSeq === Seq(
      (1L, 1L, 1L), (5L, 1L, 2L), (2L, 2L, 3L),
      (3L, 3L, 4L), (6L, 2L, 5L), (4L, 4L, 6L)))
    // prefix shares track the weights: first 3 rows hold 2 a's and 1 b
    val first3 = got.sortBy(_._3).take(3).map(_._1).toSet
    assert(first3 === Set(1L, 5L, 2L))
  }

  test("interleaveByWeight: unknown sources fall back to defaultWeight, order total") {
    val df = Seq(("a", 1L), ("c", 2L), ("c", 3L)).toDF("src", "id")
    val got = FoldOps.interleaveByWeight(df, col("src"), Seq(col("id").asc),
        Map("a" -> 1.0), defaultWeight = 2.0)
      .select("id", "pos").as[(Long, Long)].collect().sortBy(_._2)
    // c (w=2): vt .25, .75; a (w=1): vt .5 → c2, a1, c3
    assert(got.map(_._1).toSeq === Seq(2L, 1L, 3L))
  }

  test("packByCumsum keeps null-stratum rows, binned as a stratum of their own") {
    val df = Seq[(String, Int, Int)](("s", 1, 100), ("s", 2, 200), (null, 3, 300),
        (null, 4, 10), ("s", 5, 10)).toDF("src", "id", "n")
    val got = FoldOps.packByCumsum(df.repartition(3), Seq("src"), Seq("id"), col("n"), 256)
      .select("id", "bin_id").as[(Int, Int)].collect().toMap
    // s starts 0,100,300 → 0,0,1; null starts 0,300 → 0,1
    assert(got === Map(1 -> 0, 2 -> 0, 3 -> 0, 4 -> 1, 5 -> 1))
    val w = Window.partitionBy(col("src")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.select(col("id"),
        floor((sum(col("n")).over(w) - col("n")) / 256.0).cast("int"))
      .as[(Int, Int)].collect().toMap
    assert(got === ref)
  }

  test("interleaveByWeight keeps null-source rows, ranked as a source of their own") {
    val df = Seq[(String, Long)](("a", 1L), (null, 2L), (null, 3L), ("a", 4L)).toDF("src", "id")
    val got = FoldOps.interleaveByWeight(df.repartition(3), col("src"),
        Seq(col("id").asc), Map("a" -> 1.0))
      .select("id", "src_rank", "pos").as[(Long, Long, Long)].collect().sortBy(_._3)
    // vt: null 0.5, 1.5; a 0.5, 1.5 — ties break on source, null first
    assert(got.toSeq === Seq((2L, 1L, 1L), (1L, 1L, 2L), (3L, 2L, 3L), (4L, 2L, 4L)))
  }

  test("classWeights: balanced classes weigh 1.0, minority inversely more") {
    val bal = Seq("a", "a", "b", "b").toDF("y")
    FoldOps.classWeights(bal, "y").collect()
      .foreach(r => assert(r.getDouble(2) === 1.0))

    // 6 of 'maj', 2 of 'min', k=2 → maj 8/(2·6)=0.666667, min 8/(2·2)=2.0
    val skew = (Seq.fill(6)("maj") ++ Seq.fill(2)("min")).toDF("y")
    val w = FoldOps.classWeights(skew, "y").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w("maj") === ((6L, 0.666667)))
    assert(w("min") === ((2L, 2.0)))
  }
}
