package graft.api

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Golden end-to-end corpus curation on the sf0.001 documents table:
  * the full quality → dedup → decontaminate → sample → pack chain with
  * pinned per-stage counts (the curation-report ritual, deterministic by
  * construction so the pin is stable across runs and partitionings).
  */
class CorpusCuratorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  private def prof(df: org.apache.spark.sql.DataFrame) =
    graft.operators.SummaryOps.gramProfile(df, "doc_id", "text")

  private def split(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val all = Tables.documents(spark, d)
    (all.filter(col("doc_id") % 37 =!= 0), all.filter(col("doc_id") % 37 === 0))
  }

  test("golden curation run: pinned funnel, packed output, deterministic") {
    val (corpus, bench) = split()
    val cfg = CorpusCurator.Config(
      langAllow = Seq("en", "de"),
      sampleSixteenths = Map("src0" -> 8),
      sampleDefault = 16)
    val (out, report) = CorpusCurator.curateWithReport(corpus, bench, cfg)

    val counts = report.toMap
    // pinned golden funnel — every stage decision is a deterministic
    // function of content, so these survive any cluster or partitioning
    assert(report === Seq(
      "00_input" -> 486L, "10_quality" -> 232L,
      "12_fluency" -> 232L, // gates off at defaults — equals 10_quality
      "15_scrub" -> 232L, // scrub rewrites, never drops — equals 12_fluency
      "20_exact_dedup" -> 232L,
      "30_near_dedup" -> 226L, "40_decontaminated" -> 225L,
      "50_sampled" -> 224L))

    // every surviving row carries a valid pack assignment
    val packed = out.select("doc_id", "source", "n_tokens", "bin_id")
      .as[(Long, String, Int, Int)].collect()
    assert(packed.forall(r => r._3 > 0 && r._4 >= 0))
    assert(packed.length === counts("50_sampled"))

    // a bin may exceed capacity only via its last doc crossing the boundary
    // (the cut lands on the row that crosses); totals stay < capacity + max doc
    val maxDoc = packed.map(_._3).max
    val tooBig = packed.groupBy(r => (r._2, r._4))
      .filter(_._2.map(_._3).sum >= cfg.packCapacity + maxDoc)
    assert(tooBig.isEmpty, s"bins grossly over capacity: ${tooBig.keys}")

    // determinism: same counts from a repartitioned input
    val (_, report2) = CorpusCurator.curateWithReport(corpus.repartition(13), bench, cfg)
    assert(report2 === report)
  }

  test("near-dup guard knobs (lshMaxBucket / verifyMaxDf) plumb through the façade") {
    // every doc opens with the same 6-token boilerplate — the adversarial
    // corpus-wide shingle that makes LSH buckets and posting lists blow up
    // at scale; docs 1/2 additionally share a body differing by ONE token
    // (a true near-dup pair, not an exact one)
    val boiler = "z1 z2 z3 z4 z5 z6"
    def tail(p: String) = (1 to 12).map(i => s"$p$i").mkString(" ")
    val docs = (Seq(
      (1L, s"$boiler ${tail("b")}"),
      (2L, s"$boiler ${(1 to 11).map(i => s"b$i").mkString(" ")} bX")) ++
      (3L to 8L).map(i => (i, s"$boiler ${tail(('b' + i.toInt).toChar.toString)}")))
      .map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val base = CorpusCurator.Config(minTokens = 5, maxTokens = 500)

    def survivors(cfg: CorpusCurator.Config): Set[Long] =
      CorpusCurator.curate(docs, bench, cfg).select("doc_id").as[Long].collect().toSet

    // defaults: the near-dup stage collapses 2 into canonical 1
    assert(survivors(base) === Set(1L, 3L, 4L, 5L, 6L, 7L, 8L))

    // bucket guard: cap 1 discards every multi-doc LSH bucket BEFORE the
    // quadratic self-join — zero candidate pairs, so nothing collapses.
    // (The production setting bounds damage; 1 makes the bound observable.)
    assert(survivors(base.copy(lshMaxBucket = 1)) === (1L to 8L).toSet)

    // df guard: dropping shingles with df > 2 removes the boilerplate
    // (df = 8) from the verification index, yet the true pair still
    // verifies at 1.0-ish jaccard over the SURVIVING vocabulary — the cap
    // bounds work without costing the real duplicate
    assert(survivors(base.copy(verifyMaxDf = 2L)) ===
      Set(1L, 3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("boilerplate scrub unmasks duplicates that per-site headers hide") {
    // docs 1 and 2 share a body but carry DIFFERENT site headers, each of
    // which repeats 3× corpus-wide: unscrubbed, the headers inflate the
    // shingle union so Jaccard ≈ 0.38 < 0.5 and the pair survives near-dup;
    // scrubbed (segments with ≥3 occurrences dropped — the 2× body stays),
    // both reduce to the bare body and exact dedup collapses them
    val hA = "ha1 ha2 ha3 ha4 ha5 ha6 ha7 ha8"
    val hB = "hb1 hb2 hb3 hb4 hb5 hb6 hb7 hb8"
    val body = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    def tail(p: String) = (1 to 12).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, s"$hA $body"), (2L, s"$hB $body"),
      (4L, s"$hA ${tail("c")}"), (6L, s"$hA ${tail("d")}"),
      (5L, s"$hB ${tail("e")}"), (7L, s"$hB ${tail("f")}"))
      .map { case (id, t) => (id, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
    val base = CorpusCurator.Config(minTokens = 10, maxTokens = 500)
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")

    val without = CorpusCurator.curate(docs, bench, base)
      .select("doc_id").as[Long].collect().toSet
    assert(without === Set(1L, 2L, 4L, 5L, 6L, 7L),
      "different headers mask the duplicate pair")

    val withScrub = CorpusCurator.curate(docs, bench,
        base.copy(scrubSegmentW = 4, scrubMinDup = 3L))
      .select("doc_id").as[Long].collect().toSet
    assert(withScrub === Set(1L, 4L, 5L, 6L, 7L),
      "scrubbed texts collapse doc 2 into canonical doc 1")
  }

  test("fluency gates: code density, diversity floor, and bigram floor drop the right docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "en", "s"),
      (2L, "if (x <= y) { return f(a[i]); } else { g(); } // code-like {};()", "en", "s"),
      (3L, "spam spam spam spam spam spam spam spam spam spam spam spam", "en", "s"),
      (4L, "colorless green ideas sleep furiously under a quiet winter moon", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    // symbol cap drops doc 2; TTR floor drops doc 3 (12 tokens, 1 type)
    val gated = CorpusCurator.fluencyFilter(docs,
      CorpusCurator.Config(maxSymRatio = 0.02, minTtr = 0.5))
    assert(gated.select("doc_id").as[Long].collect().toSet === Set(1L, 4L))

    // bigram floor: model trained on survivors; the doc whose transitions
    // never repeat scores below one whose bigrams appear twice
    val rep = Seq(
      (10L, "alpha beta gamma alpha beta gamma alpha beta gamma", "en", "s"),
      (11L, "one two three four five six seven eight nine ten", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val scores = graft.operators.SummaryOps.bigramLogProb(prof(rep))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(10L) > scores(11L))
    val kept = CorpusCurator.fluencyFilter(rep,
      CorpusCurator.Config(minBigramLogProb = (scores(10L) + scores(11L)) / 2))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(10L))
  }
}
