package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Scale probe for the document-corpus families with nontrivial join
  * machinery — ExactSubstr (d22-d24: inverted-index candidates → ONE
  * global suffix rank → adjacent LCP) and the eval metrics (t47-t49:
  * struct-ride gram explode → clipped-overlap join) — the GraphScaleSpec
  * discipline applied to text.
  *
  * The failure mode this guards: a quadratic tail sneaking into the
  * suffix-rank join (e.g. an accidental block × block candidate pairing)
  * or the gram joins (e.g. per-n corpus rescans multiplying out), which
  * correctness specs at fixture size can never see. The probes assert on
  * TOTAL SHUFFLE RECORDS ([[graft.TestSpark.shuffleRecords]]) — a pure
  * function of data and plan, immune to this host's CPU-steal waves — so
  * 10× the docs must shuffle well under the ~100× a quadratic term would
  * show; thresholds sit ~3× above the expected linear ratio (absorbing
  * fixed per-plan shuffle constants that dominate the small run) and
  * ~3× below quadratic.
  *
  * Duplication volume scales WITH the corpus (every 4th doc carries one
  * of 8 boilerplate spans), so the candidate frames grow linearly too —
  * the regime the Lee et al. structure promises linear work in.
  */
class DocScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** ~40-token docs: 28 unique tokens + a 12-token boilerplate span on
    * every 4th doc (8 rotating variants) — deterministic, checkpointed so
    * probe timings exclude generation lineage.
    */
  private def docsDf(n: Int): DataFrame = {
    val boiler = (0 until 8).map(v =>
      (0 until 12).map(i => s"bp${v}_$i").mkString(" "))
    val body = concat_ws(" ",
      (0 until 28).map(i => concat(lit("d"), col("id"), lit(s"_t$i"))): _*)
    spark.range(n.toLong)
      .select(col("id").as("doc_id"),
        when(col("id") % 4 === 0,
          concat_ws(" ", body,
            element_at(typedLit(boiler), (pmod(col("id") / 4, lit(8)) + 1).cast("int"))))
          .otherwise(body).as("text"))
      .localCheckpoint()
  }

  /** Adjacent-id eval pairing: even doc is the candidate of its successor. */
  private def pairsDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("cand_id"),
        (col("doc_id") + 1).as("ref_id"))
      .filter(col("cand_id") % 2 === 0)

  private def work(f: => Unit): Double =
    graft.TestSpark.shuffleRecords(f).toDouble.max(1.0)
  private def prof(df: org.apache.spark.sql.DataFrame): SpanProfile =
    QualityOps.spanProfile(df, "doc_id", "text")

  test("ExactSubstr spans/pairs/scrub: 10x the docs shuffles ~10x, not 100x") {
    val d1 = docsDf(400)
    val d10 = docsDf(4000)
    val s1 = work(QualityOps.exactSubstrSpans(prof(d1)).count())
    val s10 = work(QualityOps.exactSubstrSpans(prof(d10)).count())
    info(f"d22 spans |D|x10 shuffle-record ratio: ${s10 / s1}%.1f " +
      f"(${s1.toLong} -> ${s10.toLong})")
    assert(s10 / s1 < 30.0,
      f"exactSubstrSpans shuffle scaling ${s10 / s1}%.1fx for 10x docs — " +
        "quadratic tail in the suffix-rank machinery?")
    val p1 = work(QualityOps.dupSpanPairs(prof(d1)).count())
    val p10 = work(QualityOps.dupSpanPairs(prof(d10)).count())
    info(f"d23 pairs |D|x10 shuffle-record ratio: ${p10 / p1}%.1f " +
      f"(${p1.toLong} -> ${p10.toLong})")
    assert(p10 / p1 < 30.0, f"dupSpanPairs shuffle scaling ${p10 / p1}%.1fx")
    val c1 = work(QualityOps.exactSubstrScrub(prof(d1)).count())
    val c10 = work(QualityOps.exactSubstrScrub(prof(d10)).count())
    info(f"d24 scrub |D|x10 shuffle-record ratio: ${c10 / c1}%.1f " +
      f"(${c1.toLong} -> ${c10.toLong})")
    assert(c10 / c1 < 30.0, f"exactSubstrScrub shuffle scaling ${c10 / c1}%.1fx")
  }

  test("char-trigram language ID: 10x the docs shuffles ~10x, not 100x") {
    // the t43 linearity probe: one explode → per-doc collapse → model
    // re-aggregates; a per-language corpus rescan or a gram × lang blowup
    // would multiply the shuffled volume out of the linear envelope
    def lang(df: DataFrame) = df.withColumn("lang",
      when(col("doc_id") % 3 === 0, "en").otherwise("fr"))
    val d1 = lang(docsDf(400)).localCheckpoint()
    val d10 = lang(docsDf(4000)).localCheckpoint()
    val l1 = work(QualityOps.charNgramLangId(d1, "doc_id", "text", "lang").count())
    val l10 = work(QualityOps.charNgramLangId(d10, "doc_id", "text", "lang").count())
    info(f"t43 langid |D|x10 shuffle-record ratio: ${l10 / l1}%.1f " +
      f"(${l1.toLong} -> ${l10.toLong})")
    assert(l10 / l1 < 30.0, f"charNgramLangId shuffle scaling ${l10 / l1}%.1fx")
  }

  test("eval metrics BLEU/ROUGE-2/chrF: 10x the pairs shuffles ~10x, not 100x") {
    // at probe size AQE broadcasts the gram joins and the shuffle-record
    // probe would read 0 either way — force shuffle joins so the counts
    // actually trace the join volumes (restored in the finally)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try evalMetricsProbe()
    finally spark.conf.set(thresholdKey, saved)
  }

  private def evalMetricsProbe(): Unit = {
    val d1 = docsDf(500)
    val d10 = docsDf(5000)
    val (p1, p10) = (pairsDf(d1).localCheckpoint(), pairsDf(d10).localCheckpoint())
    val b1 = work(EvalOps.bleu(d1, "doc_id", "text", p1).count())
    val b10 = work(EvalOps.bleu(d10, "doc_id", "text", p10).count())
    info(f"t47 bleu x10 shuffle-record ratio: ${b10 / b1}%.1f " +
      f"(${b1.toLong} -> ${b10.toLong})")
    assert(b10 / b1 < 30.0, f"bleu shuffle scaling ${b10 / b1}%.1fx for 10x pairs")
    val r1 = work(EvalOps.rougeN(d1, "doc_id", "text", p1, n = 2).count())
    val r10 = work(EvalOps.rougeN(d10, "doc_id", "text", p10, n = 2).count())
    info(f"t48 rouge2 x10 shuffle-record ratio: ${r10 / r1}%.1f " +
      f"(${r1.toLong} -> ${r10.toLong})")
    assert(r10 / r1 < 30.0, f"rougeN shuffle scaling ${r10 / r1}%.1fx")
    val f1 = work(EvalOps.chrF(d1, "doc_id", "text", p1).count())
    val f10 = work(EvalOps.chrF(d10, "doc_id", "text", p10).count())
    info(f"t49 chrf x10 shuffle-record ratio: ${f10 / f1}%.1f " +
      f"(${f1.toLong} -> ${f10.toLong})")
    assert(f10 / f1 < 30.0, f"chrF shuffle scaling ${f10 / f1}%.1fx")
    // the COMPOSED report (the e2e_eval_report shape): bleu ⋈ rouge ⋈ chrf
    def report(d: org.apache.spark.sql.DataFrame,
        p: org.apache.spark.sql.DataFrame): Long =
      EvalOps.bleu(d, "doc_id", "text", p, maxN = 2)
        .select("cand_id", "ref_id", "bleu")
        .join(EvalOps.rougeN(d, "doc_id", "text", p, n = 2)
          .select("cand_id", "ref_id", "rouge_f1"), Seq("cand_id", "ref_id"))
        .join(EvalOps.chrF(d, "doc_id", "text", p, maxN = 3)
          .select("cand_id", "ref_id", "chrf"), Seq("cand_id", "ref_id"))
        .count()
    val e1 = work(report(d1, p1))
    val e10 = work(report(d10, p10))
    info(f"e2e report x10 shuffle-record ratio: ${e10 / e1}%.1f " +
      f"(${e1.toLong} -> ${e10.toLong})")
    assert(e10 / e1 < 30.0, f"composed eval report shuffle scaling ${e10 / e1}%.1fx")
  }
}
