package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.functions.TextFns
import graft.operators.FoldOps

/** Beyond-reference façade: the standard large-corpus curation chain —
  * quality gate → exact dedup → near-dup collapse → benchmark
  * decontamination → deterministic downsampling → sequence packing —
  * composed from the same operator combinators the individual `SparkEntry`
  * queries exercise (each stage is oracle-checked there in isolation).
  *
  * The whole chain is ONE lazy plan per stage boundary; nothing is
  * collected. Every stage is a filter/anti-join over the surviving corpus,
  * so the dominant cost (shingling for the dedup stages) is paid on
  * already-shrunk survivors, and every decision is a deterministic function
  * of content — re-running on a different cluster yields the same corpus.
  */
object CorpusCurator {

  /** Column bindings + thresholds. `langAllow` empty = keep all languages. */
  case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      stratumCol: String = "source",
      langAllow: Seq[String] = Seq("en"),
      minTokens: Int = 20,
      maxTokens: Int = 500,
      maxStopRatio: Double = 0.4,
      stopWords: Seq[String] = Seq("the", "a", "of", "and", "to"),
      scrubSegmentW: Int = 0,
      scrubMinDup: Long = 2L,
      dedupShingleN: Int = 3,
      minhashK: Int = 12,
      lshBands: Int = 6,
      jaccardThreshold: Double = 0.5,
      // 100 TB guard rails for the near-dup stage, surfaced here so a
      // façade caller can tune them without dropping to DedupOps: LSH
      // buckets larger than `lshMaxBucket` are discarded before the
      // quadratic self-join, and (when `verifyMaxDf` is set) shingles with
      // document frequency above it leave the verification index — both
      // bound the damage a corpus-wide boilerplate shingle can do
      lshMaxBucket: Int = DedupOps.DefaultMaxBucket,
      verifyMaxDf: Long = Long.MaxValue,
      decontamShingleN: Int = 5,
      sampleSixteenths: Map[String, Int] = Map.empty,
      sampleDefault: Int = 16,
      packCapacity: Int = 256,
      // advanced quality gates (all off by default): structural-symbol
      // density cap (code-vs-prose), lexical-diversity floor (type-token
      // ratio), and corpus-trained bigram-fluency floor — the t29/t30/t28
      // signals as curator stages
      maxSymRatio: Double = 1.0,
      minTtr: Double = 0.0,
      minBigramLogProb: Double = Double.NegativeInfinity)

  /** Stage 1 — quality gate (the `q01_funnel` predicate set). */
  def qualityFilter(docs: DataFrame, cfg: Config): DataFrame = {
    val toks = TextFns.tokens(col(cfg.textCol))
    val n = size(toks)
    val stopR = TextFns.tokenCountIn(toks, cfg.stopWords).cast("double") / n
    val langOk =
      if (cfg.langAllow.isEmpty) lit(true) else col(cfg.langCol).isin(cfg.langAllow: _*)
    docs.filter(langOk && n.between(cfg.minTokens, cfg.maxTokens) &&
      stopR < cfg.maxStopRatio)
  }

  /** Stage 1.2 — advanced quality gates (each off at its default): code
    * detection (structural-symbol density), lexical diversity (per-row
    * type-token ratio — `array_distinct`, no aggregate), and
    * corpus-trained bigram fluency. The first two are pure row
    * predicates; the fluency gate trains the add-1 bigram model on the
    * SURVIVING corpus (two hash aggregates) and semi-joins the scores
    * back — docs with no bigrams (< 2 tokens) pass, the length gate owns
    * that call.
    */
  def fluencyFilter(docs: DataFrame, cfg: Config): DataFrame = {
    val toks = TextFns.tokens(col(cfg.textCol))
    val symR = (length(col(cfg.textCol)) -
      length(regexp_replace(col(cfg.textCol), "[{}()\\[\\];=<>]", "")))
      .cast("double") / greatest(length(col(cfg.textCol)), lit(1))
    // zero-token docs pass the TTR gate (size=0 would divide to null and
    // silently drop the row) — the length gate in qualityFilter owns the
    // short-doc call, as documented above; each gate applies only when its
    // threshold moved off the default, so enabling one never drags the
    // other's predicate into the filter
    val ttr = when(size(toks) === 0, lit(1.0))
      .otherwise(size(array_distinct(toks)).cast("double") / size(toks))
    val gates = Seq(
      Option.when(cfg.maxSymRatio < 1.0)(symR <= cfg.maxSymRatio),
      Option.when(cfg.minTtr > 0.0)(ttr >= cfg.minTtr)).flatten
    val rowGated =
      if (gates.isEmpty) docs else docs.filter(gates.reduce(_ && _))
    if (cfg.minBigramLogProb == Double.NegativeInfinity) rowGated
    else {
      import graft.operators.SummaryOps.{bigramLogProb, gramProfile}
      val ok = bigramLogProb(gramProfile(rowGated, cfg.idCol, cfg.textCol))
        .filter(col("avg_logprob").isNull ||
          col("avg_logprob") >= cfg.minBigramLogProb)
        .select(cfg.idCol)
      rowGated.join(ok, Seq(cfg.idCol), "left_semi")
    }
  }

  /** Stage 1.5 — boilerplate scrub (off by default, `scrubSegmentW` > 0
    * enables): corpus-repeated aligned `scrubSegmentW`-token segments are
    * removed from EVERY doc (RefinedWeb-style line dedup) and the text
    * column is replaced by the scrubbed text — so the dedup stages compare
    * actual content, not shared boilerplate, and packing budgets don't pay
    * for it. Drops no documents; only rewrites them.
    */
  def scrubBoilerplate(docs: DataFrame, cfg: Config): DataFrame =
    if (cfg.scrubSegmentW <= 0) docs
    else {
      val cleaned = DedupOps.dropDuplicateSegments(docs, cfg.idCol,
          cfg.textCol, cfg.scrubSegmentW, cfg.scrubMinDup)
        .select(col(cfg.idCol), col("clean_text"))
      // left join + coalesce keeps the "drops no documents" contract even
      // for docs the segmenter yields nothing for (null/empty text → no
      // segment rows → no clean_text row): they pass through unchanged
      docs.join(cleaned, Seq(cfg.idCol), "left")
        .withColumn(cfg.textCol, coalesce(col("clean_text"), col(cfg.textCol)))
        .drop("clean_text")
    }

  /** Stage 2 — exact dedup: keep the smallest id per content fingerprint. */
  def exactDedup(docs: DataFrame, cfg: Config): DataFrame = {
    val canon = DedupOps.exactGroups(docs, cfg.idCol, cfg.textCol)
      .select(col("canonical_id").as(cfg.idCol))
    docs.join(canon, Seq(cfg.idCol), "left_semi")
  }

  /** Stage 3 — near-dup collapse (LSH → components → canonical survivors).
    * The `lshMaxBucket` / `verifyMaxDf` guards ride along, so the façade's
    * quadratic bounds are tunable per corpus.
    */
  def nearDedup(docs: DataFrame, cfg: Config): DataFrame =
    DedupOps.dropNearDups(docs, cfg.idCol, cfg.textCol,
      cfg.dedupShingleN, cfg.minhashK, cfg.lshBands, cfg.jaccardThreshold,
      cfg.lshMaxBucket, cfg.verifyMaxDf)

  /** Stage 4 — drop docs sharing any `decontamShingleN`-gram with the
    * benchmark set.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, cfg: Config): DataFrame = {
    val flagged = DedupOps.decontaminate(docs, benchmark, cfg.idCol,
      cfg.textCol, cfg.decontamShingleN)
    docs.join(flagged.filter(col("contaminated") === 1).select(cfg.idCol),
      Seq(cfg.idCol), "left_anti")
  }

  /** Stage 5 — deterministic stratified downsample (no-op when every
    * stratum keeps 16/16).
    */
  def sample(docs: DataFrame, cfg: Config): DataFrame =
    FoldOps.stratifiedHashSample(docs, col(cfg.idCol), col(cfg.stratumCol),
      cfg.sampleSixteenths, cfg.sampleDefault).drop("h16")

  /** Stage 6 — sequence packing: append `n_tokens` and `bin_id`. */
  def pack(docs: DataFrame, cfg: Config): DataFrame =
    FoldOps.packByCumsum(
      docs.withColumn("n_tokens", size(TextFns.tokens(col(cfg.textCol)))),
      Seq(cfg.stratumCol), Seq(cfg.idCol), col("n_tokens"), cfg.packCapacity)

  /** The full chain. Every dedup/decontamination stage references its
    * input TWICE (the corpus plus a semi/anti-join keyed off a
    * derivation of the same corpus), so an unbroken lazy chain
    * duplicates the upstream scan+tokenize subtree ~2× per stage — ~8×
    * by the packer (ReuseExchange cannot help: the duplicated subtrees
    * sit below any exchange). Lazy checkpoints at the stage boundaries
    * make each survivors frame materialize once and feed both
    * references (guide §2.4 recompute removal); values are untouched.
    */
  def curate(docs: DataFrame, benchmark: DataFrame, cfg: Config = Config()): DataFrame = {
    val gated = scrubBoilerplate(
      fluencyFilter(qualityFilter(docs, cfg), cfg), cfg).localCheckpoint(false)
    val exact = exactDedup(gated, cfg).localCheckpoint(false)
    val near = nearDedup(exact, cfg).localCheckpoint(false)
    val clean = decontaminate(near, benchmark, cfg).localCheckpoint(false)
    pack(sample(clean, cfg), cfg)
  }

  /** The chain plus the per-stage survivor funnel (one count action per
    * stage — the curation report every corpus run ships with).
    */
  def curateWithReport(docs: DataFrame, benchmark: DataFrame,
      cfg: Config = Config()): (DataFrame, Seq[(String, Long)]) = {
    // stage checkpoints: here each stage frame has THREE consumers (the
    // next stage's two references plus its own report count) — see the
    // recompute note on [[curate]]
    val s1 = qualityFilter(docs, cfg).localCheckpoint(false)
    val s12 = fluencyFilter(s1, cfg).localCheckpoint(false)
    val s15 = scrubBoilerplate(s12, cfg).localCheckpoint(false)
    val s2 = exactDedup(s15, cfg).localCheckpoint(false)
    val s3 = nearDedup(s2, cfg).localCheckpoint(false)
    val s4 = decontaminate(s3, benchmark, cfg).localCheckpoint(false)
    val s5 = sample(s4, cfg).localCheckpoint(false)
    val out = pack(s5, cfg)
    val report = Seq(
      "00_input" -> docs.count(), "10_quality" -> s1.count(),
      "12_fluency" -> s12.count(),
      "15_scrub" -> s15.count(), // rewrites only — equals 10_quality by contract
      "20_exact_dedup" -> s2.count(), "30_near_dedup" -> s3.count(),
      "40_decontaminated" -> s4.count(), "50_sampled" -> s5.count())
    (out, report)
  }
}
