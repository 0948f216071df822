package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Published corpus-curation quality gates, each a single codegen'd pass
  * (or two hash aggregates) over the document frame — the rule-based
  * front half of an LLM training-data pipeline, upstream of the
  * `dedup.DedupOps` near-dup stages:
  *
  *  - [[gopherRules]]   — the Gopher repetition-free quality heuristics
  *                        (Rae et al. 2021, appendix A1.1)
  *  - [[perplexityBuckets]] — CCNet's LM-perplexity head/middle/tail
  *                        terciles (Wenzek et al. 2020)
  *  - [[dsirWeights]]   — Data Selection via Importance Resampling's
  *                        hashed-n-gram log importance weights
  *                        (Xie et al. 2023), over [[DsirDim]] buckets
  *  - [[dupSpanCoverage]] — fraction of each doc covered by corpus-
  *                        duplicated token spans (Lee et al. 2022,
  *                        "Deduplicating Training Data Makes Language
  *                        Models Better" — the ExactSubstr measure)
  *
  * The two LM gates take a [[GramProfile]] ([[SummaryOps.gramProfile]]),
  * the bigram-LM family's one front end. All four are deterministic
  * pure functions of the corpus (no RNG, no float-sum ordering: integer
  * sufficient statistics or per-term fixed-point quantization
  * throughout), so each is hash-oracle-able against a SQL engine.
  */
object QualityOps {

  /** The Gopher word-level quality rules as per-document flags plus the
    * composite keep verdict. One map-only pass: every measure is a
    * higher-order function over the split token array (codegen'd, no
    * UDFs, no shuffle at all):
    *
    *  - word count within [minWords, maxWords]
    *  - mean word length within [3, 10] characters
    *  - ≥ 80% of words contain at least one alphabetic character
    *  - ≤ 10% of words are symbol-ish (`#` or `...`)
    *  - at least two hits from the Gopher stopword octet
    *
    * Ratios are exact-integer divisions rounded to 6; `keep` is an int
    * flag so downstream filters and the SQL oracle agree bit-for-bit.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(docs: DataFrame, id: String, text: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val toks = TextFns.tokens(col(text))
    val n = size(toks)
    val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast("double") / n
    val alphaFrac = size(filter(toks, t => t.rlike("[a-zA-Z]")))
      .cast("double") / n
    val symbolFrac = size(filter(toks,
      t => t.contains("#") || t.contains("..."))).cast("double") / n
    val stopHits = TextFns.tokenCountIn(toks, gopherStopwords)
    docs.filter(col(text).isNotNull)
      .select(col(id), n.as("n_words"),
        round(meanLen, 6).as("mean_word_len"),
        round(alphaFrac, 6).as("alpha_frac"),
        round(symbolFrac, 6).as("symbol_frac"),
        stopHits.as("stop_hits"))
      .withColumn("keep",
        when(col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("alpha_frac") >= 0.8 &&
          col("symbol_frac") <= 0.1 &&
          col("stop_hits") >= 2, 1).otherwise(0))
  }

  /** CCNet's perplexity gate: score every doc under the corpus-trained
    * add-1 bigram LM ([[SummaryOps.bigramLogProb]]), convert to
    * perplexity exp(−avg logprob), and bucket the corpus into
    * head / middle / tail terciles by perplexity rank — head being the
    * most fluent third the pipeline keeps, tail the third it drops or
    * down-weights (Wenzek et al. 2020 §4.3, which buckets on exactly
    * this corpus-relative rank rather than an absolute threshold).
    *
    * The tercile rank is the two-phase exact global rank
    * ([[RankOps.globalRowNumber]] — no single-partition exchange), keyed
    * on the ROUNDED score so both engines order identical doubles;
    * bucket = ⌊(rank−1)·3 / n⌋ against a one-row count frame. Docs with
    * no bigrams (< 2 tokens) are excluded — they have no LM score.
    */
  def perplexityBuckets(p: GramProfile): DataFrame = {
    val id = p.id
    val scored = SummaryOps.bigramLogProb(p)
      .filter(col("n_bigrams") > 0)
      .select(col(id), round(exp(-col("avg_logprob")), 6).as("ppl"))
    val ranked = RankOps.globalRowNumber(scored,
      Seq(col("ppl").asc, col(id).asc), "__rk")
    val nTot = scored.agg(count(lit(1)).as("__nt"))
    ranked.crossJoin(broadcast(nTot))
      .select(col(id), col("ppl"),
        element_at(
          array(lit("head"), lit("middle"), lit("tail")),
          (floor((col("__rk") - 1) * 3 / col("__nt")) + 1).cast("int"))
          .as("bucket"))
  }

  /** DSIR hashed-n-gram importance weights (Xie et al. 2023): estimate a
    * bag-of-hashed-bigrams unigram model p over the TARGET slice and q
    * over the RAW corpus, both add-1 smoothed over [[DsirDim]] hash
    * buckets; each document's weight is its mean per-bigram log
    * importance ratio ln(p_b / q_b) — the score importance resampling
    * then samples by.
    *
    * `markers` is `(id, __tgt: boolean)`: `__tgt` marks the target slice,
    * and the markers also SCOPE the pass — only marked docs are modeled
    * and scored (the composed quality gate restricts it to rule
    * survivors), so the profile's collapsed gram frame is filtered, never
    * re-exploded. Multiplicities ride the `__m` column: bucket counts and
    * per-doc sums weight by it, the per-occurrence arithmetic.
    *
    * Id contract ([[SummaryOps.gramProfile]]'s): one marker row per id,
    * and a null id is unmarked — its doc surfaces with `n_bigrams` 0 and
    * a null weight and adds nothing to the model. Docs with no bigrams
    * surface the same way.
    *
    * Cross-engine exactness: bucket counts are exact integers (two hash
    * aggregates); the per-bucket log ratio is ONE double computed from
    * those integers, quantized to integer nanos at the bucket table
    * (≤ [[DsirDim]] rows, broadcast); per-doc sums are therefore exact
    * BIGINT sums, closed by a single division — the pageRank fixed-point
    * contract.
    *
    * Scale: bigram → bucket is map-side over the collapsed frame; the two
    * count aggregates shuffle [[DsirDim]]-bounded keys; the per-doc score
    * is one hash aggregate on the doc id.
    */
  def dsirWeights(p: GramProfile, markers: DataFrame): DataFrame = {
    val id = p.id
    val bg = markedBigrams(p, markers)
    val perDoc = bg.join(broadcast(dsirRatios(bg)), Seq("__b"))
      .groupBy(col(id))
      .agg(sum(col("__m")).as("n_bigrams"),
        sum(col("__m") * col("__lrq")).as("__s"))
    markers.select(col(id)).join(perDoc, Seq(id), "left")
      .select(col(id), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("__s") / col("n_bigrams") / 1e9, 6).as("dsir_w"))
  }

  /** The FROZEN DSIR model as a standalone frame `(bucket, lrq)`: per-
    * bucket nano-quantized log importance ratio, ≤ [[DsirDim]] rows —
    * exactly the table [[dsirWeights]] scores against for the same
    * `(p, markers)`. Train it batch-side, collect it (bounded by
    * construction), and hand it to the streaming twin
    * ([[graft.streaming.EventStreams.qualityGateStream]]) to gate a live
    * feed statelessly.
    */
  def dsirBucketRatios(p: GramProfile, markers: DataFrame): DataFrame =
    dsirRatios(markedBigrams(p, markers))
      .select(col("__b").as("bucket"), col("__lrq").as("lrq"))

  /** Hash buckets of the DSIR model, shared by the batch scorer and the
    * streaming gate, so a model can only be scored at the width it was
    * trained at.
    */
  private[graft] val DsirDim = 128

  /** The DSIR bucket of a bigram string: md5-prefix hash mod [[DsirDim]]. */
  private[graft] def dsirBucket(bigram: Column): Column =
    pmod(conv(substring(md5(bigram), 1, 4), 16, 10).cast("int"),
      lit(DsirDim))

  /** `(id, __bg, __m, __tgt, __b)` — the profile's collapsed bigrams of
    * the marked docs with their target flag and hash bucket.
    */
  private def markedBigrams(p: GramProfile, markers: DataFrame): DataFrame =
    p.docBigrams
      .join(markers.select(col(p.id), col("__tgt").cast("int").as("__tgt")),
        Seq(p.id))
      .withColumn("__b", dsirBucket(col("__bg")))

  /** ln(p_b/q_b) per bucket `(__b, __lrq)` from exact integer counts,
    * pinned to nanos; buckets with no mass at all simply never join (no
    * bigram hashes there), so add-1 smoothing over [[DsirDim]] buckets is
    * applied to the observed-bucket table only — identical on both
    * engines.
    */
  private def dsirRatios(bg: DataFrame): DataFrame = {
    val counts = bg.groupBy("__b")
      .agg(sum(col("__m")).as("__r"),
        sum(col("__m") * col("__tgt")).cast("long").as("__t"))
    val totals = counts.agg(sum(col("__r")).as("__rt"), sum(col("__t")).as("__tt"))
    counts.crossJoin(broadcast(totals))
      .select(col("__b"),
        round(log((col("__t") + 1.0) / (col("__tt") + lit(DsirDim.toDouble)) *
          (col("__rt") + lit(DsirDim.toDouble)) / (col("__r") + 1.0)) * 1e9, 0)
          .cast("long").as("__lrq"))
  }

  /** Char-n-gram language identification (the Cavnar–Trenkle 1994 n-gram
    * categorization family, in its add-1 multinomial form): train per-
    * language char-trigram models on the corpus's own declared labels,
    * score every doc under all languages, emit the declared-vs-predicted
    * confusion matrix — the audit that catches mislabeled-language feeds
    * with far more signal than the t03 stopword heuristic.
    *
    * EXACT integer end-to-end: the per-(gram, lang) log-likelihood and
    * the per-lang unseen-gram baseline are each ONE double pinned to
    * integer picos at the bounded model table; a doc's score decomposes
    * as M·base_l + Σ_seen m·(lp_gl − base_l), all BIGINT, so the argmax
    * compares exact integers — no float ordering anywhere. Scale: one
    * substring explode into the per-doc collapse ([[charGramCounts]]),
    * independent model re-aggregates off that one frame, one gram-keyed
    * join back (hash join on the gram — the model frame is
    * vocabulary-sized, NOT broadcast: char-gram vocabularies over CJK
    * corpora run to millions × langs), one ≤|langs|-row broadcast of
    * baselines.
    */
  def charNgramLangId(docs: DataFrame, id: String, text: String,
      lang: String, n: Int = 3): DataFrame =
    charNgramLangIdFromCounts(
      charGramCounts(docs, id, text, lang, n).localCheckpoint(), id, lang)

  /** Per-(doc, gram) char-n-gram multiplicities `(id, lang, __g, __m)` —
    * the [[charNgramLangId]] front end, exposed so a harness can pin ONE
    * counts frame for every consumer (the shared-profile discipline).
    *
    * ONE codegen'd substring explode (|chars| rows) into ONE hash
    * aggregate with map-side partial combine — the shuffled volume is
    * |distinct (doc, gram)|, and every model/scoring stage downstream is
    * a re-aggregate of this (much smaller) collapsed frame, never a
    * second pass over the raw gram stream. (An in-row sort+RLE variant
    * avoids the shuffle entirely but loses whole-stage codegen to
    * interpreted lambda evaluation — measured slower at every scale
    * tried, so the exploded form stands.)
    */
  def charGramCounts(docs: DataFrame, id: String, text: String,
      lang: String, n: Int): DataFrame = {
    val base = graft.Tables.spread(docs.select(col(id), col(text), col(lang)))
      .filter(col(text).isNotNull && length(col(text)) >= n)
    base.select(col(id), col(lang), col(text),
        explode(sequence(lit(1), length(col(text)) - (n - 1))).as("__p"))
      .select(col(id), col(lang),
        col(text).substr(col("__p"), lit(n)).as("__g"))
      .groupBy(col(id), col(lang), col("__g"))
      .agg(count(lit(1)).as("__m"))
  }

  /** [[charNgramLangId]]'s model + scoring over a prebuilt (possibly
    * pinned) [[charGramCounts]] frame.
    */
  def charNgramLangIdFromCounts(dg: DataFrame, id: String,
      lang: String): DataFrame = {
    val docTot = dg.groupBy(col(id), col(lang)).agg(sum("__m").as("__M"))
    // every model aggregate branches DIRECTLY off the (checkpointed)
    // counts frame, not off each other: per-lang totals are Σ__m per
    // lang whether summed from dg or from the (gram, lang) collapse, and
    // the vocabulary is the same distinct-gram set — so tl/vocab/gl are
    // THREE INDEPENDENT stages the scheduler overlaps, instead of the
    // previous serial gl-checkpoint job the other two had to wait behind
    val gl = dg.groupBy(col("__g"), col(lang).as("__l"))
      .agg(sum(col("__m")).as("__c"))
    val tl = dg.groupBy(col(lang).as("__l")).agg(sum(col("__m")).as("__T"))
    val vocab = dg.agg(count_distinct(col("__g")).cast("double").as("__V"))
    val lp = gl.join(broadcast(tl), Seq("__l")).crossJoin(broadcast(vocab))
      .select(col("__g"), col("__l"),
        round(log((col("__c") + 1.0) / (col("__T") + col("__V"))) * 1e12, 0)
          .cast("long").as("__lpq"))
    val baseLp = tl.crossJoin(broadcast(vocab))
      .select(col("__l"),
        round(log(lit(1.0) / (col("__T") + col("__V"))) * 1e12, 0)
          .cast("long").as("__bq"))
    // shuffle_hash on the model side: the counts frame must NEVER be the
    // build side (AQE's stats on a checkpointed RDD under-estimate it and
    // will happily broadcast the DOC-sided frame — measured 3× slower at
    // sf0.1 and fatal at corpus scale), and the model side must not be
    // forced broadcast either (vocab × langs is unbounded over CJK
    // corpora) — a shuffled hash join on the gram key is the shape that
    // survives both ends
    val contrib = dg.drop(lang).join(lp.hint("shuffle_hash"), Seq("__g"))
      .join(broadcast(baseLp), Seq("__l"))
      .groupBy(col(id), col("__l"))
      .agg(sum(col("__m") * (col("__lpq") - col("__bq"))).as("__delta"))
    val scores = docTot.crossJoin(broadcast(baseLp))
      .join(contrib, Seq(id, "__l"), "left")
      .select(col(id), col(lang), col("__l"),
        (col("__M") * col("__bq") + coalesce(col("__delta"), lit(0L)))
          .as("__score"))
    // argmax score, ties to the alphabetically first language — the
    // labelPropagation struct-min trick, exact integer comparison
    val pred = scores.groupBy(col(id), col(lang))
      .agg(min(struct((-col("__score")).as("ns"), col("__l").as("l")))
        .getField("l").as("pred_lang"))
    pred.groupBy(col(lang), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** ExactSubstr duplication coverage (Lee et al. 2022): the fraction of
    * each document's token positions covered by some `k`-token span that
    * occurs ≥ 2 times corpus-wide. Where [[graft.dedup.DedupOps]] asks
    * "which DOCUMENT PAIRS are near-dups", this asks "how much of THIS
    * doc is boilerplate that appears elsewhere" — the signal behind
    * span-level dedup and the memorization audits.
    *
    * Plan: posexplode each doc's k-gram starts (positions 0..n−k), hash
    * the joined gram, count grams globally (one hash agg), keep hashes
    * with count ≥ 2, join back to positions (inner — non-dup positions
    * drop early), then per-doc interval union WITHOUT an interval-merge
    * loop: spans all have length k and arrive position-sorted, so union
    * length = Σ min(k, next_start − start) with the last span
    * contributing k — one lead() window per doc. All-integer until the
    * closing division.
    */
  def dupSpanCoverage(docs: DataFrame, id: String, text: String,
      k: Int): DataFrame = {
    val toks = graft.Tables.spread(docs.select(col(id), col(text)))
      .select(col(id), TextFns.tokens(col(text)).as("__t"))
      .select(col(id), col("__t"), size(col("__t")).as("n_toks"))
    val gramsFixed = toks
      .filter(col("n_toks") >= k)
      .select(col(id), col("__t"), col("n_toks"),
        posexplode(sequence(lit(0), size(col("__t")) - k))
          .as(Seq("__i", "pos")))
      .select(col(id), col("n_toks"), col("pos"),
        md5(array_join(slice(col("__t"), col("pos") + 1, lit(k)), " ")).as("__h"))
    val dupHashes = gramsFixed.groupBy("__h")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select("__h")
    val dupPos = gramsFixed.join(dupHashes, Seq("__h"))
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val covered = dupPos
      .withColumn("__next", lead(col("pos"), 1).over(w))
      .withColumn("__cov",
        when(col("__next").isNull, lit(k.toLong))
          .otherwise(least(lit(k.toLong), (col("__next") - col("pos")).cast("long"))))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("__cov")).as("covered_tokens"))
    docs.select(col(id)).join(toks.select(col(id), col("n_toks")), Seq(id))
      .join(covered, Seq(id), "left")
      .select(col(id), col("n_toks"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_toks"), 6).as("coverage"))
  }

  /** True ExactSubstr (Lee et al. 2022 §4.1): ARBITRARY-length maximal
    * duplicated token spans, superseding [[dupSpanCoverage]]'s fixed-k
    * shingle approximation — a 500-token verbatim duplicate is reported
    * as one ~500-token span, not as k-gram coverage.
    *
    * Structure (the suffix-array neighborhood, relationally):
    *  1. Candidate positions: a span of length ≥ `MinLen` (5) starting at
    *     p requires p's `MinLen`-gram to repeat globally — the
    *     [[dupSpanCoverage]] inverted-index filter, so only genuinely
    *     duplicated positions (not all n positions) carry a suffix key.
    *     This loses nothing: a position's best partner shares its gram,
    *     so both survive the filter and their LCP is computed exactly.
    *  2. Sorted-suffix neighborhood: each candidate's `Cap`-token (64) suffix
    *     prefix is globally sorted (two-phase exact rank — no
    *     single-partition exchange) and LCP'd against its immediate
    *     sorted neighbor. In a sorted suffix list the max-LCP partner is
    *     always adjacent, so dupLen(p) = max(LCP prev, LCP next) is the
    *     exact maximal duplicated length from p, clipped at `Cap`.
    *  3. Maximal spans: intervals [p, p+dupLen) with dupLen ≥ MinLen are
    *     unioned per doc via one running-max window (gaps-and-islands);
    *     islands merge only on OVERLAP, so two abutting-but-distinct
    *     duplicated spans stay separate.
    *
    * All arithmetic is exact integers; the only double is the closing
    * coverage ratio. Scale: the suffix frame is |duplicated positions| ×
    * `Cap` tokens — proportional to actual duplication volume, never the
    * n² suffix text; sort is range-partitioned; every join is an
    * equi-join on rank or id.
    *
    * Token counts and islands come off the profile's checkpointed frames,
    * so the whole ExactSubstr family pays ONE suffix rank, not one per
    * member.
    */
  def exactSubstrSpans(p: SpanProfile): DataFrame = {
    val perIsland = p.islands
      .select(col(p.id), (col("__e") - col("__s")).as("__slen"))
    val perDoc = perIsland.groupBy(col(p.id))
      .agg(count(lit(1)).as("n_spans"), max(col("__slen")).as("max_span"),
        sum(col("__slen")).as("covered_tokens"))
    // toks is one row per doc already — joining the raw relation back in
    // would only re-introduce the shared-lineage branch the fresh-alias
    // projection above exists to avoid
    p.toks.select(col(p.id), col("n_toks"))
      .join(perDoc, Seq(p.id), "left")
      .select(col(p.id), col("n_toks"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span"), lit(0L)).as("max_span"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_toks"), 6).as("coverage"))
  }

  /** Island union over the profile's rank-adjacency frame — the merged
    * duplicated-token intervals per doc, `(id, __s, __e)` with positions
    * 0-based and `__e` exclusive: per-position dupLen = max(LCP with the
    * prev/next ranked suffix) → gaps-and-islands union of overlapping
    * spans.
    */
  private[operators] def islandsFromAdjacency(ranked: DataFrame,
      adj: DataFrame, id: String): DataFrame = {
    val nxt = adj.select(col("__rn"), col("__lcpn"))
    val spans = ranked
      .join(nxt, Seq("__rn"), "left")
      .join(nxt.select((col("__rn") + 1).as("__rn"),
        col("__lcpn").as("__lcpp")), Seq("__rn"), "left")
      .select(col(id), col("pos"),
        greatest(coalesce(col("__lcpn"), lit(0L)),
          coalesce(col("__lcpp"), lit(0L))).as("__len"))
      .filter(col("__len") >= SpanProfile.MinLen)
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val islands = spans
      .withColumn("__rmax", max(col("pos") + col("__len"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__rmax").isNull || col("pos") >= col("__rmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(w))
    islands.groupBy(col(id), col("__isl"))
      .agg(min(col("pos")).as("__s"), max(col("pos") + col("__len")).as("__e"))
      .select(col(id), col("__s"), col("__e"))
  }

  /** ExactSubstr span REMOVAL — Lee et al. 2022's actual training-data
    * transform: every token position inside a duplicated island (d22's
    * intervals) is dropped from the document and the survivors re-join as
    * the scrubbed text. Matches the reference tooling's convention of
    * removing EVERY occurrence of a duplicated substring, not all-but-one
    * (the conservative form; pair it with d23's attribution when a
    * keep-one policy is wanted).
    *
    * The island list re-enters per doc as one array column (islands per
    * doc are few by construction — they are maximal merged intervals), so
    * the scrub itself is a single codegen'd positional `filter` over the
    * already-materialized token array: no token-level join, no shuffle
    * beyond d22's own machinery.
    * Output: `id, n_toks, n_kept, scrubbed`.
    */
  def exactSubstrScrub(p: SpanProfile): DataFrame = {
    val spansPerDoc = p.islands
      .groupBy(col(p.id))
      .agg(collect_list(struct(col("__s").as("s"), col("__e").as("e")))
        .as("__spans"))
    val kept = when(col("__spans").isNull, col("__t"))
      .otherwise(filter(col("__t"), (_, i) =>
        !exists(col("__spans"),
          sp => i >= sp.getField("s") && i < sp.getField("e"))))
    p.toks.join(spansPerDoc, Seq(p.id), "left")
      .select(col(p.id), col("n_toks").cast("long").as("n_toks"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("scrubbed"))
  }

  /** Cross-document attribution of duplicated spans — WHICH doc pairs
    * share verbatim material, and how long their longest shared span is
    * (the report behind "license boilerplate vs mirrored article"
    * triage and span-level dedup keep-lists). Rank-adjacent suffix pairs
    * with token-LCP ≥ `MinLen` from the [[exactSubstrSpans]] machinery,
    * restricted to pairs from DIFFERENT docs, normalized (doc_a <
    * doc_b) and grouped — adjacency chains cover every duplication
    * cluster transitively (the Lee et al. 2022 structure) without ever
    * joining block × block. NOTE: the output is therefore a SPANNING set
    * of each duplication cluster, not its closure — in a cluster of ≥3
    * docs sharing a span, pair (a, c) may never be suffix-rank-adjacent;
    * [[dupSpanClusters]] closes the gap at cluster level.
    * Output: `doc_a, doc_b, n_adjacent, max_shared_span`.
    */
  def dupSpanPairs(p: SpanProfile): DataFrame = p.pairs

  /** The rank-adjacency frame: one row per adjacent pair in the sorted
    * suffix list — `(__rn, __da, __db, __lcpn)` where `__rn` is the LEFT
    * member's rank and `__lcpn` their token LCP. Islands AND cross-doc
    * pairs both derive from this one self-join, so the LCP kernel runs
    * once per profile, not once per view.
    */
  private[operators] def adjacentLcp(ranked: DataFrame,
      id: String): DataFrame =
    ranked.alias("a")
      .join(ranked.alias("b"), col("a.__rn") === col("b.__rn") - 1)
      .select(col("a.__rn").as("__rn"),
        col(s"a.$id").as("__da"), col(s"b.$id").as("__db"),
        tokenLcp(col("a.__sfx"), col("b.__sfx")).as("__lcpn"))

  /** Cross-doc adjacent-pair attribution over the profile's adjacency
    * frame (the [[islandsFromAdjacency]] sibling, same
    * one-rank-many-views motive).
    */
  private[operators] def pairsFromAdjacency(adj: DataFrame): DataFrame =
    adj
      .filter(col("__lcpn") >= SpanProfile.MinLen && col("__da") =!= col("__db"))
      .groupBy(least(col("__da"), col("__db")).as("doc_a"),
        greatest(col("__da"), col("__db")).as("doc_b"))
      .agg(count(lit(1)).as("n_adjacent"),
        max(col("__lcpn")).as("max_shared_span"))

  /** Keep-one ExactSubstr scrub — the OTHER deduplication policy Lee et
    * al. 2022 discuss: instead of removing every occurrence of duplicated
    * material ([[exactSubstrScrub]]), retain one canonical copy. Keep-one
    * here is at DOC granularity via the span-cluster closure: the
    * representative of each cluster (its min doc id, the
    * [[dupSpanClusters]] `cluster_id`) keeps its text untouched; every
    * other member has ALL its duplicated islands removed. Docs outside
    * any cross-doc cluster also keep their text — their duplication is
    * purely internal (the single physical copy IS the kept one) or
    * nonexistent. So every duplicated span survives in exactly one
    * cluster member, and corpus-wide every span is still represented.
    *
    * One suffix rank feeds BOTH views (islands and pairs) — the front
    * half runs once, not twice; the closure adds the d25 label-prop loop
    * on the |pairs|-bounded edge frame.
    * Output: `id, n_toks, n_kept, kept_intact, scrubbed`.
    */
  def exactSubstrScrubKeepOne(p: SpanProfile): DataFrame = {
    val nonRep = p.components
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as(p.id))
    val spansPerDoc = p.islands
      .join(nonRep, Seq(p.id), "left_semi")
      .groupBy(col(p.id))
      .agg(collect_list(struct(col("__s").as("s"), col("__e").as("e")))
        .as("__spans"))
    val kept = when(col("__spans").isNull, col("__t"))
      .otherwise(filter(col("__t"), (_, i) =>
        !exists(col("__spans"),
          sp => i >= sp.getField("s") && i < sp.getField("e"))))
    p.toks.join(spansPerDoc, Seq(p.id), "left")
      .select(col(p.id), col("n_toks").cast("long").as("n_toks"),
        size(kept).cast("long").as("n_kept"),
        col("__spans").isNull.as("kept_intact"),
        array_join(kept, " ").as("scrubbed"))
  }

  /** Cluster-level closure of [[dupSpanPairs]]: the adjacent-pair graph
    * fed through [[graft.dedup.DedupOps.connectedComponents]] (bounded-
    * round large-star/small-star), so a duplication cluster of ≥3 docs
    * reports ALL members as mutually attributed — the transitivity the
    * rank-adjacent spanning set alone cannot promise ((a, c) may never be
    * suffix-rank-adjacent even when a, b, c all carry the same span).
    * One row per doc appearing in any cross-doc pair:
    * `(doc_id, cluster_id, cluster_size, cluster_max_span)` where
    * `cluster_id` is the cluster's min doc id and `cluster_max_span` the
    * longest shared span seen on any of the cluster's adjacent pairs.
    * Docs with no cross-doc duplication are absent (they have no cluster
    * to report). The pair frame is checkpointed once and reused as BOTH
    * the component edge list and the span source — the closure adds two
    * hash aggregates and one bounded label-prop loop on a frame that is
    * |dup pairs|-sized, never corpus-sized.
    */
  def dupSpanClusters(p: SpanProfile): DataFrame = {
    val comp = p.components
    val clusterSpan = p.pairs
      .join(comp.select(col("doc_id").as("doc_a"), col("canonical_id")),
        Seq("doc_a"))
      .groupBy(col("canonical_id"))
      .agg(max(col("max_shared_span")).as("cluster_max_span"))
    val sizes = comp.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, Seq("canonical_id"))
      .join(clusterSpan, Seq("canonical_id"))
      .select(col("doc_id"), col("canonical_id").as("cluster_id"),
        col("cluster_size"), col("cluster_max_span"))
  }

  /** Span-level benchmark decontamination — the ExactSubstr complement of
    * the doc-level n-gram overlap check ([[graft.dedup.DedupOps
    * .decontaminate]]): which EVAL docs share a verbatim token span of
    * ≥ `MinLen` with ANY train doc, and how long. Lee et al. 2022 report
    * exactly this leak class (benchmark passages embedded inside training
    * pages) surviving doc-level dedup.
    *
    * Built on the cluster closure, not raw pair adjacency: in the sorted
    * suffix list an (eval, train) pair may never be rank-adjacent when
    * another copy sorts between them, so pair adjacency alone would
    * UNDER-report contamination. Clusters trade pair precision for
    * guaranteed recall — `max_shared_span` is the longest span shared
    * anywhere in the doc's cluster, an upper bound on the eval↔train
    * overlap — which is the right direction for a gate that quarantines.
    * Eval docs whose duplication is purely eval-internal (a cluster with
    * no train member) are NOT contaminated.
    *
    * Ids must be disjoint across the two frames (they key the shared
    * suffix rank). One suffix rank over the union + the d25 closure; the
    * set marker re-attaches by id equi-join.
    * Output: one row per eval doc —
    * `(id, n_train_partners, max_shared_span, contaminated)`.
    */
  def spanDecontaminate(train: DataFrame, evalDocs: DataFrame, id: String,
      text: String): DataFrame = {
    // ids key the shared suffix rank, so an id collision would silently
    // merge two DIFFERENT documents into one suffix neighborhood and
    // corrupt every contamination verdict downstream — fail loudly
    // instead. The check is one semi-join over the two id columns only
    // (column-pruned scans), nothing document-sized.
    val clash = train.select(col(id))
      .join(evalDocs.select(col(id)), Seq(id), "left_semi")
      .limit(1).count()
    require(clash == 0L,
      s"spanDecontaminate: train and eval share at least one `$id` — ids " +
        "must be disjoint across the two frames (they key the shared " +
        "suffix rank); prefix-tag one side or use " +
        "spanDecontaminateMarked over a single table")
    spanDecontaminateMarked(
      train.select(col(id), col(text)).withColumn("__eval", lit(false))
        .unionByName(evalDocs.select(col(id), col(text))
          .withColumn("__eval", lit(true))),
      id, text, col("__eval"))
  }

  /** Single-scan form of [[spanDecontaminate]] for the common case where
    * train and eval live in ONE table: `isEval` marks the benchmark rows,
    * so the corpus is read once instead of once per derived frame (at the
    * 100 TB design point the two-frame union + two id-list joins would
    * re-scan the fact table four times; here every view — suffix rank,
    * set markers, eval keep-list — projects off the same scan).
    */
  def spanDecontaminateMarked(docs: DataFrame, id: String, text: String,
      isEval: Column): DataFrame = {
    val base = graft.Tables.spread(docs.select(col(id), col(text), isEval.as("__eval")))
      .select(col(id), TextFns.tokens(col(text)).as("__t"), col("__eval"))
      .select(col(id), col("__t"), size(col("__t")).as("n_toks"),
        col("__eval"))
      .localCheckpoint(false)
    val p = spanProfileFromToks(base.drop("__eval"), id)
    spanDecontaminate(p, base.select(col(id), col("__eval")))
  }

  /** [[spanDecontaminateMarked]] over a pre-built [[SpanProfile]] plus a
    * marker frame `(id, __eval: boolean)` covering every profiled doc —
    * the shared-front-end form: when the profile already exists for the
    * rest of the family, the extra marker scan is id-and-flag-only
    * (column-pruned), nothing document-sized.
    */
  def spanDecontaminate(p: SpanProfile, markers: DataFrame): DataFrame = {
    val comp = p.components
    val sets = markers.select(col(p.id).as("doc_id"), col("__eval"))
    val members = comp.join(sets, Seq("doc_id"))
    val clusterSpan = p.pairs
      .join(comp.select(col("doc_id").as("doc_a"), col("canonical_id")),
        Seq("doc_a"))
      .groupBy(col("canonical_id"))
      .agg(max(col("max_shared_span")).as("__cspan"))
    val clusterTrain = members.groupBy(col("canonical_id"))
      .agg(sum(when(!col("__eval"), 1L).otherwise(0L))
        .as("n_train_partners"))
    val hits = members.filter(col("__eval"))
      .join(clusterTrain, Seq("canonical_id"))
      .join(clusterSpan, Seq("canonical_id"))
      .filter(col("n_train_partners") >= 1)
      .select(col("doc_id").as(p.id), col("n_train_partners"),
        col("__cspan").as("max_shared_span"))
    markers.filter(col("__eval")).select(col(p.id))
      .join(hits, Seq(p.id), "left")
      .select(col(p.id),
        coalesce(col("n_train_partners"), lit(0L)).as("n_train_partners"),
        coalesce(col("max_shared_span"), lit(0L)).as("max_shared_span"),
        col("n_train_partners").isNotNull.as("contaminated"))
  }

  /** Build the shared [[SpanProfile]] for the ExactSubstr family: ONE
    * corpus scan + tokenize + suffix rank, off which every member view
    * (span report, scrub, pairs, clusters, keep-one, decontaminate)
    * derives. Each derived frame is lazily local-checkpointed on first
    * use, so running the WHOLE family costs one front end instead of one
    * per member — at 100 TB the suffix rank is by far the family's
    * dominant term (a global sort of every duplicated position's
    * `SpanProfile.Cap`-token suffix), so a five-member curation pipeline
    * pays it once.
    */
  def spanProfile(docs: DataFrame, id: String, text: String): SpanProfile =
    spanProfileFromToks(
      graft.Tables.spread(docs.select(col(id), col(text)))
        .select(col(id), TextFns.tokens(col(text)).as("__t"))
        .select(col(id), col("__t"), size(col("__t")).as("n_toks"))
        .localCheckpoint(false),
      id)

  /** [[spanProfile]] over an already-tokenized `(id, __t, n_toks)` frame
    * (which should itself be checkpointed if it will be scanned more
    * than once — e.g. [[spanDecontaminateMarked]]'s single-scan base, or
    * the SparkEntry corpus-wide token frame shared with [[GramProfile]]).
    * `checkpoint` defaults to a lazy local checkpoint; callers that pin
    * the profile across separately-issued queries (the SparkEntry shared
    * cache) pass an eager pinning variant instead.
    */
  private[graft] def spanProfileFromToks(toks: DataFrame, id: String,
      checkpoint: DataFrame => DataFrame = _.localCheckpoint(false))
      : SpanProfile =
    new SpanProfile(id, checkpoint, toks)

  /** Shared front half of the ExactSubstr family: candidate positions
    * (those whose `SpanProfile.MinLen`-gram repeats corpus-wide, via the
    * inverted index) carrying their `SpanProfile.Cap`-token suffix
    * prefixes, globally ranked by the two-phase exact sort. Token arrays
    * are fetched once per DOC before slicing, not once per candidate
    * position.
    */
  private[operators] def rankedDupSuffixes(toks: DataFrame, id: String,
      ck: DataFrame => DataFrame): DataFrame = {
    import SpanProfile.{Cap, MinLen}
    val grams = toks
      .filter(col("n_toks") >= MinLen)
      .select(col(id), col("__t"),
        explode(sequence(lit(0), size(col("__t")) - MinLen)).as("pos"))
      .select(col(id), col("pos"),
        md5(array_join(slice(col("__t"), col("pos") + 1, lit(MinLen)), " "))
          .as("__h"))
    val dupHashes = grams.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("__h")
    val candByDoc = grams.join(dupHashes, Seq("__h"))
      .groupBy(col(id)).agg(collect_list(col("pos")).as("__ps"))
    val suffixes = candByDoc.join(toks.select(col(id), col("__t")), Seq(id))
      .select(col(id), col("__t"), explode(col("__ps")).as("pos"))
      .select(col(id), col("pos"),
        slice(col("__t"), col("pos") + 1, lit(Cap)).as("__sfx"))
      .withColumn("__key", array_join(col("__sfx"), " "))
    // fresh aliases above the checkpoint leaf: the LogicalRDD keeps the
    // upstream attribute ids, and a later join of this frame against
    // another branch of the SAME upstream lineage would otherwise hand
    // the analyzer two leaves emitting identical expression ids (the
    // "conflicting references" internal error DeterminismSpec caught)
    ck(graft.operators.RankOps.globalRowNumber(suffixes,
      Seq(col("__key"), col(id), col("pos")), "__rn"))
      .select(col(id).as(id), col("pos").as("pos"), col("__sfx").as("__sfx"),
        col("__key").as("__key"), col("__rn").as("__rn"))
  }

  /** Token LCP of two suffix prefixes: first mismatching position − 1,
    * or the common length when one is a prefix of the other.
    */
  private def tokenLcp(a: Column, b: Column): Column = coalesce(
    array_min(filter(sequence(lit(1), greatest(size(a), size(b))),
      i => !coalesce(try_element_at(a, i) === try_element_at(b, i),
        lit(false)))) - 1,
    least(size(a), size(b))).cast("long")

  /** Gopher's REPETITION rules (Rae et al. 2021 Table A1 — the
    * within-document half that [[gopherRules]]' word-level screens don't
    * cover): template-generated and looping text repeats itself, so
    *  - `top_bigram_frac`: fraction of the doc's token characters
    *    contained in occurrences of its MOST FREQUENT word bigram (ties
    *    to the lexicographically smallest bigram; Rae's "top n-gram
    *    character fraction" at n = 2, threshold 0.20)
    *  - `dup5_coverage`: fraction of token positions covered by a
    *    5-gram occurring ≥ 2 times WITHIN the doc ([[dupSpanCoverage]]'s
    *    interval union with per-doc counts; documented divergence from
    *    Rae's character-fraction form — positions, not characters,
    *    threshold 0.30)
    *  - `keep`: both under their thresholds.
    *
    * Exact integers into two closing divisions; two hash aggregates
    * (per-doc bigram counts, per-doc 5-gram counts) plus one per-doc
    * lead() window — no corpus-wide state at all, so the pass is
    * embarrassingly parallel at any scale.
    */
  def gopherRepetition(docs: DataFrame, id: String, text: String,
      maxTopBigramFrac: Double = 0.20,
      maxDupCoverage: Double = 0.30): DataFrame = {
    val base = graft.Tables.spread(docs.select(col(id), col(text)))
      .filter(col(text).isNotNull)
      .select(col(id), TextFns.tokens(col(text)).as("__t"))
      .select(col(id), col("__t"), size(col("__t")).as("n_toks"),
        aggregate(col("__t"), lit(0L), (a, t) => a + length(t)).as("__chars"))
      .localCheckpoint(false)
    val topBg = base.filter(col("n_toks") >= 2)
      .select(col(id), explode(TextFns.rawShingles(col("__t"), 2)).as("__bg"))
      .groupBy(col(id), col("__bg")).agg(count(lit(1)).as("__c"))
      .groupBy(col(id))
      .agg(min(struct((-col("__c")).as("nc"), col("__bg").as("g"))).as("__m"))
      .select(col(id), (-col("__m.nc")).as("__topc"), col("__m.g").as("__topg"))
    val g5 = base.filter(col("n_toks") >= 5)
      .select(col(id), col("n_toks"),
        explode(sequence(lit(0), col("n_toks") - 5)).as("pos"),
        col("__t"))
      .select(col(id), col("pos"),
        md5(array_join(slice(col("__t"), col("pos") + 1, lit(5)), " "))
          .as("__h"))
    val dupPos = g5.join(
      g5.groupBy(col(id), col("__h")).agg(count(lit(1)).as("__hc"))
        .filter(col("__hc") >= 2).select(col(id), col("__h")),
      Seq(id, "__h"))
    val w = Window.partitionBy(col(id)).orderBy(col("pos"))
    val covered = dupPos
      .withColumn("__next", lead(col("pos"), 1).over(w))
      .withColumn("__cov",
        when(col("__next").isNull, lit(5L))
          .otherwise(least(lit(5L), (col("__next") - col("pos")).cast("long"))))
      .groupBy(col(id)).agg(sum(col("__cov")).as("__covered"))
    base.select(col(id), col("n_toks"), col("__chars"))
      .join(topBg, Seq(id), "left")
      .join(covered, Seq(id), "left")
      .select(col(id), col("n_toks"),
        col("__topg").as("top_bigram"),
        coalesce(
          round(col("__topc") * (length(col("__topg")) - 1) / col("__chars"),
            6), lit(0.0)).as("top_bigram_frac"),
        round(coalesce(col("__covered"), lit(0L)).cast("double") /
          col("n_toks"), 6).as("dup5_coverage"))
      .withColumn("keep",
        when(col("top_bigram_frac") <= maxTopBigramFrac &&
          col("dup5_coverage") <= maxDupCoverage, 1).otherwise(0))
  }

  /** Per-document lexical richness: type/token ratio, hapax ratio, and
    * Yule's K — the vocabulary-diversity screens a corpus-quality report
    * runs next to the Gopher rules (template-generated and keyword-spam
    * text shows abnormally low diversity, i.e. high K).
    *
    *   K = 10⁴ · (Σ_m m²·V_m − N) / N²
    *
    * over the doc's frequency spectrum (V_m = number of types occurring
    * exactly m times; Yule 1944, the length-robust repeat-rate measure).
    * Everything up to the three closing divisions is exact integers: two
    * stacked hash aggregates collapse the token stream to (doc, m)
    * spectrum rows, then one per-doc aggregate — no windows, no sorts,
    * and the shuffle never carries more than the distinct-token frame.
    */
  def lexicalRichness(docs: DataFrame, id: String, text: String): DataFrame = {
    val tf = graft.Tables.spread(docs.select(col(id), col(text)))
      .filter(col(text).isNotNull)
      .select(col(id), explode(TextFns.tokens(col(text))).as("__tok"))
      .groupBy(col(id), col("__tok")).agg(count(lit(1)).as("__m"))
    val spectrum = tf.groupBy(col(id), col("__m")).agg(count(lit(1)).as("__v"))
    spectrum.groupBy(col(id)).agg(
        sum(col("__m") * col("__v")).as("n_tokens"),
        sum(col("__v")).as("n_types"),
        sum(when(col("__m") === 1, col("__v")).otherwise(lit(0L))).as("hapax"),
        sum(col("__m") * col("__m") * col("__v")).as("__sm2"))
      .select(col(id), col("n_tokens"), col("n_types"), col("hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("hapax").cast("double") / col("n_types"), 6)
          .as("hapax_ratio"),
        round(lit(1e4) * (col("__sm2") - col("n_tokens")).cast("double") /
          (col("n_tokens").cast("double") * col("n_tokens")), 6).as("yules_k"))
  }

  /** Keyword-in-context (KWIC) concordance: every occurrence of `term`
    * with its ±`w`-token window — the corpus-exploration view behind
    * "show me how the corpus uses X" (and the span-extraction primitive
    * for weak labeling). One posexplode + a position filter; the windows
    * are array slices of the already-materialized token array, so cost is
    * linear in corpus tokens with term-count output rows. Windows clip at
    * document edges (no padding).
    * Output: `doc_id, pos` (0-based token position), `left_ctx, term,
    * right_ctx` (space-joined, empty at edges).
    */
  def kwic(docs: DataFrame, idCol: String, textCol: String,
      term: String, w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val hits = docs
      .select(col(idCol).as("doc_id"), TextFns.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .select(col("doc_id"), col("__toks"), col("__n"),
        posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .filter(col("__tok") === term)
    // the 0-based hit __pos is 1-based array index __pos + 1
    val lstart = greatest(col("__pos") + 1 - w, lit(1))
    val llen = (col("__pos") + 1 - lstart).cast("int")
    val rlen = least(lit(w.toLong), col("__n") - (col("__pos") + 1)).cast("int")
    hits.select(col("doc_id"), col("__pos").cast("long").as("pos"),
      array_join(slice(col("__toks"), lstart.cast("int"), llen), " ")
        .as("left_ctx"),
      col("__tok").as("term"),
      array_join(slice(col("__toks"), (col("__pos") + 2).cast("int"), rlen), " ")
        .as("right_ctx"))
  }
}

/** The shared ExactSubstr span-profile (Lee et al. 2022's suffix-array
  * neighborhood, relationally): ONE tokenize + suffix rank over the
  * corpus, with every derived frame the family needs — rank adjacency
  * (the LCP kernel), per-doc duplicated-token islands, cross-doc pairs,
  * and the connected-component cluster closure — computed lazily on
  * first use and checkpointed through `ck` so later consumers reuse the
  * materialized result instead of re-deriving it. Built by
  * [[QualityOps.spanProfile]]; the only input of
  * [[QualityOps.exactSubstrSpans]], [[QualityOps.exactSubstrScrub]],
  * [[QualityOps.dupSpanPairs]], [[QualityOps.dupSpanClusters]],
  * [[QualityOps.exactSubstrScrubKeepOne]] and
  * [[QualityOps.spanDecontaminate]].
  *
  * Every frame here is bounded by DUPLICATION volume, not corpus volume
  * (candidate positions only), except `toks` which is one row per doc.
  */
final class SpanProfile private[operators] (
    private[operators] val id: String,
    private[operators] val ck: DataFrame => DataFrame,
    /** `(id, __t, n_toks)` — one row per doc, token arrays materialized. */
    val toks: DataFrame) {

  /** `(id, pos, __sfx, __key, __rn)` — globally ranked dup suffixes.
    * Lazy so sharing `toks` with other profiles never triggers the
    * suffix sort until a span view actually needs it.
    */
  private[operators] lazy val ranked: DataFrame =
    QualityOps.rankedDupSuffixes(toks, id, ck)

  /** `(__rn, __da, __db, __lcpn)` — adjacent ranked-suffix pairs with
    * their token LCP; islands AND pairs derive from this one self-join.
    */
  private[operators] lazy val adjacency: DataFrame =
    ck(QualityOps.adjacentLcp(ranked, id))

  /** `(id, __s, __e)` — merged maximal duplicated-token intervals. */
  private[operators] lazy val islands: DataFrame =
    ck(QualityOps.islandsFromAdjacency(ranked, adjacency, id))

  /** `(doc_a, doc_b, n_adjacent, max_shared_span)` — normalized cross-doc
    * attribution pairs (a SPANNING set of each duplication cluster).
    */
  private[operators] lazy val pairs: DataFrame =
    ck(QualityOps.pairsFromAdjacency(adjacency))

  /** `(doc_id, canonical_id)` — the cluster closure of [[pairs]]. */
  private[operators] lazy val components: DataFrame =
    ck(graft.dedup.DedupOps.connectedComponents(pairs, "doc_a", "doc_b",
      SpanProfile.CcMaxIter))
}

object SpanProfile {
  /** Shortest duplicated span reported, in tokens (Lee et al. 2022 use a
    * fixed threshold too); also the candidate-filter gram length.
    */
  private[operators] val MinLen = 5
  /** Suffix-prefix length in tokens: per-position LCPs clip here, and the
    * island union recovers longer spans.
    */
  private[operators] val Cap = 64
  /** Round bound of the cluster closure's connected components. */
  private[operators] val CcMaxIter = 30
}
