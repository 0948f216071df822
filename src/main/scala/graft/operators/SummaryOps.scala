package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequency / missingness summaries (SURVEY.md §2.4 A1-A3, A7-A9) —
  * the reference's `generate_summary_*` passes
  * (`feature_selection_hosp.py:125-186`). All are single hash aggregates
  * with map-side partials; no windows, no sorts.
  */
object SummaryOps {

  /** A2 — "mean_frequency": events per (entity, code), then the mean of that
    * count per code (`feature_selection_hosp.py:129-130`).
    *
    * Algebraically collapsed to ONE aggregate: the mean of per-entity
    * counts within a code is `rows / distinct entities` — same exact
    * integer operands as `avg(count)`, so bit-identical results — which
    * avoids materializing the (entity, code) group frame (≈|rows| groups
    * for near-unique pairs) and its second shuffle.
    */
  def meanFrequency(df: DataFrame, entity: String, code: String): DataFrame =
    df.groupBy(code)
      .agg(round(
        count(lit(1)).cast("double") / countDistinct(col(entity)), 6)
        .as("mean_frequency"))

  /** A3 — missing rate: share of rows per group where `isMissing` holds
    * (`feature_selection_hosp.py:143-147`).
    */
  def missingRate(df: DataFrame, group: String, isMissing: Column): DataFrame =
    df.groupBy(group).agg(
      sum(when(isMissing, 1L).otherwise(0L)).as("missing_count"),
      count(lit(1)).as("total_count"),
      round(sum(when(isMissing, 1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
        .as("missing_rate"))

  /** A9 — value_counts: frequency table of a column. */
  def valueCounts(df: DataFrame, c: String): DataFrame =
    df.groupBy(c).agg(count(lit(1)).as("cnt"))

  /** A8 — max group size as a one-row scalar
    * (`data_generation_icu.py:352-373`).
    */
  def maxGroupSize(df: DataFrame, group: String): DataFrame =
    df.groupBy(group).agg(count(lit(1)).as("__cnt"))
      .agg(max(col("__cnt")).as("max_group_size"))

  /** Shannon entropy (nats) of the `category` distribution within each
    * `group` — the diversity score of corpus-curation reports (label
    * balance, source mix, behavioral spread). Two stacked hash aggregates
    * with map-side partials; H = ln N − (Σ c·ln c)/N keeps the per-category
    * pass a plain sum, so no per-group normalization join is needed.
    */
  def groupEntropy(df: DataFrame, group: String, category: String): DataFrame =
    df.groupBy(group, category).agg(count(lit(1)).as("__c"))
      .groupBy(group).agg(
        sum("__c").cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_categories"),
        // c·ln c pinned to integer picos per category row (ln of an exact
        // integer count — deterministic), summed as exact DECIMAL so the
        // reduction is shuffle-order independent
        round(
          log(sum("__c")) -
            sum(col("__c").cast("decimal(18,0)") *
              round(log(col("__c")) * 1e12, 0).cast("decimal(18,0)"))
              .cast("double") / lit(1e12) / sum("__c"), 6)
          .as("entropy"))

  /** Pointwise mutual information of adjacent token pairs — the standard
    * collocation detector of corpus analysis: PMI(a,b) = ln( P(ab) /
    * (P(a)·P(b)) ) with P from corpus unigram/bigram counts; `minCount`
    * prunes the unstable low-frequency tail (standard practice).
    *
    * Scale shape: two hash aggregates over the exploded token/bigram
    * streams (map-side partials), two equi-joins of the surviving bigrams
    * against the unigram counts frame (|vocab| rows — unbounded, so
    * AQE-sized, NOT force-broadcast), and two 1-row total frames that do
    * ride as broadcasts. No windows, no sorts, no doc×doc.
    */
  def pmiBigrams(docs: DataFrame, text: String, minCount: Long): DataFrame = {
    import graft.functions.TextFns
    val toks = graft.Tables.spread(docs.select(col(text)))
      .select(TextFns.tokens(col(text)).as("__toks"))
    val uni = toks.select(explode(col("__toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__uc"))
    val totU = uni.agg(sum("__uc").cast("double").as("__tu"))
    val bi = toks.select(explode(TextFns.rawShingles(col("__toks"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_pairs"))
    val totB = bi.agg(sum("n_pairs").cast("double").as("__tb"))
    bi.filter(col("n_pairs") >= minCount)
      .withColumn("tok_a", split(col("gram"), " ").getItem(0))
      .withColumn("tok_b", split(col("gram"), " ").getItem(1))
      .join(uni.select(col("tok").as("tok_a"), col("__uc").as("__ua")), Seq("tok_a"))
      .join(uni.select(col("tok").as("tok_b"), col("__uc").as("__ub")), Seq("tok_b"))
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
      .select(col("tok_a"), col("tok_b"), col("n_pairs"),
        round(log((col("n_pairs") / col("__tb")) /
          ((col("__ua") / col("__tu")) * (col("__ub") / col("__tu")))), 6)
          .as("pmi"))
  }

  /** Per-group KL divergence from the corpus-wide unigram distribution —
    * the domain-shift signal behind data-mixture design (which sources
    * look least like the corpus). Both distributions are add-1 smoothed
    * over the corpus vocabulary V.
    *
    * The textbook form sums over the full |groups|×V grid — a cross join
    * of unbounded frames, banned here. Instead the unseen-token mass has a
    * closed form: for tokens a group never saw, p_g = 1/(N_g+V) is
    * constant, so their contribution is
    * u·ln(u)·(V−V_g) − u·(Σ_all ln p_c − Σ_seen ln p_c), where Σ_all ln p_c
    * is ONE corpus-level scalar. Everything reduces to the observed
    * (group, token) ⋈ corpus-counts equi-join plus 1-row aggregates — no
    * grid, no cross product, exact.
    */
  def klFromCorpus(docs: DataFrame, group: String, text: String): DataFrame = {
    import graft.functions.TextFns
    val tok = graft.Tables.spread(docs.select(col(group), col(text)))
      .select(col(group), explode(TextFns.tokens(col(text))).as("__tok"))
    val corpus = tok.groupBy("__tok").agg(count(lit(1)).as("__cc"))
    val stats = corpus.agg(sum("__cc").cast("double").as("__n"),
      count(lit(1)).cast("double").as("__v"))
    // ln p_c pinned to integer picos once per CORPUS TOKEN (the bounded
    // vocabulary frame); every downstream Σ over ln p_c is then an exact
    // DECIMAL reduction — shuffle-order independent, per the engine-wide
    // convention. ln(c+1) of the exact per-(group,token) count is
    // likewise pinned per row before summing.
    val corpusQ = corpus.crossJoin(broadcast(stats))
      .withColumn("__lpcq",
        round(log((col("__cc") + lit(1.0)) / (col("__n") + col("__v"))) * 1e12,
          0).cast("long"))
    val lAll = corpusQ
      .agg(sum(col("__lpcq").cast("decimal(18,0)")).as("__lallq"))
    val seen = tok.groupBy(col(group), col("__tok")).agg(count(lit(1)).as("__sc"))
      .join(corpusQ, "__tok")
    val ns = sum(col("__sc")).cast("double")
    val perGroup = seen.groupBy(col(group)).agg(
      ns.as("__ns"),
      count(lit(1)).cast("double").as("__vs"),
      // Σ_seen p_g ln(p_g/p_c) with p_g=(c_g+1)/(N_g+V): N_g enters after
      // the agg, so carry Σ(c+1)ln(c+1), Σ(c+1), Σ(c+1)ln p_c partials
      sum((col("__sc") + lit(1L)).cast("decimal(18,0)") *
        round(log(col("__sc") + 1.0) * 1e12, 0).cast("decimal(18,0)"))
        .as("__aq"),
      sum(col("__sc") + 1.0).as("__b"),
      sum((col("__sc") + lit(1L)).cast("decimal(18,0)") *
        col("__lpcq").cast("decimal(18,0)")).as("__dq"),
      sum(col("__lpcq").cast("decimal(18,0)")).as("__lseenq"),
      first(col("__v")).as("__v"))
    val denom = col("__ns") + col("__v")
    val u = lit(1.0) / denom
    val seenPart = (col("__aq").cast("double") / lit(1e12) -
      col("__b") * log(denom) -
      col("__dq").cast("double") / lit(1e12)) / denom
    val unseenPart = u * log(u) * (col("__v") - col("__vs")) -
      u * ((col("__lallq") - col("__lseenq")).cast("double") / lit(1e12))
    perGroup.crossJoin(broadcast(lAll))
      .select(col(group),
        col("__ns").cast("long").as("n_tokens"),
        col("__vs").cast("long").as("n_types"),
        round(seenPart + unseenPart, 6).as("kl"))
  }

  /** Per-group Jensen-Shannon divergence between the group's unigram
    * distribution and the REST of the corpus — the symmetric, bounded
    * ([0, ln 2]) companion to [[klFromCorpus]] for mixture design: a
    * source that maximizes JSD is the one contributing the most
    * distributional novelty.
    *
    * No smoothing needed: the mixture M = (P+Q)/2 covers every term
    * either side carries. Terms the group never saw have p = 0, so their
    * whole contribution is `0.5·q·ln 2` — summed in closed form as
    * `0.5·ln 2·(1 − Σ_seen q_t)`, the same no-grid trick as
    * [[klFromCorpus]]. Group totals are a tiny broadcast (|groups| rows),
    * so each observed (group, token) row computes its exact contribution
    * locally; contributions are fixed-point picos summed as BIGINT
    * (order-independent, engine-exact).
    */
  def jsdFromRest(docs: DataFrame, group: String, text: String): DataFrame = {
    import graft.functions.TextFns
    val tok = graft.Tables.spread(docs.select(col(group), col(text)))
      .select(col(group), explode(TextFns.tokens(col(text))).as("__tok"))
    val corpus = tok.groupBy("__tok").agg(count(lit(1)).as("__cc"))
    val total = corpus.agg(sum("__cc").as("__N"))
    val groupTotals = tok.groupBy(col(group)).agg(count(lit(1)).as("__Ns"))
    val seen = tok.groupBy(col(group), col("__tok")).agg(count(lit(1)).as("__sc"))
      .join(corpus, "__tok")
      .join(broadcast(groupTotals), Seq(group))
      .crossJoin(broadcast(total))
    val p = col("__sc").cast("double") / col("__Ns")
    val q = (col("__cc") - col("__sc")).cast("double") / (col("__N") - col("__Ns"))
    val m = (p + q) / 2.0
    val contrib = lit(0.5) * p * log(p / m) +
      when(col("__cc") > col("__sc"), lit(0.5) * q * log(q / m)).otherwise(0.0)
    val ln2 = math.log(2.0)
    seen.groupBy(col(group))
      .agg(
        first(col("__Ns")).as("n_tokens"),
        (sum(round(contrib * 1e12, 0).cast("long")) / 1e12).as("__seen"),
        (sum(col("__cc") - col("__sc")).cast("double") /
          first(col("__N") - col("__Ns"))).as("__qcov"))
      .select(col(group), col("n_tokens"),
        round(col("__seen") + lit(0.5 * ln2) * (lit(1.0) - col("__qcov")), 6)
          .as("jsd"))
  }

  /** Per-document average bigram log-likelihood under an add-1-smoothed
    * bigram model trained on the corpus itself — the cheap
    * perplexity-style fluency score of a quality-filter stack (docs whose
    * token transitions are unlike the corpus score low: shuffled text,
    * boilerplate tables, wrong-language fragments).
    *
    *   score(d) = (1/|bigrams_d|) Σ ln (c(prev,cur)+1) / (c(prev)+V)
    *
    * with c(·) corpus counts and V the unigram vocabulary size. Training
    * and scoring are the same two hash aggregates (bigram counts, unigram
    * counts) rejoined to the per-doc distinct-bigram frame — the join
    * carries each doc's DISTINCT bigrams with multiplicities (collapsed
    * map-side), never the raw token stream. V is a 1-row broadcast. Docs
    * with < 2 tokens have no bigrams and are emitted with a null score.
    *
    * Determinism: the per-bigram log-probability is quantized to integer
    * picos AT THE MODEL FRAME (one row per distinct corpus bigram — the
    * bounded side), and the per-doc accumulation sums exact DECIMAL(38,0)
    * — the shuffle-order-independent convention every other float
    * reduction in the engine follows. A raw double Σ m·ln(p) over ~10⁶
    * bigrams could flip the 6th decimal with partition order at scale;
    * this cannot. The result is the profile's checkpointed
    * [[GramProfile.selfLogProb]] frame, built once and reused by every
    * self-trained consumer.
    */
  def bigramLogProb(p: GramProfile): DataFrame = p.selfLogProb

  /** The actual self-trained scoring plan (what
    * [[GramProfile.selfLogProb]] checkpoints).
    */
  private[operators] def selfLogProbOf(p: GramProfile): DataFrame =
    perDocLogProb(p, p.docBigrams.join(p.addOneModel, Seq("__bg")),
      "avg_logprob")

  /** [[bigramLogProb]] with the model corpus decoupled from the scored
    * corpus — the true CCNet shape (Wenzek et al. 2020), where the LM is
    * trained on the TARGET domain and scores everything. `trainIds` names
    * the training slice of the profile's corpus; the model counts are
    * re-aggregates of the profile's collapsed gram frames over that slice
    * (no second tokenize of the train side), and every profile doc is
    * scored. Bigrams and previous-tokens unseen in the training slice
    * fall back to the add-1 floor ((0+1)/(0+V)) via LEFT joins — exactly
    * the smoothing the self-trained form never exercises. V is a 1-row
    * broadcast over the TRAIN vocabulary.
    *
    * Determinism ([[bigramLogProb]]'s convention): each of the three
    * smoothing cases is pico-quantized at its own bounded frame — known
    * bigram at the train-bigram frame, unseen-bigram/known-prev at the
    * train-unigram frame, both-unseen at the 1-row vocabulary scalar —
    * and the per-doc sum is exact DECIMAL(38,0). (A train bigram's
    * previous token is always in the train vocabulary, so "bigram known,
    * prev unknown" cannot occur.)
    */
  def bigramLogProbAgainst(p: GramProfile, trainIds: DataFrame): DataFrame = {
    val tIds = trainIds.select(col(p.id))
    val uniCounts = p.docUnigrams.join(tIds, Seq(p.id), "left_semi")
      .groupBy("__tok").agg(sum(col("__m")).as("__cu"))
    val model = addOneModel(
      p.docBigrams.join(tIds, Seq(p.id), "left_semi")
        .groupBy("__bg").agg(sum(col("__m")).as("__cbg")),
      uniCounts)
    val v = vocab(uniCounts)
    val prevModel = uniCounts.crossJoin(broadcast(v))
      .select(col("__tok").as("__prev"),
        round(log(lit(1.0) / (col("__cu") + col("__v"))) * 1e12, 0)
          .cast("long").as("__ppq"))
    val baseQ = v.select(
      round(log(lit(1.0) / col("__v")) * 1e12, 0).cast("long").as("__bq"))
    perDocLogProb(p, p.docBigrams
        .join(model, Seq("__bg"), "left")
        .withColumn("__prev", substring_index(col("__bg"), " ", 1))
        .join(prevModel, Seq("__prev"), "left")
        .crossJoin(broadcast(baseQ))
        .select(col(p.id), col("__m"),
          coalesce(col("__lpq"), col("__ppq"), col("__bq")).as("__lpq")),
      "avg_logprob")
  }

  /** The add-1 bigram model over raw count frames `(__bg, __cbg)` /
    * `(__tok, __cu)`: `(__bg, __lpq)`, ln((c(prev,cur)+1)/(c(prev)+V))
    * pico-quantized at this (distinct-bigram-bounded) frame.
    */
  private[operators] def addOneModel(bgCounts: DataFrame,
      uniCounts: DataFrame): DataFrame =
    bgCounts
      .withColumn("__prev", substring_index(col("__bg"), " ", 1))
      .join(uniCounts.withColumnRenamed("__tok", "__prev"), Seq("__prev"))
      .crossJoin(broadcast(vocab(uniCounts)))
      .select(col("__bg"),
        round(log((col("__cbg") + 1.0) / (col("__cu") + col("__v"))) * 1e12, 0)
          .cast("long").as("__lpq"))

  /** 1-row `(__v)` — the unigram vocabulary size as double. */
  private def vocab(uniCounts: DataFrame): DataFrame =
    uniCounts.agg(count(lit(1)).cast("double").as("__v"))

  /** The per-doc tail every LM scorer shares: over `(id, __m, __lpq)`,
    * the exact DECIMAL sum of multiplicity × pico log-prob per doc,
    * left-joined onto every profile id (docs with no scored bigram come
    * out with `n_bigrams` 0 and a null score) and closed by one division
    * rounded to 6 as column `out`.
    */
  private def perDocLogProb(p: GramProfile, scored: DataFrame,
      out: String): DataFrame = {
    val id = p.id
    val sums = scored.groupBy(col(id))
      .agg(sum(col("__m")).as("n_bigrams"),
        sum(col("__m").cast("decimal(18,0)") * col("__lpq").cast("decimal(18,0)"))
          .as("__llq"))
    p.toks.select(col(id)).join(sums, Seq(id), "left")
      .select(col(id), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("__llq").cast("double") / lit(1e12) / col("n_bigrams"), 6)
          .as(out))
  }

  // ---- approximate scale paths ----------------------------------------
  // Exact countDistinct / percentile shuffle every distinct value; at
  // 100 TB the sketch forms below are the production path (bounded-size
  // partials that merge associatively — one narrow shuffle regardless of
  // cardinality). They have no cross-engine oracle by nature (sketch
  // internals differ per engine), so they are spec-gated: ApproxSpec
  // asserts the error envelope against the exact forms on the same data.

  /** A7 scale path — HyperLogLog++ distinct count per group with relative
    * standard deviation `rsd` (default 5%). Partials are fixed-size HLL
    * registers, so the shuffle is |groups| rows no matter how many
    * distinct values exist.
    */
  def approxDistinctCount(df: DataFrame, group: String, c: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(group).agg(approx_count_distinct(col(c), rsd).as("approx_distinct"))

  /** A6/A10 scale path — approximate percentiles per group with bounded
    * accuracy (`1/accuracy` relative rank error). The sketch partial is
    * bounded-size; the exact sort-based form (`CleaningOps.percentileClamp`)
    * stays the correctness oracle at test scale.
    */
  def approxPercentiles(df: DataFrame, group: String, value: Column,
      probs: Seq[Double], accuracy: Int = 10000): DataFrame =
    df.groupBy(group).agg(
      percentile_approx(value,
        array(probs.map(lit): _*), lit(accuracy)).as("approx_pcts"))

  /** Top-k scale path — approximate heavy hitters (Spark's `freqItems`,
    * the Karp/Shenker/Papadimitriou single-pass counter algorithm): every
    * item with frequency above `1/support` is GUARANTEED present; false
    * positives are possible, exact counts are not retained. The sketch
    * state is ≤ `1/support` entries per partition regardless of
    * cardinality — the 100 TB answer when the exact hash-agg + top-k
    * (`t14_ngram_topk`) would shuffle billions of distinct grams. Returns
    * the candidate item array (one row); re-join it to an exact count pass
    * over just the candidates when true counts are needed.
    */
  def approxHeavyHitters(df: DataFrame, c: String, support: Double): DataFrame =
    df.stat.freqItems(Seq(c), support)

  /** Sketch-based column profile — the 100 TB monitor path next to the
    * exact `dq01_profile` query (same stacked one-row-per-column shape):
    * count/null/min/max stay exact single-pass aggregates, but distinct
    * goes through HyperLogLog++ (`approx_count_distinct`, ±rsd) and the
    * median through `percentile_approx` (rank error ≤ n/accuracy) — so
    * the whole profile is ONE bounded-state hash aggregate, where the
    * exact profile's countDistinct trio expands every row per column and
    * shuffles the expansion. Spec-gated by error bounds (ApproxSpec), not
    * a hash oracle: sketch merge order is not bit-deterministic.
    */
  def approxProfile(df: DataFrame, cols: Seq[String], rsd: Double = 0.05,
      accuracy: Int = 10000): DataFrame = {
    def stats(c: String) = Seq(
      count(lit(1)).as(s"n_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
      approx_count_distinct(col(c), rsd).as(s"dist_$c"),
      round(min(col(c)), 6).as(s"min_$c"),
      round(max(col(c)), 6).as(s"max_$c"),
      percentile_approx(col(c), lit(0.5), lit(accuracy)).cast("double")
        .as(s"p50_$c"))
    val aggs = cols.flatMap(stats)
    val wide = df.select(cols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"'$c', n_$c, null_$c, dist_$c, min_$c, max_$c, p50_$c").mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $stacked) as " +
        "(col_name, n, n_null, approx_distinct, min_v, max_v, approx_p50)"))
  }

  /** Per-document average bigram log-likelihood under an INTERPOLATED
    * KNESER–NEY model (Kneser & Ney 1995; Chen & Goodman 1998's
    * interpolated form, fixed discount D = 0.75) trained on the corpus
    * itself — the modern-smoothing sibling of [[bigramLogProb]]'s add-1
    * baseline, and the form real LM-based quality filters use:
    *
    *   P(w|v) = max(c(vw)−D, 0)/c(v·)
    *          + (D·N₁₊(v·)/c(v·)) · N₁₊(·w)/N₁₊(··)
    *
    * where N₁₊(v·) counts distinct continuations of v, N₁₊(·w) distinct
    * contexts of w (the continuation probability that makes KN favor
    * words appearing in MANY contexts over burst words), and N₁₊(··)
    * the distinct-bigram total. Every count is an exact integer off the
    * distinct-bigram frame (context and continuation counts are
    * re-aggregates of it — no second corpus pass); the per-bigram log is
    * pico-quantized AT THE MODEL FRAME and per-doc sums are exact
    * DECIMAL, the engine-wide order-independence convention. Scoring the
    * training corpus itself means every scored bigram is in the model
    * (the t28 self-trained contract); docs with < 2 tokens surface null.
    */
  def knBigramLogProb(p: GramProfile): DataFrame = {
    val bgCounts = p.bgCounts
      .withColumn("__v", substring_index(col("__bg"), " ", 1))
      .withColumn("__w", substring_index(col("__bg"), " ", -1))
    val ctx = bgCounts.groupBy("__v")
      .agg(sum(col("__cbg")).as("__cv"), count(lit(1)).as("__n1v"))
    val cont = bgCounts.groupBy("__w").agg(count(lit(1)).as("__n1w"))
    val nbb = bgCounts.agg(count(lit(1)).cast("double").as("__nbb"))
    val model = bgCounts
      .join(ctx, Seq("__v")).join(cont, Seq("__w"))
      .crossJoin(broadcast(nbb))
      .select(col("__bg"),
        round(log(
          (greatest(col("__cbg") - lit(KnDiscount), lit(0.0)) +
            lit(KnDiscount) * col("__n1v") * (col("__n1w") / col("__nbb"))) /
            col("__cv")) * 1e12, 0).cast("long").as("__lpq"))
    perDocLogProb(p, p.docBigrams.join(model, Seq("__bg")), "avg_logprob_kn")
  }

  /** [[knBigramLogProb]]'s absolute discount D. */
  private val KnDiscount = 0.75

  /** Count–Min sketch build (Cormode & Muthukrishnan 2005): the
    * fixed-memory frequency monitor for the 100 TB path. Each row hashes
    * into one bucket per sketch row (md5 salted by the row index —
    * independent-enough hash family, engine-portable), so the build is
    * ONE depth-way explode + a hash aggregate whose key space is
    * depth×width-bounded — the shuffle never scales with distinct keys,
    * which is the whole point versus an exact value_counts at 10¹⁰
    * distinct values. Spec-gated (ApproxSpec) like the HLL variants: the
    * guarantee is one-sided (estimate ≥ truth) with overcount ≤ ~2N/width
    * at depth 4, not a bit-stable oracle.
    */
  def countMinBuild(df: DataFrame, key: Column,
      depth: Int = 4, width: Int = 1024): DataFrame =
    df.select(key.cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("row"), col("__k"))
      .select(col("row"),
        pmod(conv(substring(md5(concat(col("row").cast("string"), lit(":"),
          col("__k"))), 1, 8), 16, 10).cast("long"), lit(width.toLong))
          .cast("int").as("bucket"))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))

  /** Point-query the sketch for a set of candidate keys: the estimate is
    * the MIN over the depth rows of the key's bucket counters (missing
    * buckets are exact zeros). The candidate frame is the caller's —
    * typically the output of a sampled exact top-k, re-scored here
    * against the full-corpus sketch.
    */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame, key: Column,
      depth: Int = 4, width: Int = 1024): DataFrame =
    keys.select(key.cast("string").as("__k")).distinct()
      .filter(col("__k").isNotNull)
      .select(col("__k"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col("__k"), col("row"),
        pmod(conv(substring(md5(concat(col("row").cast("string"), lit(":"),
          col("__k"))), 1, 8), 16, 10).cast("long"), lit(width.toLong))
          .cast("int").as("bucket"))
      .join(sketch, Seq("row", "bucket"), "left")
      .groupBy(col("__k"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .select(col("__k").as("key"), col("est"))

  /** Build the shared [[GramProfile]] for the bigram-LM family: the one
    * place the family tokenizes (`Tables.spread` → `TextFns.tokens` as
    * `__t`). Every LM view — self-trained scoring ([[bigramLogProb]]),
    * target-trained scoring ([[bigramLogProbAgainst]]), Kneser-Ney
    * ([[knBigramLogProb]]), CCNet terciles
    * ([[QualityOps.perplexityBuckets]]) and DSIR
    * ([[QualityOps.dsirWeights]], [[QualityOps.dsirBucketRatios]]) —
    * re-aggregates the profile's collapsed per-doc gram frames instead of
    * re-exploding the corpus; the frames are checkpointed lazily on first
    * use.
    *
    * Id contract: one row per `id`, and a null id is unmarked. Rows
    * sharing an id merge into one doc whose bigrams a marker join counts
    * once per marker row. A null-id doc's bigrams train the self-trained
    * models, but it never joins a marker or its own score: it is absent
    * from the DSIR model and comes out of every scorer with `n_bigrams` 0
    * and a null score. Neither case is checked (a check costs a job).
    */
  def gramProfile(docs: DataFrame, id: String, text: String): GramProfile = {
    import graft.functions.TextFns
    gramProfileFromToks(
      graft.Tables.spread(docs.select(col(id), col(text)))
        .select(col(id), TextFns.tokens(col(text)).as("__t")),
      id, _.localCheckpoint(false))
  }

  /** [[gramProfile]] over an already-tokenized `(id, __t, ...)` frame (one
    * row per doc; pass a checkpointed frame when it will be scanned more
    * than once). `checkpoint` pins each derived frame: [[gramProfile]]
    * passes a lazy local checkpoint, the SparkEntry shared cache an eager
    * pinning variant.
    */
  private[graft] def gramProfileFromToks(toks: DataFrame, id: String,
      checkpoint: DataFrame => DataFrame): GramProfile =
    new GramProfile(id, checkpoint, toks)
}

/** The shared bigram-LM front end: per-doc DISTINCT gram frames with
  * multiplicities (the collapse every LM builder re-aggregates) plus the
  * corpus-level count frames of the self-trained model, each computed
  * lazily on first use and checkpointed through `ck`. The raw corpus is
  * exploded into bigrams exactly ONCE per profile, no matter how many LM
  * views run — the scale move for the quality-filter stacks that score
  * the same corpus under several models (CCNet terciles + domain delta +
  * DSIR in one curation pass).
  */
final class GramProfile private[operators] (
    private[operators] val id: String,
    private[operators] val ck: DataFrame => DataFrame,
    /** `(id, __t, ...)` — one row per doc, token arrays materialized. */
    val toks: DataFrame) {

  /** `(id, __bg, __m)` — per-doc distinct bigrams with multiplicities. */
  lazy val docBigrams: DataFrame = ck(
    toks.select(col(id),
        explode(graft.functions.TextFns.rawShingles(col("__t"), 2)).as("__bg"))
      .groupBy(col(id), col("__bg")).agg(count(lit(1)).as("__m")))

  /** `(id, __tok, __m)` — per-doc distinct tokens with multiplicities. */
  lazy val docUnigrams: DataFrame = ck(
    toks.select(col(id), explode(col("__t")).as("__tok"))
      .groupBy(col(id), col("__tok")).agg(count(lit(1)).as("__m")))

  /** `(__bg, __cbg)` — corpus bigram counts (the self-trained model's
    * numerator side).
    */
  lazy val bgCounts: DataFrame =
    ck(docBigrams.groupBy("__bg").agg(sum(col("__m")).as("__cbg")))

  /** `(__tok, __cu)` — corpus unigram counts. */
  lazy val uniCounts: DataFrame =
    ck(docUnigrams.groupBy("__tok").agg(sum(col("__m")).as("__cu")))

  /** `(__bg, __lpq)` — the self-trained add-1 model
    * ([[SummaryOps.addOneModel]] over the corpus counts); the join side
    * every self-trained scorer re-reads.
    */
  lazy val addOneModel: DataFrame =
    ck(SummaryOps.addOneModel(bgCounts, uniCounts))

  /** `(id, n_bigrams, avg_logprob)` — the corpus scored under its own
    * add-1 model ([[SummaryOps.bigramLogProb]]'s output), shared by the
    * t28 score, the CCNet terciles, and the domain-delta's self side.
    */
  lazy val selfLogProb: DataFrame = ck(SummaryOps.selfLogProbOf(this))
}
