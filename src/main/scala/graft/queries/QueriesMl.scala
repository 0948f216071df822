package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.Knn
import graft.dedup.DedupOps
import graft.functions.{TextFns, VectorFns}
import graft.multimodal.BinaryOps
import graft.operators._

import SparkEntry._

/** QueriesMl registry — the `ml, dq`-prefixed SparkEntry queries and their oracle SQL
  * (ML data prep and data-quality monitors). Split from SparkEntry.scala for hygiene; query ids and
  * bodies are unchanged, and SparkEntry merges every family registry
  * back into the single driver-contract maps.
  */
// scalastyle:off
private[graft] object QueriesMl {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // ---------------- ML prep (stage-5 relational parts) ----------------
    "ml01_kfold_split" -> ((s, d) =>
      FoldOps.assignFolds(ord(s, d), "o_orderkey", 5)
        .select("o_orderkey", "fold")),


    "ml02_oversample" -> ((s, d) =>
      FoldOps.oversample(ord(s, d), col("o_totalprice") > 400000.0, 3)
        .select("o_orderkey", "copy_id")),


    // deterministic stratified downsampling by md5 nibble: the corpus-
    // rebalancing primitive (e.g. keep 25% of en, 50% of zh, 75% of the
    // rest) — a pure pushdown predicate, stable under repartitioning
    "ml03_hash_sample" -> ((s, d) =>
      FoldOps.stratifiedHashSample(docs(s, d), col("doc_id"), col("lang"),
          Map("en" -> 4, "zh" -> 8), default = 12)
        .select("doc_id", "lang", "h16")),


    // sequence packing: documents laid end-to-end per source in doc_id
    // order, cut into 256-token bins by a running prefix-sum window
    "ml04_pack_bins" -> ((s, d) => {
      val t = docs(s, d)
        .select(col("doc_id"), col("source"),
          size(TextFns.tokens(col("text"))).as("n_tokens"))
      FoldOps.packByCumsum(t, Seq("source"), Seq("doc_id"),
          col("n_tokens"), capacity = 256)
        .select("doc_id", "source", "n_tokens", "bin_id")
    }),


    // per-group z-score outlier flagging (data-quality pass): group stats
    // via one aggregate, re-attached with an AQE-sized join — no window
    // sort over the fact table
    "dq02_outliers" -> ((s, d) => {
      val stats = ev(s, d).groupBy("event_type")
        .agg(avg("value").as("__mu"), stddev_samp(col("value")).as("__sd"))
      ev(s, d).join(stats, Seq("event_type"))
        .withColumn("z", (col("value") - col("__mu")) / col("__sd"))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"), round(col("z"), 6).as("z"))
    }),


    // exact-n deterministic sample per stratum (reservoir-sampling answer,
    // order-independent): rank by md5 within stratum, keep first 30
    "ml05_topn_sample" -> ((s, d) =>
      FoldOps.perStratumTopN(docs(s, d), col("lang"), col("doc_id"), 30)
        .select(col("doc_id"), col("lang"), col("rk").cast("int").as("rk"))),


    // Column profiling (data-quality scan): ONE aggregate pass computes all
    // stats for all profiled columns (3 scans → 1), then a stack() unpivot
    // emits the tall one-row-per-column layout
    // exact-vs-approx switch: this is the ORACLE-GATED exact profile; the
    // 100 TB daily-monitor path is SummaryOps.approxProfile (same stacked
    // shape, HLL distinct + sketch p50, one bounded-state aggregate),
    // spec-gated by error envelopes in ApproxSpec
    "dq01_profile" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      def stats(c: String) = Seq(
        count(lit(1)).as(s"n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        countDistinct(col(c)).as(s"dist_$c"),
        round(min(col(c)), 6).as(s"min_$c"),
        round(max(col(c)), 6).as(s"max_$c"),
        // round the sum before dividing: cross-engine summation-order noise
        // (~1e-10) is harmless at the sum's magnitude but can straddle a
        // rounding boundary after division
        round(round(sum(col(c)), 3) / count(lit(1)), 6).as(s"avg_$c"))
      val aggs = cols.flatMap(stats)
      // spread: the countDistinct trio expands each input row 4× before the
      // partial aggregate — serialized on a narrow scan, cheap in parallel
      val wide = Tables.spread(li(s, d).select(cols.map(col): _*))
        .agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c =>
        s"'$c', n_$c, null_$c, dist_$c, min_$c, max_$c, avg_$c").mkString(", ")
      wide.select(expr(
        s"stack(${cols.size}, $stacked) as (col_name, n, n_null, n_distinct, min_v, max_v, avg_v)"))
    }),


    // leakage-free dedup-aware k-fold: near-dup clusters (the d08
    // pipeline) are assigned WHOLE to folds by hashing the cluster
    // canonical — the split LLM eval prep needs, where a near-dup pair
    // straddling train/test silently inflates benchmarks
    "ml23_dedup_split" -> ((s, d) => {
      val t = docs(s, d)
      val comps = dupComps(s, d)
      t.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical_id"), col("doc_id")).as("cluster_id"))
        .withColumn("fold", FoldOps.foldOf(col("cluster_id"), 5).cast("int"))
    }),


    // global token-budget sampling: best-first corpus prefix (longest docs
    // first here) kept while the running token total fits the budget —
    // two-phase prefix sum, no single-partition exchange
    "ml06_token_budget" -> ((s, d) => {
      val t = docs(s, d).select(col("doc_id"), col("n_chars"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_toks"))
      FoldOps.takeByBudget(t,
          Seq(col("n_chars").desc, col("doc_id").asc), col("n_toks"),
          budget = 8000L, cumName = "cum_toks")
        .select(col("doc_id"), col("n_toks"), col("cum_toks").cast("long").as("cum_toks"))
    }),


    // DoReMi-flavored domain mixing: per-source token share vs a uniform
    // target → resampling weight = target_share / observed_share
    "ml07_mix_weights" -> ((s, d) => {
      val perSource = docs(s, d)
        .select(col("source"), size(TextFns.tokens(col("text"))).cast("long").as("__t"))
        .groupBy("source").agg(sum("__t").as("__toks"))
      val tot = perSource.agg(sum("__toks").cast("double").as("__total"),
        count(lit(1)).cast("double").as("__k"))
      perSource.crossJoin(broadcast(tot))
        .select(col("source"), col("__toks").cast("long").as("n_toks"),
          round(col("__toks") / col("__total"), 6).as("share"),
          round(col("__total") / (col("__k") * col("__toks")), 6).as("weight"))
    }),


    // stride-scheduled source mixing: materialize lang weights into ONE
    // deterministic global training order (virtual-time merge; per-source
    // rank and final position both distributed two-phase ranks)
    "ml11_interleave" -> ((s, d) =>
      FoldOps.interleaveByWeight(
          docs(s, d).select("doc_id", "lang"), col("lang"), Seq(col("doc_id").asc),
          Map("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.15, "fr" -> 0.15))
        .select("doc_id", "lang", "src_rank", "pos")),


    // PSI drift between even- and odd-user event values, 10 equal-width
    // bins over the combined range; total PSI = sum(psi_contrib)
    "dq03_psi" -> ((s, d) =>
      MetricsOps.psi(ev(s, d), col("value"), col("user_id") % 2 === 0,
        bins = 10)),


    // robust per-type outlier flags: median/MAD z-score > 3.5
    "dq04_mad_outliers" -> ((s, d) =>
      CleaningOps.madOutliers(
          ev(s, d).select("event_id", "event_type", "value"),
          "event_type", "value", cutoff = 3.5)
        .filter(col("is_outlier") === 1)
        .select("event_id", "event_type", "value", "robust_z")),


    // two-sample KS drift statistic on the same even/odd-user split as
    // dq03 — binning-free companion to PSI, bit-exact cross-engine
    "dq05_ks" -> ((s, d) =>
      MetricsOps.ksStatistic(ev(s, d), col("value"), col("user_id") % 2 === 0)),


    // Efraimidis-Spirakis weighted sampling: 50 docs, inclusion odds
    // proportional to n_chars, membership a pure function of the key
    "ml08_weighted_sample" -> ((s, d) =>
      FoldOps.weightedSample(docs(s, d).select("doc_id", "n_chars"),
        col("doc_id"), col("n_chars"), n = 50)),


    // curriculum phases: rank docs by a difficulty proxy (length) and cut
    // into 4 contiguous stages; the rank is the two-phase distributed form,
    // the phase an exact integer division (no double rounding at 10¹⁵ rows)
    "ml09_curriculum_phase" -> ((s, d) => {
      val scored = docs(s, d).select(col("doc_id"), col("n_chars"))
      RankOps.globalRowNumber(scored,
          Seq(col("n_chars").asc, col("doc_id").asc), "rn")
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("__n"))))
        .select(col("doc_id"), col("n_chars"), col("rn"),
          expr("CAST(((rn - 1) * 4) DIV __n AS INT)").as("phase"))
    }),


    // Benford first-digit conformance of the money column — leading digit
    // from the shortest decimal representation (bit-exact across engines),
    // per-digit observed vs log10(1+1/d) share and χ² contribution
    "dq06_benford" -> ((s, d) =>
      MetricsOps.benfordDigits(ord(s, d), col("o_totalprice"))),


    // inverse-frequency class weights over document languages — the
    // weighted-loss input: n_total / (k · n_class), 1.0 when balanced
    "ml10_class_weights" -> ((s, d) =>
      FoldOps.classWeights(docs(s, d), "lang")),


    // snapshot-drift monitor: split the feed at the midpoint of its time
    // extent (1-row broadcast bound), profile each half per column in ONE
    // pass (conditional aggregates), report per-column count/null/distinct
    // drift — the "did the pipeline change under me" check dq01 can't
    // answer because it profiles a single snapshot
    "dq15_schema_drift" -> ((s, d) => {
      val e = ev(s, d)
      val mid = e.agg(((unix_micros(min(col("ts"))) +
        unix_micros(max(col("ts")))) / 2).as("__mid"))
      val tagged = e.crossJoin(broadcast(mid))
        .withColumn("__ha", unix_micros(col("ts")) < col("__mid"))
      val cols = Seq("value", "event_type", "user_id")
      def stats(c: String) = Seq(
        sum(when(col("__ha"), 1L).otherwise(0L)).as(s"na_$c"),
        sum(when(col("__ha") && col(c).isNull, 1L).otherwise(0L))
          .as(s"nulla_$c"),
        countDistinct(when(col("__ha"), col(c))).as(s"dista_$c"),
        sum(when(!col("__ha"), 1L).otherwise(0L)).as(s"nb_$c"),
        sum(when(!col("__ha") && col(c).isNull, 1L).otherwise(0L))
          .as(s"nullb_$c"),
        countDistinct(when(!col("__ha"), col(c))).as(s"distb_$c"))
      val aggs = cols.flatMap(stats)
      val wide = tagged.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c =>
        s"'$c', na_$c, nulla_$c, dista_$c, nb_$c, nullb_$c, distb_$c")
        .mkString(", ")
      wide.select(expr(s"stack(${cols.size}, $stacked) as " +
          "(col_name, n_a, null_a, dist_a, n_b, null_b, dist_b)"))
        .withColumn("null_rate_delta",
          round(col("null_b").cast("double") / col("n_b") -
            col("null_a").cast("double") / col("n_a"), 6))
    }),


    // k-anonymity / l-diversity release audit: one hash agg over the
    // quasi-identifier tuple; sensitive attribute coarsened to $1k
    // account-balance bands (raw balances are near-unique → l trivial)
    "dq07_k_anonymity" -> ((s, d) =>
      PrivacyOps.kAnonymityProfile(cust(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long"), minK = 10L)),


    // leave-one-out target encoding of order priority against a
    // high-value flag — per-category agg + AQE-broadcast join back,
    // never a per-category window
    "ml12_target_encode" -> ((s, d) =>
      EncodingOps.targetEncodeLoo(
          ord(s, d).select(col("o_orderkey"), col("o_orderpriority"),
            (col("o_totalprice") > 150000).cast("int").as("y")),
          "o_orderpriority", col("y"), "loo_enc")
        .select("o_orderkey", "o_orderpriority", "y", "loo_enc")),


    // weight-of-evidence per order priority for the same flag — the
    // credit-risk encoding, one output row per category
    "ml13_woe" -> ((s, d) =>
      EncodingOps.weightOfEvidence(ord(s, d), "o_orderpriority",
        (col("o_totalprice") > 150000).cast("int"))),


    // information-gain feature screen: both order categoricals ranked
    // against the high-value flag in one melted aggregate pass
    "ml14_info_gain" -> ((s, d) =>
      AssociationOps.infoGainScreen(ord(s, d),
        Seq("priority" -> col("o_orderpriority"),
          "status" -> col("o_orderstatus")),
        (col("o_totalprice") > 150000).cast("int"))),


    // deterministic hard-negative sampling: per user (custkey < 30), 3
    // same-brand parts never purchased, ranked by a content hash of the
    // (user, item) pair — block equi-join, never user × catalog
    "ml15_negative_sample" -> ((s, d) => {
      val inter = li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_custkey") < 30)
        .join(prt(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey"), col("p_partkey"), col("p_brand"))
      FoldOps.hardNegatives(inter, "o_custkey", "p_partkey", "p_brand",
        prt(s, d).select(col("p_partkey"), col("p_brand")), k = 3)
    }),


    // leakage-free chronological 80/20 split per user: first 80% of each
    // user's events (by time) train, tail test — one window pass
    "ml16_temporal_split" -> ((s, d) =>
      FoldOps.temporalSplit(ev(s, d), Seq("user_id"),
          Seq(col("ts"), col("event_id")), testFrac = 0.2)
        .select(col("event_id"), col("split"))),


    // primary-key violation audit: duplicate-key groups and surplus rows
    // per declared key — the first DQ gate of any ingest contract; one
    // hash aggregate per key
    "dq10_pk_violations" -> ((s, d) => {
      def audit(df: DataFrame, table: String, keys: Seq[String]) =
        df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
          .agg(lit(table).as("table_name"),
            sum(when(col("__c") > 1, 1L).otherwise(0L)).as("dup_keys"),
            sum(when(col("__c") > 1, col("__c") - 1).otherwise(0L))
              .as("surplus_rows"))
      audit(ev(s, d), "events", Seq("event_id"))
        .unionByName(audit(ord(s, d), "orders", Seq("o_orderkey")))
        .unionByName(audit(li(s, d), "lineitem",
          Seq("l_orderkey", "l_linenumber")))
    }),


    // stratified k-fold: ONE exchange-parallel global row_number over
    // (stratum, content-hash) — each stratum's ranks are contiguous, so
    // rank mod k round-robins WITHIN every stratum (balanced ±1) without
    // a per-stratum window (5 strata would mean 5 data-sized tasks)
    "ml18_stratified_kfold" -> ((s, d) =>
      RankOps.globalRowNumber(ord(s, d),
          Seq(col("o_orderpriority").asc,
            md5(col("o_orderkey").cast("string")).asc, col("o_orderkey").asc),
          "__rn")
        .withColumn("fold", (col("__rn") % 5).cast("int"))
        .select("o_orderkey", "o_orderpriority", "fold")),


    // daily-volume control chart: 3σ limits from exact integer sums —
    // the row-count anomaly monitor every ingest pipeline runs first
    "dq09_control_chart" -> ((s, d) => {
      val daily = ev(s, d).groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.agg(count(lit(1)).as("__k"),
        sum(col("n")).as("__s"), sum(col("n") * col("n")).as("__ss"))
      val mu = col("__s").cast("double") / col("__k")
      val sd = sqrt((col("__k") * col("__ss") - col("__s") * col("__s"))
        .cast("double") / (col("__k") * (col("__k") - 1)))
      daily.crossJoin(broadcast(stats))
        .select(col("day"), col("n"),
          round(mu, 6).as("mu"), round(sd, 6).as("sigma"),
          (abs(col("n") - mu) > lit(3.0) * sd).as("out_of_control"))
    }),


    // the dataset card: corpus-level manifest (docs, tokens, language
    // mix, exact-dup rate) as one stacked metric/value frame — the
    // stats block every released training set ships with
    "ml17_dataset_card" -> ((s, d) =>
      docs(s, d).select(col("lang"), col("n_chars"),
          size(TextFns.tokens(col("text"))).cast("long").as("__tok"),
          TextFns.fingerprint(col("text")).as("__fp"))
        .agg(
          count(lit(1)).as("__nd"),
          sum(col("__tok")).as("__nt"),
          sum(col("n_chars")).as("__nc"),
          countDistinct(col("lang")).as("__nl"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("__ne"),
          countDistinct(col("__fp")).as("__nu"))
        .select(expr(
          "stack(7, " +
            "'10_n_docs', cast(__nd as double), " +
            "'20_n_tokens', cast(__nt as double), " +
            "'30_n_chars', cast(__nc as double), " +
            "'40_n_langs', cast(__nl as double), " +
            "'50_pct_en', round(__ne / cast(__nd as double), 6), " +
            "'60_dup_rate', round(1.0 - __nu / cast(__nd as double), 6), " +
            "'70_mean_tokens', round(__nt / cast(__nd as double), 6)" +
            ") as (metric, value)"))),


    // per-user calendar coverage: active days / span, largest silence gap
    // — the "is this source still reporting" freshness scorecard
    "dq08_completeness" -> ((s, d) =>
      TimeSeriesOps.activityCompleteness(ev(s, d), "user_id", "ts")),


    // per-source freshness lag: p50/p95 seconds behind the corpus
    // high-water mark — the DQ monitor for a multi-feed ingest; exact
    // type-7 quantiles via the sort-based groupQuantiles (no per-group
    // value buffer), reference ts = max(ts) so the query is deterministic.
    // Exact-vs-approx switch: swap groupQuantiles for the drop-in
    // groupQuantilesApprox (same schema, sketch partials, no per-group
    // sort) when this monitors 100 TB daily — ApproxSpec gates its bound
    "dq12_freshness_lag" -> ((s, d) => {
      val ref = ev(s, d).agg(max(col("ts")).as("__ref"))
      val lags = ev(s, d).crossJoin(broadcast(ref))
        .select(col("event_type"),
          (unix_micros(col("__ref")) - unix_micros(col("ts"))).as("__lag"))
      val n = lags.groupBy("event_type").agg(count(lit(1)).as("n"))
      CleaningOps.groupQuantiles(lags, "event_type", "__lag", 0.5, 0.95)
        .join(n, Seq("event_type"))
        .select(col("event_type"), col("n"),
          round(col("q_lo") / 1e6, 6).as("lag_p50_s"),
          round(col("q_hi") / 1e6, 6).as("lag_p95_s"))
    }),


    // length-bucketed batching: power-of-2 token buckets (CASE ladder —
    // no float log2 at a boundary), then capacity packing PER (source,
    // bucket) so batches hold similar-length sequences (padding-efficient
    // training batches; the ml04 cumsum pack, bucket-scoped)
    "ml19_length_buckets" -> ((s, d) => {
      val t = docs(s, d)
        .select(col("doc_id"), col("source"),
          size(TextFns.tokens(col("text"))).as("n_tokens"))
        .withColumn("len_bucket",
          when(col("n_tokens") <= 16, 16).when(col("n_tokens") <= 32, 32)
            .when(col("n_tokens") <= 64, 64)
            .when(col("n_tokens") <= 128, 128)
            .when(col("n_tokens") <= 256, 256).otherwise(512))
      FoldOps.packByCumsum(t, Seq("source", "len_bucket"), Seq("doc_id"),
          col("n_tokens"), capacity = 256)
        .select("doc_id", "source", "len_bucket", "n_tokens", "bin_id")
    }),


    // cross-field invariant audit: the denormalized n_chars column vs the
    // recomputed LEN(text) — per-source mismatch counts and worst drift
    "dq14_field_consistency" -> ((s, d) =>
      docs(s, d).filter(col("text").isNotNull)
        .withColumn("__delta",
          abs(col("n_chars") - length(col("text"))).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__delta") > 0, 1L).otherwise(0L)).as("n_mismatch"),
          max(col("__delta")).as("max_delta"),
          round(sum(when(col("__delta") > 0, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("mismatch_rate"))),


    // weekly null-rate trend per feed with a week-over-week jump flag —
    // the "did an upstream schema change silently null a column" monitor;
    // one aggregate + one lag window over the tiny weekly frame
    "dq13_null_trend" -> ((s, d) => {
      val wk = date_trunc("week", col("ts"))
      val base = ev(s, d).groupBy(col("event_type"), wk.as("week"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null"))
        .withColumn("null_rate",
          round(col("n_null").cast("double") / col("n"), 6))
      val w = Window.partitionBy("event_type").orderBy(col("week"))
      base.withColumn("__prev", lag(col("null_rate"), 1).over(w))
        .withColumn("jumped",
          when(col("__prev").isNotNull && col("__prev") > 0 &&
            col("null_rate") > col("__prev") * 2, 1).otherwise(0))
        .select("event_type", "week", "n", "n_null", "null_rate", "jumped")
    }),


    // tokenizer fertility per declared language: chars per real BPE
    // token off the t34 merge table — the multilingual context-budget
    // audit; one division over exact integer sums
    "ml22_tokenizer_fertility" -> ((s, d) =>
      BpeOps.tokenizerFertility(docs(s, d), "doc_id", "text",
        by = "lang", chars = col("n_chars"), k = 10)),


    // DPO-style preference-pair construction: per prompt group (source),
    // pair the best- and worst-scoring documents (integer lexical-
    // diversity score — exact, so the argmax/argmin need no float
    // tie-break) as (chosen, rejected); singleton groups drop out
    "ml20_preference_pairs" -> ((s, d) => {
      val t = docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          size(array_distinct(TextFns.tokens(col("text")))).cast("long")
            .as("score"))
      val wb = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id").desc)
      val ww = Window.partitionBy("source")
        .orderBy(col("score").asc, col("doc_id").asc)
      val r = t.withColumn("__rb", row_number().over(wb))
        .withColumn("__rw", row_number().over(ww))
      r.filter(col("__rb") === 1)
        .select(col("source"), col("doc_id").as("chosen_doc"),
          col("score").as("chosen_score"))
        .join(r.filter(col("__rw") === 1)
          .select(col("source"), col("doc_id").as("rejected_doc"),
            col("score").as("rejected_score")), Seq("source"))
        .filter(col("chosen_doc") =!= col("rejected_doc"))
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
    }),


    // GRPO group-relative advantages: per-source groups, reward = token
    // count, advantage = reward − group mean, z = advantage/σ — exact
    // integer numerators/radicands in DECIMAL(38,0), one cast + √ +
    // division per engine (the Welch discipline)
    "ml21_group_advantage" -> ((s, d) =>
      FoldOps.groupAdvantage(
        docs(s, d).filter(col("text").isNotNull),
        "source", "doc_id",
        size(TextFns.tokens(col("text"))).cast("long"))),


    // the token-budget gate fed by REAL subword counts instead of
    // whitespace counts (ml06's 1.3-2× budget misestimate fixed): same
    // two-phase exact cumsum, cut at 12k BPE tokens
    "ml06b_bpe_budget" -> ((s, d) => {
      val t = BpeOps.bpeTokenCounts(docs(s, d), "doc_id", "text", k = 10)
        .join(docs(s, d).select("doc_id", "n_chars"), Seq("doc_id"))
      FoldOps.takeByBudget(t,
          Seq(col("n_chars").desc, col("doc_id").asc), col("n_bpe"),
          budget = 12000L, cumName = "cum_bpe")
        .select(col("doc_id"), col("n_bpe"),
          col("cum_bpe").cast("long").as("cum_bpe"))
    }),


    // FK referential-integrity audit: orphan count + rate per declared
    // relationship in ONE left-join pass each (no crossJoin of counts);
    // the events→customer relation is genuinely violated in the harness
    // data, so the op proves it reports non-zero rates
    "dq11_referential_audit" -> ((s, d) => {
      def audit(nm: String, child: DataFrame, key: String,
          parent: DataFrame, pkey: String): DataFrame =
        child.select(col(key).as("__k"))
          .join(parent.select(col(pkey).as("__k")).distinct()
            .withColumn("__hit", lit(1)), Seq("__k"), "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
          .select(lit(nm).as("relation"), col("n_rows"), col("n_orphans"),
            round(col("n_orphans").cast("double") / col("n_rows"), 6)
              .as("orphan_rate"))
      audit("orders.custkey", ord(s, d), "o_custkey", cust(s, d), "c_custkey")
        .unionByName(audit("lineitem.partkey", li(s, d), "l_partkey",
          prt(s, d), "p_partkey"))
        .unionByName(audit("events.user_id", ev(s, d), "user_id",
          cust(s, d), "c_custkey"))
    }),


    // DSIR hashed-bigram importance weights (Xie et al. 2023): target =
    // the English slice, raw = the whole corpus; per-bucket log ratios
    // nano-quantized so per-doc means are exact-integer closed
    "ml24_dsir_weights" -> ((s, d) =>
      QualityOps.dsirWeights(gramProf(s, d),
        docs(s, d).select(col("doc_id"),
          (col("lang") === "en").as("__tgt")))),


    // entropy ℓ-diversity profile per (nation, segment) quasi-identifier
    // with the balance bracket as the sensitive attribute — distinct ℓ,
    // sensitive-distribution entropy, dominant-value share
    "dq16_l_diversity" -> ((s, d) =>
      PrivacyOps.lDiversityProfile(cust(s, d),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long"))),


    // per-lane embedding mean drift between the even and odd vec_id
    // halves — the embedding-space PSI; one posexplode scan, exact
    // DECIMAL sums per (lane, slice), d bounded rows out
    "dq17_embedding_drift" -> ((s, d) =>
      RegressionOps.embeddingMeanDrift(emb(s, d), "embedding",
        col("vec_id") % 2 === 1)),


    // DSIR's actual resampling step: importance weights → deterministic
    // Efraimidis–Spirakis weighted sample (w = e^dsir, priority ln(u)/w)
    // — TakeOrderedAndProject, no global sort
    "ml25_dsir_resample" -> ((s, d) => {
      val w = QualityOps.dsirWeights(gramProf(s, d),
          docs(s, d).select(col("doc_id"),
            (col("lang") === "en").as("__tgt")))
        .filter(col("dsir_w").isNotNull)
      FoldOps.weightedSample(w, col("doc_id"), exp(col("dsir_w")), n = 50)
        .withColumn("priority",
          round(FoldOps.weightedPriority(col("doc_id"), exp(col("dsir_w"))), 6))
        .select(col("doc_id"), col("dsir_w"), col("priority"))
    }),


    // deterministic per-epoch global shuffle: position = exact per-epoch
    // running count over md5(epoch:id) from the prefix-sum kernel —
    // reproducible training-data order on any cluster size, no
    // single-partition sort
    "ml26_epoch_shuffle" -> ((s, d) => {
      val base = docs(s, d)
        .select(col("doc_id"), explode(array(lit(0), lit(1))).as("epoch"))
        .withColumn("__key", md5(concat(col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string"))))
      RankOps.prefixSums(base, Seq(col("epoch")),
          Seq(col("__key").asc, col("doc_id").asc), Seq(lit(1L) -> "position"))
        .select(col("epoch"), col("doc_id"), col("position"))
    }),


    // fill-in-middle training transform (Bavarian et al. 2022): each doc
    // split at two deterministic modular cuts and re-emitted in SPM
    // (suffix-prefix-middle) sentinel order — a pure projection, no
    // shuffle, cuts reproducible on any engine from the row id alone
    "ml27_fim_split" -> ((s, d) =>
      FoldOps.fimSplit(docs(s, d), "doc_id", "text")),


    // Bradley–Terry strengths over arena-style matches: adjacent docs from
    // different sources "compete" on exact lexical score (tie → the earlier
    // doc), 4 unrolled MM iterations on the bounded source-pair frame
    "ml28_bradley_terry" -> ((s, d) => {
      // pinned: the match self-join references the scored frame TWICE —
      // without the pin the corpus tokenize + distinct runs once per side
      val t = docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          size(array_distinct(TextFns.tokens(col("text")))).cast("long")
            .as("__score"))
        .localCheckpoint(false)
      val mm = t.as("a").join(t.as("b"),
          col("a.doc_id") + 1 === col("b.doc_id") &&
            col("a.source") =!= col("b.source"))
        .select(
          when(col("b.__score") > col("a.__score"), col("b.source"))
            .otherwise(col("a.source")).as("winner"),
          when(col("b.__score") > col("a.__score"), col("a.source"))
            .otherwise(col("b.source")).as("loser"))
      FoldOps.bradleyTerry(mm, "winner", "loser", iters = 4)
    })
  )

  def oracles: Map[String, String] = Map(
    "ml22_tokenizer_fertility" -> ml22OracleSql,

    "ml06b_bpe_budget" -> ml06bOracleSql,


    "ml20_preference_pairs" ->
      """WITH t AS (SELECT doc_id, source,
                           CAST(LEN(LIST_DISTINCT(STRING_SPLIT_REGEX(
                             TRIM(text), '\s+'))) AS BIGINT) AS score
                    FROM documents WHERE text IS NOT NULL),
         r AS (SELECT *,
                      ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY score DESC, doc_id DESC) AS rb,
                      ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY score ASC, doc_id ASC) AS rw
               FROM t)
         SELECT b.source, b.doc_id AS chosen_doc, b.score AS chosen_score,
                w.doc_id AS rejected_doc, w.score AS rejected_score,
                b.score - w.score AS margin
         FROM (SELECT * FROM r WHERE rb = 1) b
         JOIN (SELECT * FROM r WHERE rw = 1) w USING (source)
         WHERE b.doc_id <> w.doc_id""",


    // GRPO group advantages: HUGEINT group sums mirror the engine's
    // DECIMAL(38,0); advantage and z are one cast + division (+ √) over
    // exact integer numerators/radicands
    "ml21_group_advantage" ->
      """WITH t AS (SELECT doc_id, source,
                           CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))
                             AS BIGINT) AS reward
                    FROM documents WHERE text IS NOT NULL),
         st AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(reward) AS HUGEINT) AS s,
                       SUM(CAST(reward AS HUGEINT) * reward) AS q
                FROM t GROUP BY 1)
         SELECT t.source, t.doc_id, t.reward,
                ROUND(CAST(n * reward - s AS DOUBLE) / CAST(n AS DOUBLE), 6)
                  + 0.0 AS advantage,
                CASE WHEN n * q - s * s > 0 THEN
                  ROUND(CAST(n * reward - s AS DOUBLE)
                    / SQRT(CAST(n * q - s * s AS DOUBLE)), 6) + 0.0
                END AS z
         FROM t JOIN st USING (source)""",


    // one conditional-aggregate pass per half; midpoint sum ~3.4e15 µs is
    // exact in double, /2 exact, so the split lands identically
    "dq15_schema_drift" ->
      """WITH m AS (SELECT (EPOCH_US(MIN(ts)) + EPOCH_US(MAX(ts))) / 2
                      AS mid
                    FROM events),
         t AS (SELECT e.*, EPOCH_US(ts) < m.mid AS ha FROM events e, m),
         w AS (SELECT
                 SUM(CASE WHEN ha THEN 1 ELSE 0 END) AS na_value,
                 SUM(CASE WHEN ha AND value IS NULL THEN 1 ELSE 0 END)
                   AS nulla_value,
                 COUNT(DISTINCT CASE WHEN ha THEN value END) AS dista_value,
                 SUM(CASE WHEN NOT ha THEN 1 ELSE 0 END) AS nb_value,
                 SUM(CASE WHEN NOT ha AND value IS NULL THEN 1 ELSE 0 END)
                   AS nullb_value,
                 COUNT(DISTINCT CASE WHEN NOT ha THEN value END)
                   AS distb_value,
                 SUM(CASE WHEN ha THEN 1 ELSE 0 END) AS na_et,
                 SUM(CASE WHEN ha AND event_type IS NULL THEN 1 ELSE 0 END)
                   AS nulla_et,
                 COUNT(DISTINCT CASE WHEN ha THEN event_type END) AS dista_et,
                 SUM(CASE WHEN NOT ha THEN 1 ELSE 0 END) AS nb_et,
                 SUM(CASE WHEN NOT ha AND event_type IS NULL THEN 1
                     ELSE 0 END) AS nullb_et,
                 COUNT(DISTINCT CASE WHEN NOT ha THEN event_type END)
                   AS distb_et,
                 SUM(CASE WHEN ha THEN 1 ELSE 0 END) AS na_uid,
                 SUM(CASE WHEN ha AND user_id IS NULL THEN 1 ELSE 0 END)
                   AS nulla_uid,
                 COUNT(DISTINCT CASE WHEN ha THEN user_id END) AS dista_uid,
                 SUM(CASE WHEN NOT ha THEN 1 ELSE 0 END) AS nb_uid,
                 SUM(CASE WHEN NOT ha AND user_id IS NULL THEN 1
                     ELSE 0 END) AS nullb_uid,
                 COUNT(DISTINCT CASE WHEN NOT ha THEN user_id END)
                   AS distb_uid
               FROM t),
         s AS (SELECT 'value' AS col_name, na_value AS n_a,
                      nulla_value AS null_a, dista_value AS dist_a,
                      nb_value AS n_b, nullb_value AS null_b,
                      distb_value AS dist_b
               FROM w
               UNION ALL
               SELECT 'event_type', na_et, nulla_et, dista_et, nb_et,
                      nullb_et, distb_et FROM w
               UNION ALL
               SELECT 'user_id', na_uid, nulla_uid, dista_uid, nb_uid,
                      nullb_uid, distb_uid FROM w)
         SELECT col_name, CAST(n_a AS BIGINT) AS n_a,
                CAST(null_a AS BIGINT) AS null_a,
                CAST(dist_a AS BIGINT) AS dist_a,
                CAST(n_b AS BIGINT) AS n_b,
                CAST(null_b AS BIGINT) AS null_b,
                CAST(dist_b AS BIGINT) AS dist_b,
                ROUND(CAST(null_b AS DOUBLE) / n_b
                      - CAST(null_a AS DOUBLE) / n_a, 6) + 0.0
                  AS null_rate_delta
         FROM s""",


    "ml19_length_buckets" ->
      """WITH t AS (
           SELECT doc_id, source,
                  CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS INT)
                    AS n_tokens
           FROM documents),
         b AS (SELECT *,
                      CASE WHEN n_tokens <= 16 THEN 16
                           WHEN n_tokens <= 32 THEN 32
                           WHEN n_tokens <= 64 THEN 64
                           WHEN n_tokens <= 128 THEN 128
                           WHEN n_tokens <= 256 THEN 256
                           ELSE 512 END AS len_bucket
               FROM t)
         SELECT doc_id, source, len_bucket, n_tokens,
                CAST(FLOOR((SUM(n_tokens) OVER (
                       PARTITION BY source, len_bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / 256.0) AS INTEGER) AS bin_id
         FROM b""",


    "dq14_field_consistency" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN ABS(n_chars - LEN(text)) > 0 THEN 1
                         ELSE 0 END) AS BIGINT) AS n_mismatch,
                CAST(MAX(ABS(n_chars - LEN(text))) AS BIGINT) AS max_delta,
                ROUND(SUM(CASE WHEN ABS(n_chars - LEN(text)) > 0 THEN 1
                          ELSE 0 END) * 1.0 / COUNT(*), 6) + 0.0 AS mismatch_rate
         FROM documents WHERE text IS NOT NULL GROUP BY 1""",


    "dq13_null_trend" ->
      """WITH b AS (SELECT event_type, DATE_TRUNC('week', ts) AS week,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0
                             END) AS BIGINT) AS n_null
                    FROM events GROUP BY 1, 2),
         r AS (SELECT *, ROUND(n_null * 1.0 / n, 6) + 0.0 AS null_rate FROM b)
         SELECT event_type, week, n, n_null, null_rate,
                CASE WHEN LAG(null_rate) OVER w IS NOT NULL
                          AND LAG(null_rate) OVER w > 0
                          AND null_rate > LAG(null_rate) OVER w * 2
                     THEN 1 ELSE 0 END AS jumped
         FROM r WINDOW w AS (PARTITION BY event_type ORDER BY week)""",


    "dq12_freshness_lag" ->
      """WITH ref AS (SELECT MAX(ts) AS r FROM events),
         l AS (SELECT event_type, EPOCH_US(r) - EPOCH_US(ts) AS lag
               FROM events, ref)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(QUANTILE_CONT(lag, 0.5) / 1e6, 6) + 0.0 AS lag_p50_s,
                ROUND(QUANTILE_CONT(lag, 0.95) / 1e6, 6) + 0.0 AS lag_p95_s
         FROM l GROUP BY 1""",


    "dq11_referential_audit" ->
      """WITH a AS (SELECT 'orders.custkey' AS relation,
                           CAST(COUNT(*) AS BIGINT) AS n_rows,
                           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1
                                    ELSE 0 END) AS BIGINT) AS n_orphans
                    FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey
                                             FROM customer) c
                      ON o.o_custkey = c.c_custkey),
         b AS (SELECT 'lineitem.partkey' AS relation,
                      CAST(COUNT(*) AS BIGINT) AS n_rows,
                      CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1
                               ELSE 0 END) AS BIGINT) AS n_orphans
               FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey
                                          FROM part) p
                 ON l.l_partkey = p.p_partkey),
         c AS (SELECT 'events.user_id' AS relation,
                      CAST(COUNT(*) AS BIGINT) AS n_rows,
                      CAST(SUM(CASE WHEN cu.c_custkey IS NULL THEN 1
                               ELSE 0 END) AS BIGINT) AS n_orphans
               FROM events e LEFT JOIN (SELECT DISTINCT c_custkey
                                        FROM customer) cu
                 ON e.user_id = cu.c_custkey),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b
               UNION ALL SELECT * FROM c)
         SELECT relation, n_rows, n_orphans,
                ROUND(n_orphans * 1.0 / n_rows, 6) + 0.0 AS orphan_rate
         FROM u""",


    "ml06_token_budget" ->
      """WITH t AS (SELECT doc_id, n_chars,
                CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS BIGINT) AS n_toks
              FROM documents),
         c AS (SELECT doc_id, n_toks,
                CAST(SUM(n_toks) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum_toks
               FROM t)
         SELECT doc_id, n_toks, cum_toks FROM c WHERE cum_toks <= 8000""",


    "ml07_mix_weights" ->
      """WITH s AS (SELECT source,
                CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS BIGINT) AS n_toks
              FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(n_toks) AS DOUBLE) AS total,
                      CAST(COUNT(*) AS DOUBLE) AS k FROM s)
         SELECT source, n_toks, ROUND(n_toks / total, 6) + 0.0 AS share,
                ROUND(total / (k * n_toks), 6) + 0.0 AS weight
         FROM s CROSS JOIN t""",


    "ml11_interleave" ->
      """WITH r AS (
           SELECT doc_id, lang,
                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS src_rank
           FROM documents),
         v AS (
           SELECT doc_id, lang, src_rank,
                  (src_rank - 0.5) / CASE lang
                    WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.15 WHEN 'es' THEN 0.15
                    WHEN 'de' THEN 0.15 WHEN 'fr' THEN 0.15 ELSE 1.0 END AS vt
           FROM r)
         SELECT doc_id, lang, CAST(src_rank AS BIGINT) AS src_rank,
                CAST(ROW_NUMBER() OVER (ORDER BY vt, lang, src_rank) AS BIGINT) AS pos
         FROM v""",


    "ml01_kfold_split" ->
      """SELECT o_orderkey,
                CAST(((o_orderkey * 2654435761) % 1000000007) % 5 AS INTEGER) AS fold
         FROM orders""",


    "ml02_oversample" ->
      """SELECT o_orderkey, CAST(i AS INTEGER) AS copy_id
         FROM orders CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 3)) AS i)
         WHERE i <= CASE WHEN o_totalprice > 400000.0 THEN 3 ELSE 1 END""",


    "ml03_hash_sample" ->
      """WITH h AS (
           SELECT doc_id, lang,
                  STRPOS('0123456789abcdef',
                    SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS h16
           FROM documents)
         SELECT doc_id, lang, CAST(h16 AS INTEGER) AS h16 FROM h
         WHERE h16 < CASE lang WHEN 'en' THEN 4 WHEN 'zh' THEN 8 ELSE 12 END""",


    "ml04_pack_bins" ->
      """WITH t AS (
           SELECT doc_id, source,
                  LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS n_tokens
           FROM documents)
         SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
                CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / 256.0) AS INTEGER) AS bin_id
         FROM t""",


    "dq02_outliers" ->
      """WITH s AS (SELECT event_type, AVG(value) AS mu,
                           STDDEV_SAMP(value) AS sd
                    FROM events GROUP BY 1)
         SELECT event_id, e.event_type, ROUND((value - mu) / sd, 6) + 0.0 AS z
         FROM events e JOIN s USING (event_type)
         WHERE ABS((value - mu) / sd) > 2.5""",


    "ml05_topn_sample" ->
      """SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
           SELECT doc_id, lang,
                  ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
           FROM documents) WHERE rk <= 30""",


    "dq01_profile" ->
      """SELECT 'l_quantity' AS col_name, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
                ROUND(MIN(l_quantity), 6) + 0.0 AS min_v, ROUND(MAX(l_quantity), 6) + 0.0 AS max_v,
                ROUND(ROUND(SUM(l_quantity), 3) / COUNT(*), 6) + 0.0 AS avg_v
         FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
                ROUND(MIN(l_extendedprice), 6), ROUND(MAX(l_extendedprice), 6),
                ROUND(ROUND(SUM(l_extendedprice), 3) / COUNT(*), 6)
         FROM lineitem
         UNION ALL
         SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(COUNT(DISTINCT l_discount) AS BIGINT),
                ROUND(MIN(l_discount), 6), ROUND(MAX(l_discount), 6),
                ROUND(ROUND(SUM(l_discount), 3) / COUNT(*), 6)
         FROM lineitem""",


    // d08's minhash-LSH → verify → closure chain, then every doc (left
    // join, singletons = own cluster) folded by the ml01 Knuth hash of
    // its cluster canonical
    "ml23_dedup_split" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
                   FROM cand c JOIN ex a ON a.doc_id = c.id_a
                     JOIN ex b ON b.doc_id = c.id_b AND b.sg = a.sg
                   GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5),
         und AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM und
           UNION
           SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         cc AS (SELECT a AS did, LEAST(a, MIN(b)) AS canon
                FROM reach GROUP BY a)
         SELECT d.doc_id,
                CAST(COALESCE(cc.canon, d.doc_id) AS BIGINT) AS cluster_id,
                CAST(((COALESCE(cc.canon, d.doc_id) * 2654435761)
                    % 1000000007) % 5 AS INTEGER) AS fold
         FROM documents d LEFT JOIN cc ON cc.did = d.doc_id""",


    "dq03_psi" ->
      """WITH d AS (SELECT CAST(value AS DOUBLE) AS v,
                           CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS b
                    FROM events WHERE value IS NOT NULL),
         ext AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM d),
         counted AS (SELECT CASE WHEN hi = lo THEN 0
                            ELSE LEAST(CAST(FLOOR((v - lo) / ((hi - lo) / 10.0)) AS BIGINT), 9)
                            END AS bin,
                            SUM(b) AS nb, SUM(1 - b) AS nc
                     FROM d CROSS JOIN ext GROUP BY 1),
         tot AS (SELECT SUM(nb) AS tb, SUM(nc) AS tc FROM counted),
         dense AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS bin),
         f AS (SELECT dense.bin,
                      (COALESCE(nb, 0) + 1.0) / (tb + 10.0) AS p,
                      (COALESCE(nc, 0) + 1.0) / (tc + 10.0) AS q
               FROM dense LEFT JOIN counted USING (bin) CROSS JOIN tot)
         SELECT CAST(bin AS INTEGER) AS bin, ROUND(p, 6) + 0.0 AS p_base,
                ROUND(q, 6) + 0.0 AS p_curr, ROUND((p - q) * LN(p / q), 6) + 0.0 AS psi_contrib
         FROM f""",


    "dq04_mad_outliers" ->
      """WITH med AS (SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
                      FROM events GROUP BY 1),
         dev AS (SELECT e.event_id, e.event_type, e.value,
                        ABS(e.value - m.med) AS absdev
                 FROM events e JOIN med m USING (event_type)
                 WHERE e.value IS NOT NULL),
         mad AS (SELECT event_type, QUANTILE_CONT(absdev, 0.5) AS mad
                 FROM dev GROUP BY 1)
         SELECT d.event_id, d.event_type, d.value,
                ROUND(d.absdev / (1.4826 * m.mad), 6) + 0.0 AS robust_z
         FROM dev d JOIN mad m USING (event_type)
         WHERE m.mad > 0 AND d.absdev / (1.4826 * m.mad) > 3.5""",


    "dq05_ks" ->
      """WITH g AS (
           SELECT value AS v,
                  SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
                  SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS b
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         c AS (
           SELECT SUM(a) OVER (ORDER BY v) AS ca,
                  SUM(b) OVER (ORDER BY v) AS cb
           FROM g)
         SELECT ROUND(MAX(ABS(ca * 1.0 / (SELECT SUM(a) FROM g)
                            - cb * 1.0 / (SELECT SUM(b) FROM g))), 6) + 0.0 AS ks
         FROM c""",


    "ml08_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
                  LN((CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                      + 0.5) / 4294967296.0) / n_chars AS pri
           FROM documents)
         ORDER BY pri DESC, doc_id ASC LIMIT 50""",


    "ml09_curriculum_phase" ->
      """WITH r AS (SELECT doc_id, n_chars,
                ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn
              FROM documents),
         n AS (SELECT COUNT(*) AS n FROM documents)
         SELECT doc_id, n_chars, CAST(rn AS BIGINT) AS rn,
                CAST(((rn - 1) * 4) // n AS INTEGER) AS phase
         FROM r CROSS JOIN n""",


    // leading digit via the value's shortest decimal representation — a
    // pure function of the double's bits, identical across engines
    "dq06_benford" ->
      """WITH c AS (
           SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]', 0)
                    AS INTEGER) AS digit,
                  COUNT(*) AS n
           FROM orders
           WHERE o_totalprice IS NOT NULL
             AND regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]', 0) <> ''
           GROUP BY 1),
         t AS (SELECT SUM(n) AS tot FROM c)
         SELECT digit, CAST(n AS BIGINT) AS n,
                ROUND(CAST(n AS DOUBLE) / tot, 6) + 0.0 AS obs_share,
                ROUND(LN(1.0 + 1.0 / digit) / LN(10.0), 6) + 0.0 AS exp_share,
                ROUND(tot * (CAST(n AS DOUBLE) / tot - LN(1.0 + 1.0 / digit) / LN(10.0))
                          * (CAST(n AS DOUBLE) / tot - LN(1.0 + 1.0 / digit) / LN(10.0))
                      / (LN(1.0 + 1.0 / digit) / LN(10.0)), 6) + 0.0 AS chi2_part
         FROM c CROSS JOIN t""",


    "ml10_class_weights" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot,
                      CAST(COUNT(*) AS BIGINT) AS k FROM c)
         SELECT lang, CAST(n AS BIGINT) AS n,
                ROUND(CAST(tot AS DOUBLE) / (k * n), 6) + 0.0 AS weight
         FROM c CROSS JOIN t""",


    "dq07_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
                CAST(COUNT(*) AS BIGINT) AS k_count,
                CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000) AS BIGINT))
                     AS BIGINT) AS l_distinct,
                CASE WHEN COUNT(*) < 10 THEN 1 ELSE 0 END AS suppress
         FROM customer GROUP BY 1, 2""",


    "ml12_target_encode" ->
      """WITH t AS (SELECT o_orderkey, o_orderpriority,
                           CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
                    FROM orders),
         g AS (SELECT o_orderpriority, SUM(y) AS s, COUNT(*) AS c
               FROM t GROUP BY 1)
         SELECT t.o_orderkey, t.o_orderpriority, t.y,
                CASE WHEN g.c > 1
                     THEN ROUND((g.s - t.y) / CAST(g.c - 1 AS DOUBLE), 6)
                     END AS loo_enc
         FROM t JOIN g USING (o_orderpriority)""",


    "ml13_woe" ->
      """WITH t AS (SELECT o_orderpriority,
                           CASE WHEN o_totalprice > 150000 THEN 1.0 ELSE 0.0 END AS y
                    FROM orders),
         g AS (SELECT o_orderpriority, SUM(y) AS pos, SUM(1.0 - y) AS neg
               FROM t GROUP BY 1),
         tot AS (SELECT SUM(pos) AS tp, SUM(neg) AS tn FROM g)
         SELECT o_orderpriority, pos, neg,
                ROUND(LN(((pos + 0.5) / tp) / ((neg + 0.5) / tn)), 6) + 0.0 AS woe
         FROM g CROSS JOIN tot""",


    "ml14_info_gain" ->
      """WITH base AS (SELECT o_orderpriority, o_orderstatus,
                              CAST(o_totalprice > 150000 AS INT) AS y
                       FROM orders),
         melted AS (SELECT 'priority' AS feature,
                           COALESCE(CAST(o_orderpriority AS VARCHAR), ' null') AS fval,
                           CAST(y AS VARCHAR) AS yy FROM base
                    UNION ALL
                    SELECT 'status', COALESCE(CAST(o_orderstatus AS VARCHAR), ' null'),
                           CAST(y AS VARCHAR) FROM base),
         cells AS (SELECT feature, fval, yy, COUNT(*) AS nfy
                   FROM melted GROUP BY 1, 2, 3),
         fv AS (SELECT feature, fval, SUM(nfy) AS nf FROM cells GROUP BY 1, 2),
         n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM base),
         hy AS (SELECT SUM(CAST(ROUND(-(ny / nn) * LN(ny / nn) * 1e12, 0) AS BIGINT))
                       / 1e12 AS hy
                FROM (SELECT CAST(COUNT(*) AS BIGINT) AS ny FROM base GROUP BY y)
                CROSS JOIN n),
         cond AS (SELECT feature,
                         SUM(CAST(ROUND(-(nfy / nn) * LN(CAST(nfy AS DOUBLE) / nf)
                           * 1e12, 0) AS BIGINT)) / 1e12 AS hcond
                  FROM cells JOIN fv USING (feature, fval) CROSS JOIN n
                  GROUP BY 1),
         si AS (SELECT feature,
                       SUM(CAST(ROUND(-(nf / nn) * LN(nf / nn) * 1e12, 0) AS BIGINT))
                       / 1e12 AS hf
                FROM fv CROSS JOIN n GROUP BY 1)
         SELECT feature, ROUND(hy, 6) + 0.0 AS h_target, ROUND(hcond, 6) + 0.0 AS h_cond,
                ROUND(hy - hcond, 6) + 0.0 AS info_gain,
                CASE WHEN hf > 0 THEN ROUND((hy - hcond) / hf, 6) END AS gain_ratio
         FROM cond JOIN si USING (feature) CROSS JOIN hy""",


    "ml15_negative_sample" ->
      """WITH inter AS (SELECT o_custkey, p_partkey, p_brand
                        FROM lineitem
                        JOIN orders ON l_orderkey = o_orderkey
                        JOIN part ON l_partkey = p_partkey
                        WHERE o_custkey < 30),
         pos AS (SELECT DISTINCT o_custkey, p_partkey FROM inter),
         ub AS (SELECT DISTINCT o_custkey, p_brand FROM inter),
         cand AS (SELECT ub.o_custkey, p.p_partkey,
                         CAST(('0x' || SUBSTRING(
                           MD5(CONCAT(ub.o_custkey, '#', p.p_partkey)), 1, 15))
                           AS BIGINT) AS h
                  FROM ub JOIN part p USING (p_brand)
                  WHERE NOT EXISTS (SELECT 1 FROM pos
                                    WHERE pos.o_custkey = ub.o_custkey
                                      AND pos.p_partkey = p.p_partkey)),
         r AS (SELECT o_custkey, p_partkey,
                      ROW_NUMBER() OVER (PARTITION BY o_custkey
                                         ORDER BY h, p_partkey) AS neg_rank
               FROM cand)
         SELECT o_custkey, p_partkey, CAST(neg_rank AS INTEGER) AS neg_rank
         FROM r WHERE neg_rank <= 3""",


    "ml16_temporal_split" ->
      """WITH r AS (SELECT event_id,
                           ROW_NUMBER() OVER w AS rn,
                           COUNT(*) OVER (PARTITION BY user_id) AS n
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT event_id,
                CASE WHEN rn <= CEIL(n * 0.8) THEN 'train' ELSE 'test' END
                  AS split
         FROM r""",


    "dq10_pk_violations" ->
      """SELECT 'events' AS table_name,
                CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS dup_keys,
                CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
                  AS surplus_rows
         FROM (SELECT COUNT(*) AS c FROM events GROUP BY event_id)
         UNION ALL
         SELECT 'orders',
                CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
         FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
         UNION ALL
         SELECT 'lineitem',
                CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
         FROM (SELECT COUNT(*) AS c FROM lineitem
               GROUP BY l_orderkey, l_linenumber)""",


    "ml18_stratified_kfold" ->
      """WITH r AS (SELECT o_orderkey, o_orderpriority,
                           ROW_NUMBER() OVER (ORDER BY o_orderpriority,
                             MD5(CAST(o_orderkey AS VARCHAR)), o_orderkey)
                             AS rn
                    FROM orders)
         SELECT o_orderkey, o_orderpriority,
                CAST(rn % 5 AS INTEGER) AS fold
         FROM r""",


    "dq09_control_chart" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM events GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                       CAST(SUM(n) AS BIGINT) AS s,
                       CAST(SUM(n * n) AS BIGINT) AS ss
                FROM daily)
         SELECT day, n,
                ROUND(CAST(s AS DOUBLE) / k, 6) + 0.0 AS mu,
                ROUND(SQRT(CAST(k * ss - s * s AS DOUBLE) / (k * (k - 1))), 6) + 0.0
                  AS sigma,
                ABS(n - CAST(s AS DOUBLE) / k) >
                  3.0 * SQRT(CAST(k * ss - s * s AS DOUBLE) / (k * (k - 1)))
                  AS out_of_control
         FROM daily CROSS JOIN st""",


    "ml17_dataset_card" ->
      """WITH t AS (SELECT lang, n_chars,
                           CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))
                             AS BIGINT) AS tok,
                           MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ',
                             'g')) AS fp
                    FROM documents),
         a AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
                      CAST(SUM(tok) AS BIGINT) AS nt,
                      CAST(SUM(n_chars) AS BIGINT) AS nc,
                      CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl,
                      CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ne,
                      CAST(COUNT(DISTINCT fp) AS BIGINT) AS nu
               FROM t)
         SELECT m.metric, m.value FROM a, LATERAL (VALUES
           ('10_n_docs', CAST(nd AS DOUBLE)),
           ('20_n_tokens', CAST(nt AS DOUBLE)),
           ('30_n_chars', CAST(nc AS DOUBLE)),
           ('40_n_langs', CAST(nl AS DOUBLE)),
           ('50_pct_en', ROUND(ne / CAST(nd AS DOUBLE), 6)),
           ('60_dup_rate', ROUND(1.0 - nu / CAST(nd AS DOUBLE), 6)),
           ('70_mean_tokens', ROUND(nt / CAST(nd AS DOUBLE), 6))
         ) AS m(metric, value)""",


    "dq08_completeness" ->
      """WITH d AS (SELECT DISTINCT user_id,
                           CAST(date_diff('day', DATE '1970-01-01',
                             CAST(ts AS DATE)) AS BIGINT) AS day
                    FROM events),
         g AS (SELECT user_id, day,
                      day - LAG(day) OVER (PARTITION BY user_id ORDER BY day)
                        AS gap
               FROM d)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS active_days,
                CAST(MAX(day) - MIN(day) + 1 AS BIGINT) AS span_days,
                ROUND(CAST(COUNT(*) AS DOUBLE) / (MAX(day) - MIN(day) + 1), 6) + 0.0
                  AS completeness,
                CAST(COALESCE(MAX(gap), 1) AS BIGINT) AS max_gap
         FROM g GROUP BY 1""",


    // DSIR: exact integer bucket counts → one nano-quantized log ratio
    // per bucket → exact BIGINT per-doc sums, one closing division
    "ml24_dsir_weights" ->
      """WITH t AS (SELECT doc_id,
                           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
                           STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         bg AS (SELECT doc_id, tgt,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                         k -> toks[k] || ' ' || toks[k+1])) AS bg
                FROM t WHERE LEN(toks) >= 2),
         bb AS (SELECT doc_id,
                       CAST(CAST(('0x' || SUBSTRING(MD5(bg), 1, 4)) AS BIGINT)
                         % 128 AS INT) AS b,
                       tgt
                FROM bg),
         counts AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r,
                           CAST(SUM(tgt) AS BIGINT) AS tc
                    FROM bb GROUP BY 1),
         tot AS (SELECT CAST(SUM(r) AS BIGINT) AS rt,
                        CAST(SUM(tc) AS BIGINT) AS tt FROM counts),
         ratio AS (SELECT b,
                          CAST(ROUND(LN((tc + 1.0) / (tt + 128.0)
                                        * (rt + 128.0) / (r + 1.0)) * 1e9, 0)
                            AS BIGINT) AS lrq
                   FROM counts CROSS JOIN tot),
         per AS (SELECT bb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                        CAST(SUM(ratio.lrq) AS BIGINT) AS s
                 FROM bb JOIN ratio USING (b) GROUP BY 1)
         SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams,
                ROUND(per.s / per.n_bigrams / 1e9, 6) + 0.0 AS dsir_w
         FROM documents d LEFT JOIN per USING (doc_id)""",


    // the a19 entropy closed form per QI group + distinct-ℓ + dominance
    "dq16_l_diversity" ->
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
                           CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS sv,
                           COUNT(*) AS c
                    FROM customer GROUP BY 1, 2, 3)
         SELECT c_nationkey, c_mktsegment,
                CAST(SUM(c) AS BIGINT) AS k_count,
                CAST(COUNT(*) AS BIGINT) AS l_distinct,
                ROUND(LN(SUM(c))
                      - CAST(SUM(CAST(c AS HUGEINT)
                                 * CAST(ROUND(LN(c) * 1e12, 0) AS BIGINT))
                          AS DOUBLE) / 1e12 / SUM(c), 6) + 0.0 AS entropy,
                ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) + 0.0 AS max_share
         FROM c GROUP BY 1, 2""",


    // v09's lane quantization, folded to per-(lane, parity-slice) exact
    // sums; means and drift close as one double sequence per lane
    "dq17_embedding_drift" ->
      """WITH e AS (SELECT CAST(vec_id % 2 AS INT) AS b,
                           CAST(generate_subscripts(embedding, 1) AS INT) - 1
                             AS lane,
                           CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1e6,
                                      0) AS BIGINT) AS q
                    FROM embeddings)
         SELECT lane,
                CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                ROUND(CAST(SUM(CASE WHEN b = 0 THEN CAST(q AS HUGEINT)
                                    ELSE 0 END) AS DOUBLE)
                      / CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                      / 1e6, 6) + 0.0 AS mean_a,
                ROUND(CAST(SUM(CASE WHEN b = 1 THEN CAST(q AS HUGEINT)
                                    ELSE 0 END) AS DOUBLE)
                      / CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / 1e6, 6) + 0.0 AS mean_b,
                ROUND(CAST(SUM(CASE WHEN b = 1 THEN CAST(q AS HUGEINT)
                                    ELSE 0 END) AS DOUBLE)
                      / CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                      / 1e6
                      - CAST(SUM(CASE WHEN b = 0 THEN CAST(q AS HUGEINT)
                                      ELSE 0 END) AS DOUBLE)
                        / CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                        / 1e6, 6) + 0.0 AS drift
         FROM e GROUP BY 1""",


    // ml24's weight construction closed by the ml08 Efraimidis–Spirakis
    // priority with w = e^dsir — same md5-derived u, same top-50 contract
    "ml25_dsir_resample" ->
      """WITH t AS (SELECT doc_id,
                           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
                           STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         bg AS (SELECT doc_id, tgt,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                         k -> toks[k] || ' ' || toks[k+1])) AS bg
                FROM t WHERE LEN(toks) >= 2),
         bb AS (SELECT doc_id,
                       CAST(CAST(('0x' || SUBSTRING(MD5(bg), 1, 4)) AS BIGINT)
                         % 128 AS INT) AS b,
                       tgt
                FROM bg),
         counts AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r,
                           CAST(SUM(tgt) AS BIGINT) AS tc
                    FROM bb GROUP BY 1),
         tot AS (SELECT CAST(SUM(r) AS BIGINT) AS rt,
                        CAST(SUM(tc) AS BIGINT) AS tt FROM counts),
         ratio AS (SELECT b,
                          CAST(ROUND(LN((tc + 1.0) / (tt + 128.0)
                                        * (rt + 128.0) / (r + 1.0)) * 1e9, 0)
                            AS BIGINT) AS lrq
                   FROM counts CROSS JOIN tot),
         per AS (SELECT bb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                        CAST(SUM(ratio.lrq) AS BIGINT) AS s
                 FROM bb JOIN ratio USING (b) GROUP BY 1),
         sel AS (SELECT doc_id,
                        ROUND(s / n_bigrams / 1e9, 6) + 0.0 AS dsir_w
                 FROM per),
         pri AS (SELECT doc_id, dsir_w,
                        LN((CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 0.5) / 4294967296.0)
                          / EXP(dsir_w) AS pri
                 FROM sel)
         SELECT doc_id, dsir_w, ROUND(pri, 6) + 0.0 AS priority
         FROM pri ORDER BY pri DESC, doc_id ASC LIMIT 50""",


    // per-epoch md5-keyed permutation — binary hex ordering is identical
    // in both engines; position is the within-epoch rank
    "ml26_epoch_shuffle" ->
      """WITH b AS (SELECT doc_id, UNNEST([0, 1]) AS epoch FROM documents),
         k AS (SELECT doc_id, CAST(epoch AS INT) AS epoch,
                      MD5(CAST(epoch AS VARCHAR) || ':'
                          || CAST(doc_id AS VARCHAR)) AS key
               FROM b)
         SELECT epoch, doc_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY epoch
                  ORDER BY key ASC, doc_id ASC) AS BIGINT) AS position
         FROM k""",


    // the same two modular cuts over the same whitespace tokenization;
    // DuckDB's inclusive 1-based list slices mirror Spark's slice(), and
    // CONCAT_WS keeps empty segments (skipping only NULLs) on both engines
    "ml27_fim_split" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         b AS (SELECT doc_id, toks, CAST(LEN(toks) AS BIGINT) AS n FROM t),
         hx AS (SELECT doc_id,
                       (STRPOS('0123456789abcdef', SUBSTR(m, 1, 1)) - 1) * 4096
                       + (STRPOS('0123456789abcdef', SUBSTR(m, 2, 1)) - 1) * 256
                       + (STRPOS('0123456789abcdef', SUBSTR(m, 3, 1)) - 1) * 16
                       + (STRPOS('0123456789abcdef', SUBSTR(m, 4, 1)) - 1) AS h1,
                       (STRPOS('0123456789abcdef', SUBSTR(m, 5, 1)) - 1) * 4096
                       + (STRPOS('0123456789abcdef', SUBSTR(m, 6, 1)) - 1) * 256
                       + (STRPOS('0123456789abcdef', SUBSTR(m, 7, 1)) - 1) * 16
                       + (STRPOS('0123456789abcdef', SUBSTR(m, 8, 1)) - 1) AS h2
                FROM (SELECT doc_id, MD5(CAST(doc_id AS VARCHAR)) AS m FROM t)),
         c AS (SELECT b.doc_id, toks, n,
                      CASE WHEN n > 1 THEN hx.h1 % (n - 1) + 1
                           ELSE 0 END AS cut1, hx.h2
               FROM b JOIN hx ON hx.doc_id = b.doc_id),
         c2 AS (SELECT doc_id, toks, n, cut1,
                       cut1 + h2 % (n - cut1 + 1) AS cut2
                FROM c),
         seg AS (SELECT doc_id, n, cut1, cut2,
                        COALESCE(ARRAY_TO_STRING(toks[1:cut1], ' '), '') AS pfx,
                        COALESCE(ARRAY_TO_STRING(toks[cut1 + 1:cut2], ' '), '') AS mid,
                        COALESCE(ARRAY_TO_STRING(toks[cut2 + 1:n], ' '), '') AS sfx
                 FROM c2)
         SELECT doc_id, n AS n_tokens,
                CAST(cut1 AS BIGINT) AS cut1, CAST(cut2 AS BIGINT) AS cut2,
                pfx AS prefix, mid AS middle, sfx AS suffix,
                CONCAT_WS(' ', '<SUF>', sfx, '<PRE>', pfx, '<MID>', mid) AS fim
         FROM seg""",


    // the same match construction, then Hunter's MM iteration UNROLLED 4×:
    // pico-pinned pair denominators, micro-pinned normalizer, 6dp + 1e-6
    // floor per round — each pN is a pure function of pN-1, as the engine
    "ml28_bradley_terry" ->
      """WITH t AS (SELECT doc_id, source,
                CAST(LEN(LIST_DISTINCT(STRING_SPLIT_REGEX(TRIM(text), '\s+'))) AS BIGINT) AS score
             FROM documents WHERE text IS NOT NULL),
         mm AS (SELECT CASE WHEN b.score > a.score THEN b.source ELSE a.source END AS w,
                       CASE WHEN b.score > a.score THEN a.source ELSE b.source END AS l
                FROM t a JOIN t b
                  ON b.doc_id = a.doc_id + 1 AND a.source <> b.source),
         wi AS (SELECT w AS item, CAST(COUNT(*) AS BIGINT) AS wins
                FROM mm GROUP BY 1),
         dirs AS (SELECT w AS i, l AS j FROM mm
                  UNION ALL SELECT l, w FROM mm),
         nij AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n
                 FROM dirs GROUP BY 1, 2),
         nm AS (SELECT i AS item, CAST(SUM(n) AS BIGINT) AS n_matches
                FROM nij GROUP BY 1),
         base AS (SELECT nm.item, CAST(COALESCE(wi.wins, 0) AS BIGINT) AS wins,
                         nm.n_matches
                  FROM nm LEFT JOIN wi USING (item)),
         p0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS p FROM base),
         d1 AS (SELECT nij.i AS item,
                       SUM(CAST(nij.n AS HUGEINT)
                         * CAST(ROUND(1e12 / (pi.p + pj.p), 0) AS HUGEINT)) AS den
                FROM nij JOIN p0 pi ON pi.item = nij.i
                         JOIN p0 pj ON pj.item = nij.j GROUP BY 1),
         q1 AS (SELECT base.item,
                       CAST(ROUND(base.wins * 1e12 / CAST(d1.den AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
                FROM base JOIN d1 USING (item)),
         s1 AS (SELECT CAST(SUM(q) AS BIGINT) AS tot FROM q1),
         p1 AS (SELECT item, GREATEST(ROUND(q / CAST(tot AS DOUBLE), 6), 1e-6) AS p
                FROM q1 CROSS JOIN s1),
         d2 AS (SELECT nij.i AS item,
                       SUM(CAST(nij.n AS HUGEINT)
                         * CAST(ROUND(1e12 / (pi.p + pj.p), 0) AS HUGEINT)) AS den
                FROM nij JOIN p1 pi ON pi.item = nij.i
                         JOIN p1 pj ON pj.item = nij.j GROUP BY 1),
         q2 AS (SELECT base.item,
                       CAST(ROUND(base.wins * 1e12 / CAST(d2.den AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
                FROM base JOIN d2 USING (item)),
         s2 AS (SELECT CAST(SUM(q) AS BIGINT) AS tot FROM q2),
         p2 AS (SELECT item, GREATEST(ROUND(q / CAST(tot AS DOUBLE), 6), 1e-6) AS p
                FROM q2 CROSS JOIN s2),
         d3 AS (SELECT nij.i AS item,
                       SUM(CAST(nij.n AS HUGEINT)
                         * CAST(ROUND(1e12 / (pi.p + pj.p), 0) AS HUGEINT)) AS den
                FROM nij JOIN p2 pi ON pi.item = nij.i
                         JOIN p2 pj ON pj.item = nij.j GROUP BY 1),
         q3 AS (SELECT base.item,
                       CAST(ROUND(base.wins * 1e12 / CAST(d3.den AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
                FROM base JOIN d3 USING (item)),
         s3 AS (SELECT CAST(SUM(q) AS BIGINT) AS tot FROM q3),
         p3 AS (SELECT item, GREATEST(ROUND(q / CAST(tot AS DOUBLE), 6), 1e-6) AS p
                FROM q3 CROSS JOIN s3),
         d4 AS (SELECT nij.i AS item,
                       SUM(CAST(nij.n AS HUGEINT)
                         * CAST(ROUND(1e12 / (pi.p + pj.p), 0) AS HUGEINT)) AS den
                FROM nij JOIN p3 pi ON pi.item = nij.i
                         JOIN p3 pj ON pj.item = nij.j GROUP BY 1),
         q4 AS (SELECT base.item,
                       CAST(ROUND(base.wins * 1e12 / CAST(d4.den AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
                FROM base JOIN d4 USING (item)),
         s4 AS (SELECT CAST(SUM(q) AS BIGINT) AS tot FROM q4),
         p4 AS (SELECT item, GREATEST(ROUND(q / CAST(tot AS DOUBLE), 6), 1e-6) AS p
                FROM q4 CROSS JOIN s4)
         SELECT base.item, base.wins, base.n_matches, p4.p + 0.0 AS strength
         FROM base JOIN p4 USING (item)"""
  )
}
