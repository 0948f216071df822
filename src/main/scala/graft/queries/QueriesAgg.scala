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

/** QueriesAgg registry — the `a`-prefixed SparkEntry queries and their oracle SQL
  * (aggregations, metrics, calibration, statistics). Split from SparkEntry.scala for hygiene; query ids and
  * bodies are unchanged, and SparkEntry merges every family registry
  * back into the single driver-contract maps.
  */
// scalastyle:off
private[graft] object QueriesAgg {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // ---------------- aggregations ----------------
    "a01_group_count" -> ((s, d) =>
      li(s, d).groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))),


    "a02_mean_frequency" -> ((s, d) =>
      SummaryOps.meanFrequency(
        Tables.spread(li(s, d).select("l_orderkey", "l_partkey")),
        "l_orderkey", "l_partkey")),


    "a03_missing_rate" -> ((s, d) =>
      SummaryOps.missingRate(li(s, d), "l_returnflag", col("l_discount") === 0.0)),


    "a04_multi_agg" -> ((s, d) =>
      li(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        max("l_shipdate").as("max_ship"),
        count(lit(1)).as("count_order"))),


    "a05_mode_dominance" -> ((s, d) =>
      CleaningOps.dominantCategoryFilter(li(s, d), "l_partkey", "l_returnflag", 0.5)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag")),


    "a06_percentile_clamp" -> ((s, d) =>
      CleaningOps.percentileClamp(
          li(s, d).select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
          "l_returnflag", "l_extendedprice", 0.02, 0.98)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price_clamped"))),


    "a07_distinct_count" -> ((s, d) =>
      li(s, d).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"))),


    "a08_max_group_size" -> ((s, d) =>
      SummaryOps.maxGroupSize(li(s, d), "l_orderkey")),


    "a09_value_counts" -> ((s, d) =>
      SummaryOps.valueCounts(ev(s, d), "event_type")),


    "a12_confusion_metrics" -> ((s, d) => {
      val nli = li(s, d).groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      val scored = ord(s, d).join(nli, Seq("o_orderkey"), "left")
        .withColumn("truth", when(col("o_totalprice") >= 250000.0, 1).otherwise(0))
        .withColumn("pred", when(coalesce(col("n_items"), lit(0L)) >= 4, 1).otherwise(0))
      MetricsOps.confusionMetrics(scored, col("truth"), col("pred"))
    }),


    "a14_calibration_bins" -> ((s, d) =>
      MetricsOps.calibrationBins(li(s, d),
        col("l_discount") * 10.0, when(col("l_returnflag") === "R", 1).otherwise(0), 10)),


    "a15_auroc" -> ((s, d) =>
      MetricsOps.aurocRankSum(ord(s, d), col("o_totalprice"),
        when(col("o_orderstatus") === "F", 1).otherwise(0), col("o_orderkey"))),


    // exact average precision (PR-curve area, sklearn step form) — the
    // companion scalar to a15; fixed-point term accumulation keeps the
    // ~|distinct scores|-term sum order-insensitive (see MetricsOps scaladoc)
    "a20_auprc" -> ((s, d) =>
      MetricsOps.averagePrecision(ord(s, d), col("o_totalprice"),
        when(col("o_orderstatus") === "F", 1).otherwise(0))),


    // decile gains/lift table on the same (score, label) pair — exact
    // integer deciles via the distributed rank, single-division doubles
    "a22_gains_deciles" -> ((s, d) =>
      MetricsOps.gainsTable(ord(s, d), col("o_totalprice"),
        when(col("o_orderstatus") === "F", 1).otherwise(0), col("o_orderkey"))),


    // OLAP grouping sets: revenue at (flag, status), per-flag subtotal,
    // and grand total in ONE pass — rollup's partial aggregates combine
    // map-side; the reference computes each granularity as a separate scan
    "a18_rollup" -> ((s, d) =>
      li(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"), col("revenue"), col("n"))),


    // Pearson correlation of numeric column pairs, melted tall — the
    // feature-analysis staple; one aggregate pass for all pairs
    "a17_corr_pairs" -> ((s, d) =>
      li(s, d).agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("c_qp"),
          round(corr(col("l_quantity"), col("l_discount")), 6).as("c_qd"),
          round(corr(col("l_extendedprice"), col("l_tax")), 6).as("c_pt"))
        .select(expr(
          "stack(3, 'quantity~extendedprice', c_qp, 'quantity~discount', c_qd, " +
            "'extendedprice~tax', c_pt) as (pair, r)"))),


    "a14b_ece_mce" -> ((s, d) =>
      MetricsOps.calibrationError(li(s, d),
        col("l_discount") * 10.0, when(col("l_returnflag") === "R", 1).otherwise(0), 10)),


    // grid-search temperature scaling over synthetic logits: centered
    // totalprice as the logit, F-status as the label
    "a14c_temp_scaling" -> ((s, d) =>
      MetricsOps.temperatureScale(ord(s, d),
        col("o_totalprice") / 100000.0 - 1.5,
        when(col("o_orderstatus") === "F", 1).otherwise(0),
        Seq(0.5, 0.75, 1.0, 1.25, 1.5, 1.75, 2.0, 2.25, 2.5, 2.75, 3.0))),


    // ---------------- additional aggregations ----------------
    "a10_impute_stats" -> ((s, d) =>
      li(s, d).groupBy("l_returnflag").agg(
        round(avg("l_quantity"), 6).as("mean_qty"),
        round(percentile(col("l_quantity"), lit(0.5)), 6).as("median_qty"))),


    "a11_modality_collapse" -> ((s, d) =>
      li(s, d).groupBy("l_suppkey")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(round(avg("l_quantity"), 6))
        .withColumnRenamed("A", "avg_a")
        .withColumnRenamed("N", "avg_n")
        .withColumnRenamed("R", "avg_r")),


    "a13_grouped_confusion" -> ((s, d) => {
      val nli = li(s, d).groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      val scored = ord(s, d).join(nli, Seq("o_orderkey"), "left")
        .withColumn("truth", when(col("o_totalprice") >= 250000.0, 1).otherwise(0))
        .withColumn("pred", when(coalesce(col("n_items"), lit(0L)) >= 4, 1).otherwise(0))
      MetricsOps.groupedConfusion(scored, "o_orderpriority", col("truth"), col("pred"))
    }),


    // ---------------- multi-attribute fairness melt ----------------
    "a13b_fairness_melt" -> ((s, d) => {
      val nli = li(s, d).groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      val scored = ord(s, d).join(nli, Seq("o_orderkey"), "left")
        .withColumn("truth", when(col("o_totalprice") >= 250000.0, 1).otherwise(0))
        .withColumn("pred", when(coalesce(col("n_items"), lit(0L)) >= 4, 1).otherwise(0))
      MetricsOps.meltedConfusion(scored, Seq("o_orderpriority", "o_orderstatus"),
        col("truth"), col("pred"))
    }),


    // behavioral diversity: Shannon entropy of each user's event-type mix
    "a19_behavior_entropy" -> ((s, d) =>
      SummaryOps.groupEntropy(ev(s, d), "user_id", "event_type")
        .withColumnRenamed("n_rows", "n_events")
        .withColumnRenamed("n_categories", "n_types"))
,


    // per-customer OLS spend trend: five exact integer sums per group (days
    // since epoch × price cents), slope/intercept/R² as single
    // correctly-rounded divisions — a million trend models in one hash agg
    "a23_group_ols" -> ((s, d) =>
      RegressionOps.groupOls(ord(s, d), "o_custkey",
        datediff(col("o_orderdate"), lit("1992-01-01")),
        round(col("o_totalprice") * 100, 0))),


    // revenue concentration: exact Gini over price cents via the two-phase
    // global rank — one scalar answering "how unequal is customer spend?"
    "a24_gini" -> ((s, d) =>
      MetricsOps.giniIndex(ord(s, d),
        round(col("o_totalprice") * 100, 0), col("o_orderkey"))),


    // full ROC curve (fpr, tpr per distinct threshold) behind a15's AUC
    // scalar — same one-pinned-cumsum shape as a20/dq05
    "a21_roc_points" -> ((s, d) =>
      MetricsOps.rocPoints(ord(s, d), col("o_totalprice"),
        when(col("o_orderstatus") === "F", 1).otherwise(0))),

    // Kaplan–Meier survival per market segment — the time-to-event curve
    // over the cohort labels the reference's extraction produces; exact
    // integer at-risk counts, fixed-point log-space product
    "a25_kaplan_meier" -> ((s, d) =>
      SurvivalOps.kaplanMeier(survivalSubjects(s, d), "segment", "dur",
        "ev")),


    // two-sample logrank: BUILDING+AUTOMOBILE vs rest — observed vs
    // expected events under the pooled-hazard null, hypergeometric
    // variance, all sums in fixed point
    "a26_logrank" -> ((s, d) =>
      SurvivalOps.logRank(
        survivalSubjects(s, d).withColumn("g1",
          when(col("segment").isin("BUILDING", "AUTOMOBILE"), 1)
            .otherwise(0)),
        "g1", "dur", "ev")),


    // χ² / Cramér's V / mutual information between order priority and
    // status — the categorical feature-selection screen as one cell-keyed
    // shuffle plus broadcast marginals
    "a27_cat_assoc" -> ((s, d) =>
      AssociationOps.categoricalAssociation(ord(s, d),
        col("o_orderpriority"), col("o_orderstatus"))),


    // exact tie-averaged Spearman ρ: quantity has 50-way ties, so the
    // doubled-average-rank construction is doing real work here
    "a28_spearman" -> ((s, d) =>
      RegressionOps.spearman(li(s, d), col("l_quantity"),
        col("l_extendedprice"))),


    // exact Harrell's C-index with censoring — risk-bucketed Fenwick
    // sweeps + one multi-column time cumsum, never the O(n²) pair join
    // (the subset keeps the oracle's brute-force theta join tractable;
    // the engine path is the scale algorithm regardless)
    "a31_cindex" -> ((s, d) =>
      ConcordanceOps.cIndex(
        ord(s, d).filter(col("o_custkey") < 100),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01"))),
        when(col("o_orderstatus") === "F", 1).otherwise(0),
        col("o_totalprice"))),


    // exact isotonic calibration (hierarchical PAV over 50 distinct
    // quantity scores) — the oracle cross-checks via the minimax identity
    // fitted_i = max_{j<=i} min_{k>=i} mean(y[j..k]) run-grouped to blocks
    "a30_isotonic" -> ((s, d) =>
      IsotonicOps.isotonicFit(li(s, d), col("l_quantity"),
        when(col("l_returnflag") === "R", 1).otherwise(0))),


    // Murphy decomposition of the Brier score over the a14 probability
    // frame — reliability / resolution / uncertainty in one pass, every
    // float term fixed-point summed
    "a29_brier" -> ((s, d) =>
      MetricsOps.brierDecomposition(li(s, d),
        col("l_discount") * 10.0,
        when(col("l_returnflag") === "R", 1).otherwise(0), bins = 10)),


    // exact tie-corrected Mann-Whitney U, purchase vs view values — the
    // nonparametric distribution-shift test; ranks via the
    // exchange-parallel prefix sum, all sufficient statistics integer
    "a32_mannwhitney" -> ((s, d) =>
      RegressionOps.mannWhitney(ev(s, d), col("value"), col("event_type"),
        groupA = "purchase", groupB = "view")),


    // k-group rank test over ALL segments (a32's generalization): exact
    // integer rank sums + tie term, bounded per-group array folded in
    // sorted order for a partitioning-independent double sum
    "a43_kruskal" -> ((s, d) =>
      RegressionOps.kruskalWallis(ev(s, d), col("value"),
        col("event_type"))),


    // per-user monotone-trend test over the daily count series: exact
    // integer S/n/tie-term, within-entity self-join bounded by the
    // calendar span (never the corpus), continuity-corrected z
    "a44_mann_kendall" -> ((s, d) =>
      TimeSeriesOps.mannKendallTrend(
        ev(s, d).groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt")),
        "user_id", col("day"), col("cnt"))),


    // Wald–Wolfowitz runs test per user: do daily activity levels CLUMP
    // around the median (regime-y) or alternate randomly — the
    // randomness companion to the a44/a48 trend family; all sufficient
    // statistics exact integers
    "a52_runs_test" -> ((s, d) =>
      TimeSeriesOps.runsTest(
        ev(s, d).groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt")),
        "user_id", col("day"), col("cnt"))),


    // a44's effect-size companion: Kendall τ-b off the same bounded pair
    // join — exact integer S and tie counts, one √ + one division
    "a48_kendall_tau" -> ((s, d) =>
      TimeSeriesOps.kendallTau(
        ev(s, d).groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt")),
        "user_id", col("day"), col("cnt"))),


    // per-entity exact sign test + Benjamini–Hochberg step-up across the
    // family — the multiple-testing correction for a fleet of per-series
    // monitors. p-values are exact dyadic rationals (Pascal-triangle
    // binomial tails in DECIMAL(38,0), one IEEE division) — bit-portable
    // with no cross-engine transcendentals
    "a45_sign_bh" -> ((s, d) =>
      AssociationOps.signTestBH(
        ev(s, d).groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt")),
        "user_id", col("day"), col("cnt"), q = 0.05)),


    // exact tie-corrected Friedman: blocks = users, treatments = the 7
    // weekdays, value = activity count — "does weekday rank consistently
    // differ per user". Complete blocks only; doubled within-block mean
    // ranks keep every sufficient statistic an exact integer
    "a46_friedman" -> ((s, d) =>
      RegressionOps.friedman(
        ev(s, d).groupBy(col("user_id"),
            dayofweek(col("ts")).cast("long").as("dow"))
          .agg(count(lit(1)).as("cnt")),
        col("user_id"), col("dow"), col("cnt"))),


    // pooled two-proportion z: did even-id users "purchase" at a
    // different rate than odd-id users — four exact integer counts, one
    // mirrored IEEE assembly
    "a47_prop_ztest" -> ((s, d) =>
      AssociationOps.twoProportionZ(ev(s, d),
        col("user_id") % 2 === 0, col("event_type") === "purchase")),


    // a47's magnitude companion: Cohen's d on per-user activity totals
    // between the parity cohorts — six exact DECIMAL(38,0) sufficient
    // statistics, one mirrored close
    "a50_cohens_d" -> ((s, d) =>
      RegressionOps.cohensD(
        ev(s, d).groupBy("user_id").agg(count(lit(1)).as("cnt")),
        col("user_id") % 2 === 0, col("cnt"))),


    // Welch's unequal-variance t-test, purchase vs view values — the
    // parametric companion of a32; every moment an exact integer-cent
    // sum, the t/df assembly double-only and oracle-mirrored
    "a40_welch_ttest" -> ((s, d) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val cents = round(col("value") * 100, 0).cast("long")
      val agg = ev(s, d)
        .filter(col("value").isNotNull &&
          col("event_type").isin("purchase", "view"))
        .withColumn("__a", when(col("event_type") === "purchase", 1L).otherwise(0L))
        .agg(
          sum(col("__a")).as("n1"),
          sum(lit(1L) - col("__a")).as("n2"),
          sum(dec(cents) * col("__a")).as("__s1"),
          sum(dec(cents) * cents * col("__a")).as("__q1"),
          sum(dec(cents) * (lit(1L) - col("__a"))).as("__s2"),
          sum(dec(cents) * cents * (lit(1L) - col("__a"))).as("__q2"))
      val v1 = (col("n1") * col("__q1") - col("__s1") * col("__s1")).cast("double") /
        (col("n1").cast("double") * col("n1") * (col("n1") - 1))
      val v2 = (col("n2") * col("__q2") - col("__s2") * col("__s2")).cast("double") /
        (col("n2").cast("double") * col("n2") * (col("n2") - 1))
      val md = col("__s1").cast("double") / col("n1") -
        col("__s2").cast("double") / col("n2")
      val se2 = v1 + v2
      agg.select(col("n1"), col("n2"),
        round(col("__s1").cast("double") / col("n1") / 100.0, 6).as("mean1"),
        round(col("__s2").cast("double") / col("n2") / 100.0, 6).as("mean2"),
        round(md / sqrt(se2), 6).as("t"),
        round(se2 * se2 / (v1 * v1 / (col("n1") - 1) + v2 * v2 / (col("n2") - 1)),
          6).as("df"))
    }),


    // Cronbach's alpha over the three binary order labelers — internal-
    // consistency reliability (the psychometrics face of the a34/a38
    // family); item and total variances from exact integer sums
    "a39_cronbach_alpha" -> ((s, d) => {
      val items = ord(s, d).select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("__i1"),
        when(col("o_totalprice") > 150000, 1L).otherwise(0L).as("__i2"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("__i3"))
        .withColumn("__t", col("__i1") + col("__i2") + col("__i3"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val agg = items.agg(
        count(lit(1)).as("n"),
        sum(dec(col("__i1"))).as("__s1"), sum(dec(col("__i1")) * col("__i1")).as("__q1"),
        sum(dec(col("__i2"))).as("__s2"), sum(dec(col("__i2")) * col("__i2")).as("__q2"),
        sum(dec(col("__i3"))).as("__s3"), sum(dec(col("__i3")) * col("__i3")).as("__q3"),
        sum(dec(col("__t"))).as("__st"), sum(dec(col("__t")) * col("__t")).as("__qt"))
      def v(q: Column, sc: Column) =
        (col("n") * q - sc * sc).cast("double")
      agg.select(col("n"),
        round(lit(1.5) * (lit(1.0) -
          (v(col("__q1"), col("__s1")) + v(col("__q2"), col("__s2")) +
            v(col("__q3"), col("__s3"))) / v(col("__qt"), col("__st"))), 6)
          .as("alpha"))
    }),


    // three-rater Fleiss kappa over the cheap order labelers (priority /
    // price / status votes melted to the long frame) — a34's multi-rater
    // generalization, exact integer algebra
    "a38_fleiss_kappa" -> ((s, d) =>
      AssociationOps.fleissKappa(
        ord(s, d).select(col("o_orderkey"),
          expr("stack(3, " +
            "case when o_orderpriority in ('1-URGENT','2-HIGH') " +
            "then 'high' else 'low' end, " +
            "case when o_totalprice > 150000 then 'high' else 'low' end, " +
            "case when o_orderstatus = 'F' then 'high' else 'low' end" +
            ") as vote")),
        col("o_orderkey"), col("vote"), raters = 3)),


    // paired before/after shift test: Wilcoxon signed-rank over the
    // line-1 vs line-2 price difference within each order (cents-exact
    // ranks, zero diffs dropped per convention)
    "a37_wilcoxon" -> ((s, d) => {
      val pairs = li(s, d).groupBy(col("l_orderkey")).agg(
        max(when(col("l_linenumber") === 1,
          round(col("l_extendedprice") * 100, 0).cast("long"))).as("__p1"),
        max(when(col("l_linenumber") === 2,
          round(col("l_extendedprice") * 100, 0).cast("long"))).as("__p2"))
        .filter(col("__p1").isNotNull && col("__p2").isNotNull)
      RegressionOps.wilcoxonSignedRank(pairs, col("__p1") - col("__p2"))
    }),


    // frequency-weighted exact median per group: Spark's percentile with
    // an integral frequency column — no row expansion; the oracle
    // expands copies and medians, proving the weighted form
    "a36_weighted_median" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag"))
        .agg(round(percentile(col("l_extendedprice"), lit(0.5),
          col("l_linenumber")), 6).as("w_median"))),


    // McNemar's paired χ²: do the two cheap labelers DIFFER on the same
    // orders (a35 is a34's hypothesis-test companion) — discordant
    // counts + continuity-corrected statistic, one aggregate
    "a35_mcnemar" -> ((s, d) =>
      MetricsOps.mcnemar(ord(s, d),
        col("o_orderstatus") === "F",
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        col("o_totalprice") > 150000)),


    // a15's AUROC with its DeLong standard error and 95% CI — integer
    // placement-value moments from ONE pinned cumsum over the
    // distinct-score frame
    "a33_auroc_delong" -> ((s, d) =>
      MetricsOps.aurocDeLong(ord(s, d), col("o_totalprice"),
        when(col("o_orderstatus") === "F", 1).otherwise(0))),


    // chance-corrected agreement between two cheap labelers (priority-
    // derived vs price-derived "high/low") — exact integer kappa algebra
    "a34_cohens_kappa" -> ((s, d) =>
      AssociationOps.cohensKappa(ord(s, d),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
          .otherwise("low"),
        when(col("o_totalprice") > 150000, "high").otherwise("low"))),


    // Cochran-Armitage trend: does the F-status rate rise with the order
    // priority level? Five row-level integer sums, one aggregate, no
    // per-group frame — the order-aware sibling of the a27 chi-square
    "a42_trend_test" -> ((s, d) =>
      AssociationOps.cochranArmitage(ord(s, d),
        substring(col("o_orderpriority"), 1, 1).cast("long") - 1,
        when(col("o_orderstatus") === "F", 1L).otherwise(0L))),


    // deterministic Poisson-bootstrap 95% CI for the mean purchase value —
    // error bars for corpus-scale metrics without rand(): LCG weights on
    // (event_id, replica), exact integer replica sums, type-7 percentile
    "a41_bootstrap_ci" -> ((s, d) =>
      MetricsOps.bootstrapMeanCi(
        ev(s, d).filter(col("event_type") === "purchase" &&
          col("value").isNotNull),
        col("event_id"), round(col("value") * 100, 0).cast("long"))),


    // Jarque–Bera normality screen of account balances per nation —
    // exact DECIMAL(38,0) power sums, one closing double sequence
    "a49_jarque_bera" -> ((s, d) =>
      AssociationOps.jarqueBera(cust(s, d), col("c_nationkey"),
        round(col("c_acctbal") * 100, 0))
        .withColumnRenamed("grp", "c_nationkey")),


    // Brown–Forsythe variance-homogeneity test of balances across
    // nations — exact type-7 medians, integer |2x − 2·med| deviations,
    // fixed-point-pinned ANOVA sums
    "a51_brown_forsythe" -> ((s, d) =>
      AssociationOps.brownForsythe(cust(s, d), col("c_nationkey"),
        round(col("c_acctbal") * 100, 0))),


    // Hosmer–Lemeshow calibration χ² over the a14 prob/label pair —
    // fixed-width bins, exact integer-micro expected counts, per-bin
    // terms nano-pinned before the ≤10-way sum
    "a53_hosmer_lemeshow" -> ((s, d) =>
      MetricsOps.hosmerLemeshow(li(s, d), col("l_discount") * 10.0,
        when(col("l_returnflag") === "R", 1).otherwise(0), bins = 10)),


    // 2×2 effect sizes with Wald CIs: does a deep discount raise the
    // return rate? — odds/risk ratios from four exact integer cells
    "a54_odds_ratio" -> ((s, d) =>
      AssociationOps.twoByTwoEffects(li(s, d),
        (col("l_discount") > 0.05).cast("int"),
        (col("l_returnflag") === "R").cast("int"))),


    // split-conformal calibration on the event values: exact-order-
    // statistic threshold from the even-id calibration slice, empirical
    // coverage on the odd-id slice (α = 0.1)
    "a55_conformal" -> ((s, d) =>
      MetricsOps.splitConformal(ev(s, d), col("value"), col("event_id"),
        col("event_id") % 2 === 0, alpha = 0.1)),


    // Mondrian (per-event-type) conformal: group-local order statistics —
    // the slice-conditional coverage guarantee, no global sort anywhere
    "a56_group_conformal" -> ((s, d) =>
      MetricsOps.groupConformal(ev(s, d), "event_type", col("value"),
        col("event_id"), col("event_id") % 2 === 0, alpha = 0.1))
  )

  def oracles: Map[String, String] = Map(

    "a42_trend_test" ->
      """WITH s AS (SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) - 1
                      AS w,
                           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                             AS y
                    FROM orders),
         t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(y) AS BIGINT) AS r,
                      SUM(CAST(w * y AS HUGEINT)) AS a,
                      SUM(CAST(w AS HUGEINT)) AS b,
                      SUM(CAST(w * w AS HUGEINT)) AS c
               FROM s)
         SELECT n, r,
                CASE WHEN r > 0 AND r < n AND n * c - b * b > 0 THEN
                  ROUND(CAST(n * a - b * r AS DOUBLE)
                        * SQRT(CAST(n AS DOUBLE))
                        / SQRT(CAST(r * (n - r) * (n * c - b * b)
                                 AS DOUBLE)), 6)
                END + 0.0 AS z
         FROM t""",


    // same LCG / Poisson ladder / exact integer replica sums as
    // bootstrapMeanCi — u can never equal a threshold (k/(2³¹−1) is never
    // a terminating decimal), so the CASE ladder is engine-exact
    "a41_bootstrap_ci" ->
      """WITH r AS (SELECT ((event_id % 2147483647) + 2147483647)
                             % 2147483647 AS idm,
                           CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
                           t.range AS b
                    FROM events CROSS JOIN range(1, 201) t
                    WHERE event_type = 'purchase' AND value IS NOT NULL),
         w AS (SELECT b, cents,
                      CASE WHEN u < 0.367879441 THEN 0
                           WHEN u < 0.735758882 THEN 1
                           WHEN u < 0.919698603 THEN 2
                           WHEN u < 0.981011843 THEN 3
                           WHEN u < 0.996340153 THEN 4
                           ELSE 5 END AS w
               FROM (SELECT b, cents,
                            ((((idm * 1103515245 + 12345) % 2147483647 + b)
                              * 1103515245 + 12345)
                             % 2147483647) / 2147483647.0 AS u
                     FROM r)),
         m AS (SELECT b, SUM(CAST(w * cents AS HUGEINT)) AS s,
                      CAST(SUM(w) AS BIGINT) AS n
               FROM w GROUP BY b),
         mm AS (SELECT CAST(s AS DOUBLE) / n / 100.0 AS mean_b
                FROM m WHERE n > 0)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
                ROUND(QUANTILE_CONT(mean_b, 0.025), 6) + 0.0 AS ci_lo,
                ROUND(QUANTILE_CONT(mean_b, 0.975), 6) + 0.0 AS ci_hi
         FROM mm""",


    "a19_behavior_entropy" ->
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS c
                    FROM events GROUP BY 1, 2)
         SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
                CAST(COUNT(*) AS BIGINT) AS n_types,
                ROUND(LN(SUM(c))
                      - CAST(SUM(CAST(c AS HUGEINT)
                                 * CAST(ROUND(LN(c) * 1e12, 0) AS BIGINT))
                          AS DOUBLE) / 1e12 / SUM(c), 6) + 0.0 AS entropy
         FROM c GROUP BY user_id""",


    "a01_group_count" ->
      "SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem GROUP BY l_suppkey",


    "a02_mean_frequency" ->
      """SELECT l_partkey, ROUND(AVG(c), 6) + 0.0 AS mean_frequency FROM (
           SELECT l_orderkey, l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1, 2)
         GROUP BY l_partkey""",


    "a03_missing_rate" ->
      """SELECT l_returnflag,
                CAST(SUM(CASE WHEN l_discount = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS missing_count,
                CAST(COUNT(*) AS BIGINT) AS total_count,
                ROUND(SUM(CASE WHEN l_discount = 0.0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0.0
                  AS missing_rate
         FROM lineitem GROUP BY l_returnflag""",


    "a04_multi_agg" ->
      """SELECT l_returnflag, l_linestatus,
                ROUND(SUM(l_quantity), 2) + 0.0 AS sum_qty,
                ROUND(SUM(l_extendedprice), 2) + 0.0 AS sum_base_price,
                ROUND(AVG(l_quantity), 6) + 0.0 AS avg_qty,
                MAX(l_shipdate) AS max_ship,
                CAST(COUNT(*) AS BIGINT) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",


    "a05_mode_dominance" ->
      """WITH counts AS (
           SELECT l_partkey, l_returnflag, COUNT(*) AS c FROM lineitem GROUP BY 1, 2),
         stats AS (
           SELECT l_partkey, l_returnflag AS mode_flag,
                  c * 1.0 / SUM(c) OVER (PARTITION BY l_partkey) AS share,
                  COUNT(*) OVER (PARTITION BY l_partkey) AS ndist,
                  ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY c DESC, l_returnflag ASC) AS rn
           FROM counts)
         SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_returnflag
         FROM lineitem l JOIN (SELECT * FROM stats WHERE rn = 1) s ON l.l_partkey = s.l_partkey
         WHERE NOT (s.ndist > 1 AND s.share > 0.5 AND l.l_returnflag <> s.mode_flag)""",


    "a06_percentile_clamp" ->
      """WITH bounds AS (
           SELECT l_returnflag, QUANTILE_CONT(l_extendedprice, 0.02) AS lo,
                  QUANTILE_CONT(l_extendedprice, 0.98) AS hi
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_orderkey, l_linenumber,
                ROUND(LEAST(GREATEST(l_extendedprice, lo), hi), 2) + 0.0 AS price_clamped
         FROM lineitem JOIN bounds USING (l_returnflag)""",


    "a07_distinct_count" ->
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
         FROM lineitem GROUP BY l_returnflag""",


    "a08_max_group_size" ->
      """SELECT CAST(MAX(c) AS BIGINT) AS max_group_size FROM (
           SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey)""",


    "a09_value_counts" ->
      "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY event_type",


    "a12_confusion_metrics" ->
      """WITH scored AS (
           SELECT CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END AS truth,
                  CASE WHEN COALESCE(n_items, 0) >= 4 THEN 1 ELSE 0 END AS pred
           FROM orders LEFT JOIN (
             SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_items FROM lineitem GROUP BY 1)
           USING (o_orderkey))
         SELECT CAST(SUM(CASE WHEN truth = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(SUM(CASE WHEN truth = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(SUM(CASE WHEN truth = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                CAST(SUM(CASE WHEN truth = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                ROUND((SUM(CASE WHEN truth = pred THEN 1 ELSE 0 END)) * 1.0 / COUNT(*), 6) + 0.0 AS accuracy,
                ROUND(SUM(CASE WHEN truth = 1 AND pred = 1 THEN 1 ELSE 0 END) * 1.0
                      / SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END), 6) + 0.0 AS precision_,
                ROUND(SUM(CASE WHEN truth = 1 AND pred = 1 THEN 1 ELSE 0 END) * 1.0
                      / SUM(CASE WHEN truth = 1 THEN 1 ELSE 0 END), 6) + 0.0 AS recall_
         FROM scored""",


    "a14_calibration_bins" ->
      """SELECT CAST(LEAST(FLOOR(l_discount * 10.0 * 10), 9) AS BIGINT) AS bin,
                ROUND(AVG(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS bin_accuracy,
                ROUND(AVG(l_discount * 10.0), 6) + 0.0 AS bin_confidence,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1""",


    "a15_auroc" ->
      """WITH r AS (
           SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS lab,
                  ROW_NUMBER() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
           FROM orders)
         SELECT ROUND((SUM(CASE WHEN lab = 1 THEN rn ELSE 0 END) - SUM(lab) * (SUM(lab) + 1) / 2)
                * 1.0 / (SUM(lab) * (COUNT(*) - SUM(lab))), 6) + 0.0 AS auc
         FROM r""",


    // same fixed-point accumulation as the Spark side: each threshold term
    // is an exact correctly-rounded double, rounded to integer nanos and
    // summed as BIGINT, so engine/partition summation order cannot move the
    // 6-decimal result
    "a20_auprc" ->
      """WITH g AS (
           SELECT o_totalprice AS s,
                  SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS np,
                  COUNT(*) AS nt
           FROM orders GROUP BY 1),
         c AS (
           SELECT np,
                  SUM(np) OVER (ORDER BY s DESC) AS tp,
                  SUM(nt) OVER (ORDER BY s DESC) AS al
           FROM g)
         SELECT ROUND(SUM(CAST(ROUND(np * tp * 1.0 / al * 1e9, 0) AS BIGINT)) / 1e9
                      / (SELECT SUM(np) FROM g), 6) + 0.0 AS auprc
         FROM c""",


    "a22_gains_deciles" ->
      """WITH r AS (
           SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
                  ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders),
         t AS (SELECT COUNT(*) AS n, SUM(y) AS p FROM r),
         d AS (SELECT CAST(((rn - 1) * 10) // n AS INTEGER) AS decile, y
               FROM r CROSS JOIN t)
         SELECT decile, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
                ROUND(SUM(y) * 1.0 / COUNT(*), 6) + 0.0 AS pos_rate,
                ROUND((SUM(y) * 1.0 / COUNT(*))
                      / ((SELECT p FROM t) * 1.0 / (SELECT n FROM t)), 6) + 0.0 AS lift
         FROM d GROUP BY 1""",


    "a18_rollup" ->
      """SELECT l_returnflag, l_linestatus,
                ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) + 0.0 AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)""",


    "a17_corr_pairs" ->
      """WITH c AS (SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) + 0.0 AS c_qp,
                           ROUND(CORR(l_quantity, l_discount), 6) + 0.0 AS c_qd,
                           ROUND(CORR(l_extendedprice, l_tax), 6) + 0.0 AS c_pt
                    FROM lineitem)
         SELECT 'quantity~extendedprice' AS pair, c_qp AS r FROM c
         UNION ALL SELECT 'quantity~discount', c_qd FROM c
         UNION ALL SELECT 'extendedprice~tax', c_pt FROM c""",


    "a14b_ece_mce" ->
      """WITH bins AS (
           SELECT CAST(LEAST(FLOOR(l_discount * 10.0 * 10), 9) AS BIGINT) AS bin,
                  ROUND(AVG(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 6) + 0.0
                    AS bin_accuracy,
                  ROUND(AVG(l_discount * 10.0), 6) + 0.0 AS bin_confidence,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM lineitem GROUP BY 1)
         SELECT ROUND(SUM(n * ABS(bin_accuracy - bin_confidence)) / SUM(n), 6) + 0.0 AS ece,
                ROUND(MAX(ABS(bin_accuracy - bin_confidence)), 6) + 0.0 AS mce
         FROM bins""",


    "a14c_temp_scaling" ->
      """WITH pts AS (
           SELECT o_totalprice / 100000.0 - 1.5 AS z,
                  CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
           FROM orders),
         grid AS (
           SELECT CAST(UNNEST([0.5, 0.75, 1.0, 1.25, 1.5, 1.75,
                               2.0, 2.25, 2.5, 2.75, 3.0]) AS DOUBLE) AS t),
         losses AS (
           SELECT t,
                  ROUND(AVG(GREATEST(z / t, 0) - (z / t) * y + LN(1 + EXP(-ABS(z / t)))), 6) + 0.0 AS bce
           FROM pts CROSS JOIN grid GROUP BY t)
         SELECT t AS best_t, bce
         FROM losses ORDER BY bce, t LIMIT 1""",


    "a10_impute_stats" ->
      """SELECT l_returnflag, ROUND(AVG(l_quantity), 6) + 0.0 AS mean_qty,
                ROUND(QUANTILE_CONT(l_quantity, 0.5), 6) + 0.0 AS median_qty
         FROM lineitem GROUP BY l_returnflag""",


    "a11_modality_collapse" ->
      """SELECT l_suppkey,
                ROUND(AVG(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 6) + 0.0 AS avg_a,
                ROUND(AVG(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 6) + 0.0 AS avg_n,
                ROUND(AVG(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 6) + 0.0 AS avg_r
         FROM lineitem GROUP BY l_suppkey""",


    "a13_grouped_confusion" ->
      """WITH scored AS (
           SELECT o_orderpriority,
                  CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END AS truth,
                  CASE WHEN COALESCE(n_items, 0) >= 4 THEN 1 ELSE 0 END AS pred
           FROM orders LEFT JOIN (
             SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_items FROM lineitem GROUP BY 1)
           USING (o_orderkey)),
         cells AS (
           SELECT o_orderpriority,
                  CAST(SUM(CASE WHEN truth = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(SUM(CASE WHEN truth = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                  CAST(SUM(CASE WHEN truth = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                  CAST(SUM(CASE WHEN truth = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
           FROM scored GROUP BY o_orderpriority)
         SELECT o_orderpriority, tp, fp, tn, fn,
                ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) + 0.0 AS tpr,
                ROUND(CAST(tn AS DOUBLE) / NULLIF(tn + fp, 0), 6) + 0.0 AS tnr,
                ROUND(CAST(fp AS DOUBLE) / NULLIF(fp + tn, 0), 6) + 0.0 AS fpr,
                ROUND(CAST(fn AS DOUBLE) / NULLIF(fn + tp, 0), 6) + 0.0 AS fnr,
                ROUND(CAST(tp + fp AS DOUBLE) / NULLIF(tp + fp + tn + fn, 0), 6) + 0.0 AS pr,
                ROUND(CAST(tn + fn AS DOUBLE) / NULLIF(tp + fp + tn + fn, 0), 6) + 0.0 AS nr,
                ROUND(CAST(tp + tn AS DOUBLE) / NULLIF(tp + fp + tn + fn, 0), 6) + 0.0 AS accuracy
         FROM cells""",


    "a13b_fairness_melt" ->
      """WITH scored AS (
           SELECT o_orderpriority, o_orderstatus,
                  CASE WHEN o_totalprice >= 250000.0 THEN 1 ELSE 0 END AS truth,
                  CASE WHEN COALESCE(n_items, 0) >= 4 THEN 1 ELSE 0 END AS pred
           FROM orders LEFT JOIN (
             SELECT l_orderkey AS o_orderkey, COUNT(*) AS n_items FROM lineitem GROUP BY 1)
           USING (o_orderkey)),
         melted AS (
           SELECT 'o_orderpriority' AS attribute, o_orderpriority AS grp, truth, pred FROM scored
           UNION ALL
           SELECT 'o_orderstatus', o_orderstatus, truth, pred FROM scored),
         cells AS (
           SELECT attribute, grp,
                  CAST(SUM(CASE WHEN truth = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(SUM(CASE WHEN truth = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                  CAST(SUM(CASE WHEN truth = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
                  CAST(SUM(CASE WHEN truth = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
           FROM melted GROUP BY attribute, grp)
         SELECT attribute, grp, tp, fp, tn, fn,
                ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) + 0.0 AS tpr,
                ROUND(CAST(tn AS DOUBLE) / NULLIF(tn + fp, 0), 6) + 0.0 AS tnr,
                ROUND(CAST(fp AS DOUBLE) / NULLIF(fp + tn, 0), 6) + 0.0 AS fpr,
                ROUND(CAST(fn AS DOUBLE) / NULLIF(fn + tp, 0), 6) + 0.0 AS fnr,
                ROUND(CAST(tp + fp AS DOUBLE) / NULLIF(tp + fp + tn + fn, 0), 6) + 0.0 AS pr,
                ROUND(CAST(tn + fn AS DOUBLE) / NULLIF(tp + fp + tn + fn, 0), 6) + 0.0 AS nr,
                ROUND(CAST(tp + tn AS DOUBLE) / NULLIF(tp + fp + tn + fn, 0), 6) + 0.0 AS accuracy
         FROM cells""",


    // mirrors RegressionOps.groupOls EXPRESSION SHAPE: integer sufficient
    // statistics (exact — x is day counts, y price cents), then the same
    // double-op sequence (n promoted once, num/den/deny formed identically)
    // so both engines execute bit-identical IEEE arithmetic
    "a23_group_ols" ->
      """WITH b AS (
           SELECT o_custkey,
                  CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS x,
                  CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y
           FROM orders),
         g AS (
           SELECT o_custkey, COUNT(*) AS n,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
           FROM b GROUP BY 1),
         g2 AS (
           SELECT o_custkey, n, sx, sy,
                  CAST(n AS DOUBLE) * sxy - sx * sy AS num,
                  CAST(n AS DOUBLE) * sxx - sx * sx AS den,
                  CAST(n AS DOUBLE) * syy - sy * sy AS deny
           FROM g)
         SELECT o_custkey, CAST(n AS BIGINT) AS n,
                ROUND(num / den, 6) + 0.0 AS slope,
                ROUND((sy - (num / den) * sx) / CAST(n AS DOUBLE), 6) + 0.0 AS intercept,
                ROUND(CASE WHEN deny <> 0 THEN num * num / (den * deny) END, 6) + 0.0 AS r2
         FROM g2 WHERE n >= 2 AND den <> 0""",


    // exact rank-formula Gini over integer cents: both Σx and Σ r·x are
    // exact integer sums, the closing arithmetic replays Spark's double
    // sequence verbatim
    "a24_gini" ->
      """WITH v AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS x,
                           o_orderkey
                    FROM orders),
         r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS rn
               FROM v),
         g AS (SELECT COUNT(*) AS n, SUM(x) AS s, SUM(rn * x) AS si FROM r)
         SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS total,
                ROUND(2.0 * si / (CAST(n AS DOUBLE) * s)
                      - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) + 0.0 AS gini
         FROM g""",


    // cumulative TP / totals over distinct thresholds descending (no ties
    // inside the window — grouped support), then correctly-rounded
    // long/long divisions against the 1-row (P, N) totals
    "a21_roc_points" ->
      """WITH g AS (
           SELECT o_totalprice AS threshold,
                  SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS np,
                  COUNT(*) AS nt
           FROM orders GROUP BY 1),
         c AS (SELECT threshold, np, nt,
                      SUM(np) OVER (ORDER BY threshold DESC) AS tp,
                      SUM(nt) OVER (ORDER BY threshold DESC) AS al
               FROM g),
         t AS (SELECT CAST(SUM(np) AS BIGINT) AS p,
                      CAST(SUM(nt) AS BIGINT) AS n FROM g)
         SELECT threshold,
                ROUND(CAST(tp AS DOUBLE) / p, 6) + 0.0 AS tpr,
                ROUND(CAST(al - tp AS DOUBLE) / (n - p), 6) + 0.0 AS fpr
         FROM c CROSS JOIN t""",


    // same fixed-point log-space KM product: exact integer at-risk
    // counts, ln(1 − d/n) pinned to integer picos, risk-set-exhausting
    // time points forced to exactly 0 instead of touching ln(0)
    "a25_kaplan_meier" ->
      """WITH subj AS (
           SELECT c_mktsegment AS segment,
                  CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                    AS BIGINT) AS dur,
                  MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY o_custkey, c_mktsegment),
         p AS (SELECT segment, dur AS t,
                      CAST(SUM(ev) AS BIGINT) AS d,
                      CAST(SUM(1 - ev) AS BIGINT) AS c,
                      CAST(COUNT(*) AS BIGINT) AS m
               FROM subj GROUP BY 1, 2),
         r AS (SELECT segment, t, d, c,
                      SUM(m) OVER (PARTITION BY segment)
                        - (SUM(m) OVER (PARTITION BY segment ORDER BY t
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - m) AS n_risk
               FROM p),
         l AS (SELECT *,
                      CASE WHEN d = 0 THEN 0
                           WHEN d < n_risk THEN CAST(ROUND(
                             LN(1 - CAST(d AS DOUBLE) / n_risk) * 1e12, 0)
                             AS BIGINT) END AS lfp,
                      MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                        OVER (PARTITION BY segment ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS dead
               FROM r)
         SELECT segment, t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
                CASE WHEN dead = 1 THEN 0.0
                     ELSE ROUND(EXP(SUM(lfp) OVER (PARTITION BY segment
                            ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) / 1e12), 6) END AS surv
         FROM l""",


    // same hypergeometric logrank terms in integer picos; the o1−e1 sum
    // and the variance sum are exact BIGINT before the single division
    "a26_logrank" ->
      """WITH subj AS (
           SELECT CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
                       THEN 1 ELSE 0 END AS g1,
                  CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate))
                    AS BIGINT) AS dur,
                  MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS ev
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY o_custkey, c_mktsegment),
         p AS (SELECT dur AS t,
                      CAST(SUM(ev) AS BIGINT) AS d,
                      CAST(SUM(ev * g1) AS BIGINT) AS d1,
                      CAST(COUNT(*) AS BIGINT) AS m,
                      CAST(SUM(g1) AS BIGINT) AS m1
               FROM subj GROUP BY 1),
         r AS (SELECT *,
                      (SELECT SUM(m) FROM p)
                        - (SUM(m) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) - m) AS n,
                      (SELECT SUM(m1) FROM p)
                        - (SUM(m1) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) - m1) AS n1
               FROM p),
         f AS (SELECT d, d1, n, n1,
                      CAST(ROUND(d * n1 / CAST(n AS DOUBLE) * 1e12, 0)
                        AS BIGINT) AS e1fp,
                      CAST(ROUND(d * (n1 / CAST(n AS DOUBLE))
                             * (1 - n1 / CAST(n AS DOUBLE))
                             * (n - d) / (n - 1) * 1e12, 0)
                        AS BIGINT) AS vfp
               FROM r WHERE d > 0 AND n > 1)
         SELECT CAST(SUM(d1) AS BIGINT) AS o1,
                ROUND(SUM(e1fp) / 1e12, 6) + 0.0 AS e1,
                ROUND(POWER(SUM(d1 * 1000000000000 - e1fp) / 1e12, 2)
                      / (SUM(vfp) / 1e12), 6) + 0.0 AS chi2
         FROM f""",


    // same per-cell fixed-point χ²/MI terms over the DENSIFIED r×c grid
    // (never-co-occurring combos still contribute (0−e)²/e to χ²; their
    // MI limit 0·ln0 = 0 is pinned explicitly)
    "a27_cat_assoc" ->
      """WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
                               CAST(COUNT(*) AS BIGINT) AS nab
                        FROM orders GROUP BY 1, 2),
         rt AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS na FROM cells GROUP BY 1),
         ct AS (SELECT b, CAST(SUM(nab) AS BIGINT) AS nb FROM cells GROUP BY 1),
         g AS (SELECT CAST(SUM(nab) AS BIGINT) AS N,
                      CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
                      CAST(COUNT(DISTINCT b) AS BIGINT) AS c
               FROM cells),
         f AS (SELECT COALESCE(nab, 0) AS nab, na, nb, N, r, c,
                      na * nb / CAST(N AS DOUBLE) AS e
               FROM rt CROSS JOIN ct
               LEFT JOIN cells USING (a, b) CROSS JOIN g),
         t AS (SELECT N, r, c,
                      CAST(ROUND((nab - e) * (nab - e) / e * 1e9, 0)
                        AS BIGINT) AS chifp,
                      CASE WHEN nab = 0 THEN 0
                           ELSE CAST(ROUND(nab / CAST(N AS DOUBLE)
                             * LN(nab * N / (CAST(na AS DOUBLE) * nb))
                             * 1e12, 0) AS BIGINT) END AS mifp
               FROM f)
         SELECT N AS n, r, c,
                ROUND(SUM(chifp) / 1e9, 6) + 0.0 AS chi2,
                ROUND(CASE WHEN LEAST(r, c) > 1
                           THEN SQRT(SUM(chifp) / 1e9 / (N * (LEAST(r, c) - 1)))
                           ELSE 0.0 END, 6) + 0.0 AS cramers_v,
                ROUND(SUM(mifp) / 1e12, 6) + 0.0 AS mutual_info
         FROM t GROUP BY 1, 2, 3""",


    // same doubled-average-rank Spearman: HUGEINT carries what Spark's
    // DECIMAL(38,0) does; the closing Pearson assembly casts each exact
    // integer to double in the same places
    "a28_spearman" ->
      """WITH r0 AS (SELECT l_quantity AS x, l_extendedprice AS y
                     FROM lineitem
                     WHERE l_quantity IS NOT NULL
                       AND l_extendedprice IS NOT NULL),
         rx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM r0 GROUP BY 1),
         rx2 AS (SELECT x,
                        2 * SUM(cnt) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) - (cnt - 1) AS rxv
                 FROM rx),
         ry AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM r0 GROUP BY 1),
         ry2 AS (SELECT y,
                        2 * SUM(cnt) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) - (cnt - 1) AS ryv
                 FROM ry),
         j AS (SELECT rxv, ryv FROM r0 JOIN rx2 USING (x) JOIN ry2 USING (y)),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      SUM(CAST(rxv AS HUGEINT)) AS sx,
                      SUM(CAST(ryv AS HUGEINT)) AS sy,
                      SUM(CAST(rxv AS HUGEINT) * rxv) AS sxx,
                      SUM(CAST(ryv AS HUGEINT) * ryv) AS syy,
                      SUM(CAST(rxv AS HUGEINT) * ryv) AS sxy
               FROM j)
         SELECT n,
                ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE)), 6) + 0.0 AS rho
         FROM s""",


    "a31_cindex" ->
      """WITH s AS (SELECT CAST(DATE_DIFF('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS t,
                           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS e,
                           o_totalprice AS r
                    FROM orders WHERE o_custkey < 100),
         p AS (SELECT a.r AS ra, b.r AS rb
               FROM s a JOIN s b ON a.t < b.t AND a.e = 1)
         SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS permissible,
                CAST(SUM(CASE WHEN ra > rb THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
                CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS tied_risk,
                ROUND((SUM(CASE WHEN ra > rb THEN 1 ELSE 0 END) +
                       0.5 * SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END))
                      / COUNT(*), 6) + 0.0 AS c_index
         FROM p""",


    "a30_isotonic" ->
      """WITH pts AS (SELECT CAST(l_quantity AS DOUBLE) AS s,
                             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
                      FROM lineitem),
         agg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(y) AS BIGINT) AS sy
                 FROM pts GROUP BY 1),
         ord AS (SELECT s, n, sy, ROW_NUMBER() OVER (ORDER BY s) AS rn,
                        SUM(n) OVER (ORDER BY s) AS cn,
                        SUM(sy) OVER (ORDER BY s) AS cy
                 FROM agg),
         pairavg AS (SELECT j.rn AS j, k.rn AS k,
                            CAST(k.cy - COALESCE(jm.cy, 0) AS DOUBLE)
                              / CAST(k.cn - COALESCE(jm.cn, 0) AS DOUBLE) AS m
                     FROM ord j
                     JOIN ord k ON k.rn >= j.rn
                     LEFT JOIN ord jm ON jm.rn = j.rn - 1),
         cand AS (SELECT jr.rn AS j, ir.rn AS i, MIN(p.m) AS minm
                  FROM ord ir
                  JOIN ord jr ON jr.rn <= ir.rn
                  JOIN pairavg p ON p.j = jr.rn AND p.k >= ir.rn
                  GROUP BY 1, 2),
         fit AS (SELECT i AS rn, MAX(minm) AS fitted FROM cand GROUP BY 1),
         runs AS (SELECT o.s, o.n, o.sy, f.fitted, o.rn,
                         CASE WHEN f.fitted IS DISTINCT FROM
                           LAG(f.fitted) OVER (ORDER BY o.rn) THEN 1 ELSE 0 END AS brk
                  FROM ord o JOIN fit f USING (rn)),
         grp AS (SELECT s, n, sy, fitted,
                        SUM(brk) OVER (ORDER BY rn) AS g
                 FROM runs)
         SELECT MIN(s) AS score_lo, MAX(s) AS score_hi,
                CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sy) AS BIGINT) AS sy,
                ROUND(CAST(SUM(sy) AS DOUBLE) / SUM(n), 6) + 0.0 AS fitted
         FROM grp GROUP BY g""",


    "a29_brier" ->
      """WITH base AS (SELECT CAST(ROUND(l_discount * 10.0 * 1e6, 0) AS BIGINT) AS pm,
                              CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                              CAST(LEAST(FLOOR(l_discount * 10.0 * 10), 9) AS BIGINT) AS bin
                       FROM lineitem),
         cells AS (SELECT bin, COUNT(*) AS nk, SUM(pm) AS sp, SUM(y) AS sy,
                          SUM(CAST(ROUND(POW(pm / 1e6 - y, 2) * 1e12, 0) AS BIGINT)) AS sb
                   FROM base GROUP BY 1),
         tot AS (SELECT SUM(nk) AS N, SUM(sy) / CAST(SUM(nk) AS DOUBLE) AS pbar
                 FROM cells)
         SELECT CAST(MIN(t.N) AS BIGINT) AS n,
                ROUND(SUM(c.sb) / 1e12 / MIN(t.N), 6) + 0.0 AS brier,
                ROUND(SUM(CAST(ROUND((c.nk / t.N) *
                  POW(c.sp / 1e6 / c.nk - c.sy / CAST(c.nk AS DOUBLE), 2) * 1e12, 0)
                  AS BIGINT)) / 1e12, 6) + 0.0 AS reliability,
                ROUND(SUM(CAST(ROUND((c.nk / t.N) *
                  POW(c.sy / CAST(c.nk AS DOUBLE) - t.pbar, 2) * 1e12, 0)
                  AS BIGINT)) / 1e12, 6) + 0.0 AS resolution,
                ROUND(MIN(t.pbar) * (1 - MIN(t.pbar)), 6) + 0.0 AS uncertainty
         FROM cells c CROSS JOIN tot t""",


    // same doubled-average-rank construction as a28: per distinct value,
    // group-A count and total; prefix counts via a window cumsum; exact
    // integer 2·R_A and tie term, double-only closing z assembly
    "a32_mannwhitney" ->
      """WITH r0 AS (SELECT value AS v,
                            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
                     FROM events
                     WHERE value IS NOT NULL
                       AND event_type IN ('purchase', 'view')),
         c AS (SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM r0 GROUP BY 1),
         r AS (SELECT ca, cnt,
                      CAST(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM c),
         s AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                      CAST(SUM(cnt - ca) AS BIGINT) AS nb,
                      SUM(CAST(ca AS HUGEINT) * (2 * cum - (cnt - 1))) AS r2a,
                      SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
               FROM r),
         u AS (SELECT na, nb,
                      CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) / 2
                        AS ua,
                      ties
               FROM s)
         SELECT na AS n_a, nb AS n_b, ROUND(ua, 6) + 0.0 AS u_a,
                ROUND((ua - CAST(na AS DOUBLE) * nb / 2)
                      / SQRT(CAST(na AS DOUBLE) * nb / 12
                             * (CAST(na + nb + 1 AS DOUBLE)
                                - CAST(ties AS DOUBLE)
                                  / (CAST(na + nb AS DOUBLE) * (na + nb - 1)))),
                  6) + 0.0 AS z
         FROM u""",


    // a32's k-group sibling: same doubled-average-rank prefix machinery;
    // the per-group R²/n terms are doubles, so they're summed by a
    // LIST_SORT + LIST_REDUCE fold in group order — mirroring the
    // engine's sorted-array aggregate — to keep the last ulp independent
    // of aggregation merge order on BOTH engines
    "a43_kruskal" ->
      """WITH r0 AS (SELECT value AS v, event_type AS g FROM events
                     WHERE value IS NOT NULL AND event_type IS NOT NULL),
         gv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cgv
                FROM r0 GROUP BY 1, 2),
         c AS (SELECT v, CAST(SUM(cgv) AS BIGINT) AS cnt FROM gv GROUP BY 1),
         r AS (SELECT v, cnt,
                      CAST(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM c),
         pg AS (SELECT g, CAST(SUM(cgv) AS BIGINT) AS ng,
                       SUM(CAST(cgv AS HUGEINT) * (2 * cum - (cnt - 1)))
                         AS r2g
                FROM gv JOIN r USING (v) GROUP BY 1),
         tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                       SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
                FROM r),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
                      LIST_REDUCE(LIST_TRANSFORM(LIST_SORT(
                        LIST({'g': g,
                              't': CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
                                     / (4.0 * ng)})),
                        x -> x.t), (a, b) -> a + b) AS s4
               FROM pg)
         SELECT k_groups, n,
                ROUND((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * s4
                       - 3 * (n + 1))
                      / (1 - CAST(ties AS DOUBLE)
                             / (CAST(n AS DOUBLE) * n * n - n)), 6) + 0.0
                  AS h
         FROM s, tt""",


    "a44_mann_kendall" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM events GROUP BY 1, 2),
         p AS (SELECT a.user_id, SIGN(b.cnt - a.cnt) AS sg
               FROM daily a JOIN daily b
                 ON a.user_id = b.user_id AND a.day < b.day),
         sgg AS (SELECT user_id, CAST(SUM(sg) AS BIGINT) AS s
                 FROM p GROUP BY 1),
         t AS (SELECT user_id, cnt, CAST(COUNT(*) AS BIGINT) AS t
               FROM daily GROUP BY 1, 2),
         tt AS (SELECT user_id, CAST(SUM(t) AS BIGINT) AS n,
                       CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                         AS tiet
                FROM t GROUP BY 1)
         SELECT sgg.user_id, n, s,
                CASE WHEN CAST(n * (n - 1) * (2 * n + 5) - tiet
                            AS DOUBLE) / 18 = 0 THEN NULL
                     ELSE ROUND((s - SIGN(s))
                            / SQRT(CAST(n * (n - 1) * (2 * n + 5) - tiet
                                     AS DOUBLE) / 18), 6) + 0.0 END AS z
         FROM sgg JOIN tt USING (user_id)""",


    // per-user exact median (QUANTILE_CONT mirrors groupQuantiles — the
    // ts17 precedent), median-ties dropped, runs via one lag window,
    // the z close mirrored op-for-op on exact integers
    "a52_runs_test" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM events GROUP BY 1, 2),
         m AS (SELECT user_id, QUANTILE_CONT(CAST(cnt AS DOUBLE), 0.5)
                 AS med
               FROM daily GROUP BY 1),
         sgn AS (SELECT d.user_id, d.day,
                        CASE WHEN CAST(d.cnt AS DOUBLE) > m.med
                             THEN 1 ELSE 0 END AS s
                 FROM daily d JOIN m USING (user_id)
                 WHERE CAST(d.cnt AS DOUBLE) <> m.med),
         r AS (SELECT user_id, s,
                      CASE WHEN LAG(s) OVER w IS NULL
                             OR s <> LAG(s) OVER w THEN 1 ELSE 0 END AS nw
               FROM sgn WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         ag AS (SELECT user_id, CAST(SUM(nw) AS BIGINT) AS runs,
                       CAST(SUM(s) AS BIGINT) AS n1,
                       CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2
                FROM r GROUP BY 1)
         SELECT user_id, n1, n2, runs,
                CASE WHEN n1 > 0 AND n2 > 0
                      AND 2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2)) > 0 THEN
                  ROUND((CAST(runs AS DOUBLE)
                      - (CAST(2 * n1 * n2 AS DOUBLE)
                         / CAST(n1 + n2 AS DOUBLE) + 1.0))
                    / SQRT(CAST(2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2))
                        AS DOUBLE)
                      / CAST((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)
                        AS DOUBLE)), 6) + 0.0
                END AS z
         FROM ag""",


    // τ-b over the same pair join: doubled n₀ kept integer, radicand an
    // exact long product /4.0 (a power of two — no rounding), one √ +
    // one division
    "a48_kendall_tau" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM events GROUP BY 1, 2),
         p AS (SELECT a.user_id, SIGN(b.cnt - a.cnt) AS sg
               FROM daily a JOIN daily b
                 ON a.user_id = b.user_id AND a.day < b.day),
         sgg AS (SELECT user_id, CAST(SUM(sg) AS BIGINT) AS s
                 FROM p GROUP BY 1),
         t AS (SELECT user_id, cnt, CAST(COUNT(*) AS BIGINT) AS t
               FROM daily GROUP BY 1, 2),
         tt AS (SELECT user_id, CAST(SUM(t) AS BIGINT) AS n,
                       CAST(SUM(t * (t - 1)) AS BIGINT) AS t2
                FROM t GROUP BY 1)
         SELECT sgg.user_id, n, s,
                CASE WHEN n * (n - 1) - t2 > 0 THEN
                  ROUND(CAST(s AS DOUBLE)
                    / SQRT(CAST((n * (n - 1) - t2) * (n * (n - 1))
                        AS DOUBLE) / 4.0), 6) + 0.0
                END AS tau
         FROM sgg JOIN tt USING (user_id)""",


    // exact dyadic sign-test p (LIST_REDUCE binomial products in HUGEINT
    // mirror the engine's Pascal DECIMAL(38,0) rows), then the BH step-up:
    // rank ascending, largest rank with p ≤ rank·q/M, flag below it
    "a45_sign_bh" ->
      """WITH base AS (SELECT user_id, CAST(ts AS DATE) AS day,
                              CAST(COUNT(*) AS BIGINT) AS cnt
                       FROM events GROUP BY 1, 2),
         d AS (SELECT user_id,
                      cnt - LAG(cnt) OVER (PARTITION BY user_id
                        ORDER BY day) AS dd
               FROM base),
         c AS (SELECT user_id,
                      CAST(SUM(CASE WHEN dd > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS pos,
                      CAST(SUM(CASE WHEN dd < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS neg
               FROM d GROUP BY 1),
         c2 AS (SELECT *, pos + neg AS m, LEAST(pos, neg) AS kmin FROM c
                WHERE pos + neg <= 120),
         t AS (SELECT user_id, m, pos, neg,
                      LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(0, kmin),
                        k -> CASE WHEN k = 0 THEN CAST(1 AS HUGEINT)
                             ELSE LIST_REDUCE(
                               LIST_PREPEND(CAST(1 AS HUGEINT),
                                 LIST_TRANSFORM(GENERATE_SERIES(1, k),
                                   i -> CAST(i AS HUGEINT))),
                               (acc, i) -> acc * (m - i + 1) // i) END))
                        AS a,
                      LIST_REDUCE(LIST_PREPEND(CAST(1 AS HUGEINT),
                        LIST_TRANSFORM(GENERATE_SERIES(1, m),
                          x -> CAST(2 AS HUGEINT))), (x, y) -> x * y) AS p2
               FROM c2),
         p AS (SELECT user_id, m, pos, neg,
                      CAST(LEAST(2 * a, p2) AS DOUBLE)
                        / CAST(p2 AS DOUBLE) AS pd
               FROM t),
         r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY pd, user_id) AS rnk,
                      COUNT(*) OVER () AS mm
               FROM p),
         x AS (SELECT *, MAX(CASE WHEN pd <= (rnk * 0.05) / mm
                                  THEN rnk ELSE 0 END) OVER () AS rmax
               FROM r)
         SELECT user_id, m, pos, neg, ROUND(pd, 6) + 0.0 AS p,
                CAST(rnk AS BIGINT) AS rank,
                CAST(CASE WHEN rnk <= rmax THEN 1 ELSE 0 END AS INTEGER)
                  AS flagged
         FROM x""",


    // tie-corrected Friedman over complete user×weekday blocks: doubled
    // within-block mean ranks (2r = 2·rank + #eq − 1), HUGEINT sufficient
    // statistics mirroring the engine's DECIMAL(38,0), one closing
    // cast+division. DAYOFWEEK is 0-based in DuckDB → +1 aligns with
    // Spark's 1-based dayofweek
    "a46_friedman" ->
      """WITH base AS (SELECT user_id, DAYOFWEEK(ts) + 1 AS dow,
                              CAST(COUNT(*) AS BIGINT) AS cnt
                       FROM events GROUP BY 1, 2),
         kk AS (SELECT COUNT(DISTINCT dow) AS k FROM base),
         comp AS (SELECT user_id FROM base GROUP BY 1
                  HAVING COUNT(DISTINCT dow) = (SELECT k FROM kk)),
         kept AS (SELECT b.* FROM base b JOIN comp USING (user_id)),
         r AS (SELECT user_id, dow,
                      2 * RANK() OVER (PARTITION BY user_id ORDER BY cnt)
                        + COUNT(*) OVER (PARTITION BY user_id, cnt) - 1
                        AS r2
               FROM kept),
         tj AS (SELECT dow, CAST(SUM(r2) AS HUGEINT) AS tj
                FROM r GROUP BY 1),
         tot AS (SELECT SUM(CAST(r2 AS HUGEINT) * r2) AS a,
                        CAST(COUNT(DISTINCT user_id) AS HUGEINT) AS b,
                        CAST(COUNT(DISTINCT dow) AS HUGEINT) AS k
                 FROM r),
         dev AS (SELECT SUM((tj - b * (k + 1)) * (tj - b * (k + 1)))
                   AS sd2
                 FROM tj CROSS JOIN tot)
         SELECT CAST(b AS BIGINT) AS b_blocks, CAST(k AS BIGINT) AS k_treat,
                CASE WHEN a <> b * k * (k + 1) * (k + 1) THEN
                  ROUND(CAST((k - 1) * sd2 AS DOUBLE)
                    / CAST(a - b * k * (k + 1) * (k + 1) AS DOUBLE), 6)
                    + 0.0
                END AS chi2
         FROM tot CROSS JOIN dev""",


    // four exact integer counts from one conditional-aggregate scan, the
    // pooled-z assembly mirrored op-for-op; empty/degenerate pools null
    "a47_prop_ztest" ->
      """WITH c AS (SELECT
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN user_id % 2 = 0
                          AND event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS x1,
           CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN user_id % 2 <> 0
                          AND event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS x2
         FROM events WHERE user_id IS NOT NULL),
         w AS (SELECT *,
                      CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
                        AS pp
               FROM c)
         SELECT n1, x1, n2, x2,
                CASE WHEN n1 > 0 THEN
                  ROUND(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) + 0.0
                END AS p1,
                CASE WHEN n2 > 0 THEN
                  ROUND(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) + 0.0
                END AS p2,
                CASE WHEN n1 > 0 AND n2 > 0 AND x1 + x2 > 0
                      AND x1 + x2 < n1 + n2 THEN
                  ROUND((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    / SQRT((pp * (1.0 - pp))
                      * (1.0 / CAST(n1 AS DOUBLE)
                         + 1.0 / CAST(n2 AS DOUBLE))), 6) + 0.0
                END AS z
         FROM w""",


    // six HUGEINT sufficient statistics mirroring the engine's
    // DECIMAL(38,0); pooled-variance close assembled op-for-op
    "a50_cohens_d" ->
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM events GROUP BY 1),
         c AS (SELECT
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
           SUM(CASE WHEN user_id % 2 = 0 THEN CAST(cnt AS HUGEINT) END)
             AS s1,
           SUM(CASE WHEN user_id % 2 = 0
               THEN CAST(cnt AS HUGEINT) * cnt END) AS q1,
           CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
           SUM(CASE WHEN user_id % 2 <> 0 THEN CAST(cnt AS HUGEINT) END)
             AS s2,
           SUM(CASE WHEN user_id % 2 <> 0
               THEN CAST(cnt AS HUGEINT) * cnt END) AS q2
         FROM u WHERE user_id IS NOT NULL)
         SELECT n1, n2,
                CASE WHEN n1 > 0 THEN
                  ROUND(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) + 0.0
                END AS mean_a,
                CASE WHEN n2 > 0 THEN
                  ROUND(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) + 0.0
                END AS mean_b,
                CASE WHEN n1 > 1 AND n2 > 1
                      AND (n1 * q1 - s1 * s1) + (n2 * q2 - s2 * s2) > 0 THEN
                  ROUND((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    / SQRT((CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                          / CAST(n1 AS DOUBLE)
                        + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
                          / CAST(n2 AS DOUBLE))
                      / CAST(n1 + n2 - 2 AS DOUBLE)), 6) + 0.0
                END AS d
         FROM c""",


    "a40_welch_ttest" ->
      """WITH r AS (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
                           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                             AS a
                    FROM events
                    WHERE value IS NOT NULL
                      AND event_type IN ('purchase', 'view')),
         s AS (SELECT CAST(SUM(a) AS BIGINT) AS n1,
                      CAST(SUM(1 - a) AS BIGINT) AS n2,
                      SUM(CAST(c AS HUGEINT) * a) AS s1,
                      SUM(CAST(c AS HUGEINT) * c * a) AS q1,
                      SUM(CAST(c AS HUGEINT) * (1 - a)) AS s2,
                      SUM(CAST(c AS HUGEINT) * c * (1 - a)) AS q2
               FROM r),
         f AS (SELECT n1, n2, s1, s2,
                      CAST(n1 * q1 - s1 * s1 AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS v1,
                      CAST(n2 * q2 - s2 * s2 AS DOUBLE)
                        / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS v2,
                      CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2 AS md
               FROM s)
         SELECT n1, n2,
                ROUND(CAST(s1 AS DOUBLE) / n1 / 100.0, 6) + 0.0 AS mean1,
                ROUND(CAST(s2 AS DOUBLE) / n2 / 100.0, 6) + 0.0 AS mean2,
                ROUND(md / SQRT(v1 + v2), 6) + 0.0 AS t,
                ROUND((v1 + v2) * (v1 + v2)
                      / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1)), 6) + 0.0 AS df
         FROM f""",


    "a39_cronbach_alpha" ->
      """WITH it AS (SELECT
                       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END AS i1,
                       CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS i2,
                       CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS i3
                     FROM orders),
         w AS (SELECT i1, i2, i3, i1 + i2 + i3 AS t FROM it),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      SUM(CAST(i1 AS HUGEINT)) AS s1,
                      SUM(CAST(i1 AS HUGEINT) * i1) AS q1,
                      SUM(CAST(i2 AS HUGEINT)) AS s2,
                      SUM(CAST(i2 AS HUGEINT) * i2) AS q2,
                      SUM(CAST(i3 AS HUGEINT)) AS s3,
                      SUM(CAST(i3 AS HUGEINT) * i3) AS q3,
                      SUM(CAST(t AS HUGEINT)) AS st,
                      SUM(CAST(t AS HUGEINT) * t) AS qt
               FROM w)
         SELECT n,
                ROUND(1.5 * (1.0 -
                  (CAST(n * q1 - s1 * s1 AS DOUBLE)
                   + CAST(n * q2 - s2 * s2 AS DOUBLE)
                   + CAST(n * q3 - s3 * s3 AS DOUBLE))
                  / CAST(n * qt - st * st AS DOUBLE)), 6) + 0.0 AS alpha
         FROM s""",


    // κ from exact integer moments: P̄ cleared to (Σn²−Nr)/(Nr(r−1)),
    // P_e to Σn_j²/(Nr)²
    "a38_fleiss_kappa" ->
      """WITH v AS (SELECT o_orderkey AS i, vote AS c FROM orders,
                    LATERAL (VALUES
                      (CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 'high' ELSE 'low' END),
                      (CASE WHEN o_totalprice > 150000
                         THEN 'high' ELSE 'low' END),
                      (CASE WHEN o_orderstatus = 'F'
                         THEN 'high' ELSE 'low' END)) AS t(vote)),
         cells AS (SELECT i, c, CAST(COUNT(*) AS BIGINT) AS nij
                   FROM v GROUP BY 1, 2),
         ag AS (SELECT SUM(CAST(nij AS HUGEINT) * nij) AS ss,
                       CAST(COUNT(DISTINCT i) AS BIGINT) AS n
                FROM cells),
         mg AS (SELECT SUM(CAST(nj AS HUGEINT) * nj) AS sm
                FROM (SELECT c, CAST(SUM(nij) AS BIGINT) AS nj
                      FROM cells GROUP BY 1)),
         f AS (SELECT n,
                      CAST(ss - CAST(n AS HUGEINT) * 3 AS DOUBLE)
                        / CAST(CAST(n AS HUGEINT) * 3 * 2 AS DOUBLE) AS pbar,
                      CAST(sm AS DOUBLE)
                        / CAST(CAST(n AS HUGEINT) * 3 * n * 3 AS DOUBLE)
                        AS pexp,
                      CAST(n AS HUGEINT) * 3 * n * 3 = sm AS degen
               FROM ag CROSS JOIN mg)
         SELECT n AS n_items, ROUND(pbar, 6) + 0.0 AS p_bar, ROUND(pexp, 6) + 0.0 AS p_exp,
                CASE WHEN NOT degen THEN
                  ROUND((pbar - pexp) / (1.0 - pexp), 6) END + 0.0 AS kappa
         FROM f""",


    // same doubled-average-rank machinery as a28/a32 over |d|
    "a37_wilcoxon" ->
      """WITH p AS (SELECT l_orderkey,
                           MAX(CASE WHEN l_linenumber = 1 THEN
                             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                             END) AS p1,
                           MAX(CASE WHEN l_linenumber = 2 THEN
                             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                             END) AS p2
                    FROM lineitem GROUP BY 1),
         d AS (SELECT p1 - p2 AS d FROM p
               WHERE p1 IS NOT NULL AND p2 IS NOT NULL AND p1 <> p2),
         c AS (SELECT ABS(d) AS a,
                      CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                        AS cp,
                      CAST(COUNT(*) AS BIGINT) AS cnt
               FROM d GROUP BY 1),
         r AS (SELECT cp, cnt,
                      CAST(SUM(cnt) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM c),
         s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                      SUM(CAST(cp AS HUGEINT) * (2 * cum - (cnt - 1))) AS wp2,
                      SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
               FROM r)
         SELECT n, ROUND(CAST(wp2 AS DOUBLE) / 2, 6) + 0.0 AS w_plus,
                ROUND((CAST(wp2 AS DOUBLE) / 2
                       - CAST(n AS DOUBLE) * (n + 1) / 4)
                      / SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                             - CAST(ties AS DOUBLE) / 48), 6) + 0.0 AS z
         FROM s""",


    // the oracle expands each row into `l_linenumber` copies and takes
    // the plain exact median — proving the no-expansion weighted form
    "a36_weighted_median" ->
      """WITH e AS (SELECT l_returnflag, l_extendedprice
                    FROM lineitem
                    CROSS JOIN UNNEST(GENERATE_SERIES(1, l_linenumber)) AS t(i))
         SELECT l_returnflag, ROUND(MEDIAN(l_extendedprice), 6) + 0.0 AS w_median
         FROM e GROUP BY 1""",


    "a35_mcnemar" ->
      """WITH r AS (SELECT (o_orderstatus = 'F') AS t,
                           (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS pa,
                           (o_totalprice > 150000) AS pb
                    FROM orders),
         c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(CASE WHEN pa = t AND pb <> t THEN 1 ELSE 0 END)
                        AS BIGINT) AS b,
                      CAST(SUM(CASE WHEN pa <> t AND pb = t THEN 1 ELSE 0 END)
                        AS BIGINT) AS c
               FROM r)
         SELECT n, b, c,
                CASE WHEN b + c > 0 THEN
                  ROUND(POWER(ABS(b - c) - 1, 2) / (b + c), 6)
                END AS chi2
         FROM c""",


    // mirrors the engine op-for-op: integer placement moments over the
    // distinct-score frame, double-only closing SE/CI assembly
    "a33_auroc_delong" ->
      """WITH r0 AS (SELECT o_totalprice AS s,
                            CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
                     FROM orders),
         c AS (SELECT s, CAST(SUM(y) AS BIGINT) AS cp,
                      CAST(SUM(1 - y) AS BIGINT) AS cn
               FROM r0 GROUP BY 1),
         cum AS (SELECT cp, cn,
                        CAST(SUM(cp) OVER w AS BIGINT) AS cump,
                        CAST(SUM(cn) OVER w AS BIGINT) AS cumn
                 FROM c
                 WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)),
         tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS m,
                        CAST(SUM(cn) AS BIGINT) AS n
                 FROM c),
         st AS (SELECT m, n,
                       SUM(CAST(cp AS HUGEINT) * (2 * cumn - cn)) AS sa,
                       SUM(CAST(cp AS HUGEINT) * (2 * cumn - cn)
                           * (2 * cumn - cn)) AS saa,
                       SUM(CAST(cn AS HUGEINT) * (2 * (m - cump) + cp)
                           * (2 * (m - cump) + cp)) AS sbb
                FROM cum CROSS JOIN tot GROUP BY 1, 2),
         fin AS (SELECT m, n,
                        CAST(sa AS DOUBLE)
                          / (2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE)) AS th,
                        (CAST(saa AS DOUBLE)
                           / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                         - CAST(m AS DOUBLE) * (CAST(sa AS DOUBLE)
                             / (2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE)))
                           * (CAST(sa AS DOUBLE)
                             / (2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE))))
                          / (CAST(m AS DOUBLE) - 1.0) AS s10,
                        (CAST(sbb AS DOUBLE)
                           / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
                         - CAST(n AS DOUBLE) * (CAST(sa AS DOUBLE)
                             / (2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE)))
                           * (CAST(sa AS DOUBLE)
                             / (2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE))))
                          / (CAST(n AS DOUBLE) - 1.0) AS s01
                 FROM st)
         SELECT m AS n_pos, n AS n_neg, ROUND(th, 6) + 0.0 AS auc,
                ROUND(SQRT(s10 / CAST(m AS DOUBLE) + s01 / CAST(n AS DOUBLE)),
                  6) + 0.0 AS se,
                ROUND(th - 1.959964 * SQRT(s10 / CAST(m AS DOUBLE)
                  + s01 / CAST(n AS DOUBLE)), 6) + 0.0 AS ci_lo,
                ROUND(th + 1.959964 * SQRT(s10 / CAST(m AS DOUBLE)
                  + s01 / CAST(n AS DOUBLE)), 6) + 0.0 AS ci_hi
         FROM fin""",


    // κ cleared of denominators: (N·Σ n_kk − Σ n_a·n_b)/(N² − Σ n_a·n_b),
    // all-integer operands, single rounded division
    "a34_cohens_kappa" ->
      """WITH r0 AS (SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                              THEN 'high' ELSE 'low' END AS a,
                            CASE WHEN o_totalprice > 150000
                              THEN 'high' ELSE 'low' END AS b
                     FROM orders),
         cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab
                   FROM r0 GROUP BY 1, 2),
         ag AS (SELECT CAST(SUM(CASE WHEN a = b THEN nab ELSE 0 END) AS BIGINT)
                         AS diag,
                       CAST(SUM(nab) AS BIGINT) AS n
                FROM cells),
         ma AS (SELECT a AS k, CAST(SUM(nab) AS BIGINT) AS na
                FROM cells GROUP BY 1),
         mb AS (SELECT b AS k, CAST(SUM(nab) AS BIGINT) AS nb
                FROM cells GROUP BY 1),
         pe AS (SELECT SUM(CAST(na AS HUGEINT) * nb) AS sab
                FROM ma JOIN mb USING (k))
         SELECT n, ROUND(CAST(diag AS DOUBLE) / n, 6) + 0.0 AS p_obs,
                ROUND(CAST(sab AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * n AS DOUBLE), 6) + 0.0 AS p_exp,
                CASE WHEN CAST(n AS HUGEINT) * n <> sab THEN
                  ROUND(CAST(CAST(n AS HUGEINT) * diag - sab AS DOUBLE)
                        / CAST(CAST(n AS HUGEINT) * n - sab AS DOUBLE), 6)
                END + 0.0 AS kappa
         FROM ag CROSS JOIN pe""",


    // four exact HUGEINT power sums per group, one fixed closing double
    // sequence (the a40 discipline, two moments further)
    "a49_jarque_bera" ->
      """WITH r AS (SELECT c_nationkey,
                           CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS q
                    FROM customer),
         s AS (SELECT c_nationkey, CAST(COUNT(q) AS BIGINT) AS n,
                      SUM(CAST(q AS HUGEINT)) AS s1,
                      SUM(CAST(q AS HUGEINT) * q) AS s2,
                      SUM(CAST(q AS HUGEINT) * q * q) AS s3,
                      SUM(CAST(q AS HUGEINT) * q * q * q) AS s4
               FROM r GROUP BY 1),
         f AS (SELECT c_nationkey, n,
                      CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                      CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                      CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
                      CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
               FROM s),
         m AS (SELECT c_nationkey, n,
                      r2 - mu * mu AS m2,
                      r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
                      r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
                         - 3.0 * mu * mu * mu * mu AS m4
               FROM f)
         SELECT c_nationkey, n,
                CASE WHEN m2 > 0
                  THEN ROUND(m3 / SQRT(m2 * m2 * m2), 6) + 0.0 END AS skewness,
                CASE WHEN m2 > 0
                  THEN ROUND(m4 / (m2 * m2) - 3.0, 6) + 0.0 END AS ex_kurtosis,
                CASE WHEN m2 > 0
                  THEN ROUND(CAST(n AS DOUBLE) / 6.0 *
                         ((m3 / SQRT(m2 * m2 * m2)) * (m3 / SQRT(m2 * m2 * m2))
                          + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                            / 4.0), 6) + 0.0 END AS jb
         FROM m""",


    // type-7 medians (QUANTILE_CONT ≡ the engine's exact rank interp over
    // integers), exact |2x − 2·med| deviations, per-group double terms
    // pinned to integer units before the cross-group exact sum
    "a51_brown_forsythe" ->
      """WITH r AS (SELECT c_nationkey AS grp,
                           CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS q
                    FROM customer WHERE c_acctbal IS NOT NULL),
         med AS (SELECT grp,
                        CAST(ROUND(QUANTILE_CONT(q, 0.5) * 2, 0) AS BIGINT) AS m2
                 FROM r GROUP BY 1),
         z AS (SELECT r.grp, ABS(r.q * 2 - med.m2) AS z2
               FROM r JOIN med USING (grp)),
         pg AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
                       SUM(CAST(z2 AS HUGEINT)) AS sg,
                       SUM(CAST(z2 AS HUGEINT) * z2) AS qg
                FROM z GROUP BY 1),
         gr AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                       CAST(SUM(ng) AS BIGINT) AS n,
                       SUM(sg) AS s FROM pg),
         terms AS (SELECT pg.ng, pg.sg, pg.qg, gr.k, gr.n,
                          CAST(gr.s AS DOUBLE) / CAST(gr.n AS DOUBLE) AS mu,
                          CAST(pg.sg AS DOUBLE) / CAST(pg.ng AS DOUBLE) AS mug
                   FROM pg CROSS JOIN gr),
         agg AS (SELECT MAX(k) AS k, MAX(n) AS n,
                        SUM(CAST(ROUND(CAST(qg AS DOUBLE)
                          - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                            / CAST(ng AS DOUBLE), 0) AS HUGEINT)) AS ssw,
                        SUM(CAST(ROUND(CAST(ng AS DOUBLE) * (mug - mu)
                          * (mug - mu), 0) AS HUGEINT)) AS ssb
                 FROM terms)
         SELECT k, n,
                CASE WHEN k > 1 AND ssw > 0
                  THEN ROUND((CAST(ssb AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                    / (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE)), 6) + 0.0
                END AS f_stat
         FROM agg""",


    // fixed-width-bin HL χ²: exact integer-micro E sums, per-bin terms
    // nano-pinned, degenerate (E=0 or E=n) bins excluded from χ² and df
    "a53_hosmer_lemeshow" ->
      """WITH r AS (SELECT LEAST(FLOOR(l_discount * 10.0 * 10), 9) AS bin,
                           CAST(ROUND(l_discount * 10.0 * 1e6, 0) AS BIGINT) AS pq,
                           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
                    FROM lineitem),
         g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS ng,
                      CAST(SUM(y) AS BIGINT) AS og,
                      CAST(SUM(pq) AS BIGINT) AS eq
               FROM r GROUP BY 1),
         t AS (SELECT ng, og, eq,
                      eq > 0 AND eq < ng * 1000000 AS valid,
                      CAST(eq AS DOUBLE) / 1e6 AS e
               FROM g),
         agg AS (SELECT CAST(SUM(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT)
                          AS n_bins,
                        CAST(SUM(ng) AS BIGINT) AS n,
                        SUM(CASE WHEN valid THEN CAST(ROUND(
                          (CAST(og AS DOUBLE) - e) * (CAST(og AS DOUBLE) - e)
                            / (e * (1.0 - e / CAST(ng AS DOUBLE))) * 1e9, 0)
                          AS BIGINT) END) AS chifp
                 FROM t)
         SELECT n_bins, n, ROUND(chifp / 1e9, 6) + 0.0 AS hl_chi2,
                CAST(n_bins - 2 AS BIGINT) AS df
         FROM agg""",


    // four exact integer cells, one fixed closing double sequence per
    // effect; any zero cell nulls the effects
    "a54_odds_ratio" ->
      """WITH r AS (SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS e,
                           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
                    FROM lineitem),
         cells AS (SELECT
             CAST(SUM(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
           FROM r),
         f AS (SELECT a, b, c, d,
                      CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
                      CAST(c AS DOUBLE) AS cd, CAST(d AS DOUBLE) AS dd
               FROM cells),
         g AS (SELECT a, b, c, d,
                      a > 0 AND b > 0 AND c > 0 AND d > 0 AS ok,
                      LN(ad * dd / (bd * cd)) AS lnor,
                      SQRT(1.0 / ad + 1.0 / bd + 1.0 / cd + 1.0 / dd) AS seor,
                      LN((ad / (ad + bd)) / (cd / (cd + dd))) AS lnrr,
                      SQRT(bd / (ad * (ad + bd)) + dd / (cd * (cd + dd))) AS serr
               FROM f)
         SELECT a, b, c, d,
                CASE WHEN ok THEN ROUND(EXP(lnor), 6) + 0.0 END AS odds_ratio,
                CASE WHEN ok THEN ROUND(EXP(lnor - 1.96 * seor), 6) + 0.0 END AS or_lo,
                CASE WHEN ok THEN ROUND(EXP(lnor + 1.96 * seor), 6) + 0.0 END AS or_hi,
                CASE WHEN ok THEN ROUND(EXP(lnrr), 6) + 0.0 END AS risk_ratio,
                CASE WHEN ok THEN ROUND(EXP(lnrr - 1.96 * serr), 6) + 0.0 END AS rr_lo,
                CASE WHEN ok THEN ROUND(EXP(lnrr + 1.96 * serr), 6) + 0.0 END AS rr_hi
         FROM g""",


    // exact order statistic on the even-id calibration slice: the k-th
    // smallest score with k = ceil((n+1)(1-α)) in exact integer ceil; the
    // odd-id slice's coverage is two integer counts and one division
    "a55_conformal" ->
      """WITH b AS (SELECT CAST(value AS DOUBLE) AS s, event_id,
                           event_id % 2 = 0 AS c
                    FROM events WHERE value IS NOT NULL),
         cal AS (SELECT s, event_id FROM b WHERE c),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
                      CAST(((COUNT(*) + 1) * 900000 + 999999) // 1000000 AS BIGINT) AS k
               FROM cal),
         r AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s ASC, event_id ASC) AS rn
               FROM cal),
         tau AS (SELECT r.s AS tau FROM r CROSS JOIN n WHERE r.rn = n.k),
         t AS (SELECT s FROM b WHERE NOT c)
         SELECT n.n_cal, n.k,
                (SELECT tau FROM tau) + 0.0 AS tau,
                CAST(COUNT(*) AS BIGINT) AS n_test,
                CAST(SUM(CASE WHEN (SELECT tau FROM tau) IS NULL
                               OR s <= (SELECT tau FROM tau)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
                ROUND(CAST(SUM(CASE WHEN (SELECT tau FROM tau) IS NULL
                                     OR s <= (SELECT tau FROM tau)
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
         FROM t CROSS JOIN n GROUP BY 1, 2""",


    // the same exact integer ceil and order statistic, PARTITIONED by
    // event_type; groups present in both slices close with an inner join
    "a56_group_conformal" ->
      """WITH b AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS s,
                           event_id, event_id % 2 = 0 AS c
                    FROM events WHERE value IS NOT NULL),
         cal AS (SELECT * FROM b WHERE c),
         st AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_cal,
                       CAST(((COUNT(*) + 1) * 900000 + 999999) // 1000000 AS BIGINT) AS k
                FROM cal GROUP BY 1),
         r AS (SELECT grp, s,
                      ROW_NUMBER() OVER (PARTITION BY grp
                        ORDER BY s ASC, event_id ASC) AS rn
               FROM cal),
         tau AS (SELECT r.grp, r.s AS tau
                 FROM r JOIN st USING (grp) WHERE r.rn = st.k),
         t AS (SELECT grp, s FROM b WHERE NOT c),
         cov AS (SELECT t.grp, CAST(COUNT(*) AS BIGINT) AS n_test,
                        CAST(SUM(CASE WHEN tau.tau IS NULL OR t.s <= tau.tau
                                      THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
                        MAX(tau.tau) + 0.0 AS tau
                 FROM t LEFT JOIN tau ON tau.grp = t.grp GROUP BY 1)
         SELECT st.grp AS event_type, st.n_cal, st.k, cov.tau,
                cov.n_test, cov.n_covered,
                ROUND(CAST(cov.n_covered AS DOUBLE)
                  / CAST(cov.n_test AS DOUBLE), 6) AS coverage
         FROM st JOIN cov USING (grp)"""
  )
}
