package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation/fairness analytics (SURVEY.md §2.4 A12-A16) — the relational
  * core of the reference's `evaluation.py` / `fairness.py`. Every metric is
  * an aggregate over (truth, score) columns; nothing is collected to the
  * driver, so the same code evaluates 10⁹-row prediction tables.
  */
object MetricsOps {

  /** A12/A16 — confusion cells + derived rates in one aggregate pass
    * (`fairness.py:32-68`, `evaluation.py:124-141`). `truth`/`pred` are 0/1.
    */
  def confusionMetrics(df: DataFrame, truth: Column, pred: Column): DataFrame = {
    val tp = sum(when(truth === 1 && pred === 1, 1L).otherwise(0L)).as("tp")
    val fp = sum(when(truth === 0 && pred === 1, 1L).otherwise(0L)).as("fp")
    val tn = sum(when(truth === 0 && pred === 0, 1L).otherwise(0L)).as("tn")
    val fn = sum(when(truth === 1 && pred === 0, 1L).otherwise(0L)).as("fn")
    df.agg(tp, fp, tn, fn)
      .withColumn("accuracy",
        round((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("tn") + col("fp") + col("fn")), 6))
      .withColumn("precision_", round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
      .withColumn("recall_", round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
  }

  /** The reference's per-group fairness report derives seven rates from the
    * confusion cells (`fairness.py:38-67`): TPR/TNR/FPR/FNR, positive/
    * negative prediction rates, accuracy — each None (here: null) when its
    * denominator is zero, exactly as the reference's ZeroDivisionError
    * handlers do. Pure column arithmetic on the already-aggregated cells,
    * so the cost is nil at any scale.
    */
  private def withRates(cells: DataFrame): DataFrame = {
    def rate(num: Column, den: Column): Column =
      round(when(den =!= 0, num.cast("double") / den), 6)
    val n = col("tp") + col("fp") + col("tn") + col("fn")
    cells
      .withColumn("tpr", rate(col("tp"), col("tp") + col("fn")))
      .withColumn("tnr", rate(col("tn"), col("tn") + col("fp")))
      .withColumn("fpr", rate(col("fp"), col("fp") + col("tn")))
      .withColumn("fnr", rate(col("fn"), col("fn") + col("tp")))
      .withColumn("pr", rate(col("tp") + col("fp"), n))
      .withColumn("nr", rate(col("tn") + col("fn"), n))
      .withColumn("accuracy", rate(col("tp") + col("tn"), n))
  }

  /** A13 — confusion cells + derived rates per sensitive-attribute group
    * (`fairness.py:71-81`).
    */
  def groupedConfusion(df: DataFrame, group: String, truth: Column, pred: Column): DataFrame =
    withRates(df.groupBy(group).agg(
      sum(when(truth === 1 && pred === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(truth === 0 && pred === 1, 1L).otherwise(0L)).as("fp"),
      sum(when(truth === 0 && pred === 0, 1L).otherwise(0L)).as("tn"),
      sum(when(truth === 1 && pred === 0, 1L).otherwise(0L)).as("fn")))

  /** A13 multi-attribute form — the reference reports per (attribute ×
    * group) over a melted table (`fairness.py:71-81`); `stack()` melts the
    * attribute columns in one pass (values coerced to string so mixed
    * attribute types can share the `grp` column), then one grouped
    * aggregate covers every attribute. One scan regardless of the number
    * of attributes, vs one `groupedConfusion` call per attribute.
    */
  def meltedConfusion(df: DataFrame, attrs: Seq[String], truth: Column, pred: Column): DataFrame = {
    val pairs = attrs.map(a => s"'$a', cast(`$a` as string)").mkString(", ")
    val cells = df.select(
        expr(s"stack(${attrs.size}, $pairs) as (attribute, grp)"),
        truth.as("__t"), pred.as("__p"))
      .groupBy("attribute", "grp")
      .agg(
        sum(when(col("__t") === 1 && col("__p") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("__t") === 0 && col("__p") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("__t") === 0 && col("__p") === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(col("__t") === 1 && col("__p") === 0, 1L).otherwise(0L)).as("fn"))
    withRates(cells)
  }

  /** Population Stability Index between a baseline and a current segment of
    * one score column — the standard drift monitor for model scores and
    * feature distributions. Equal-width bins over the combined min/max;
    * Laplace-smoothed shares p,q = (n+1)/(N+bins) so empty bins stay
    * finite; per-bin rows carry the two shares and the PSI contribution
    * (p−q)·ln(p/q) — total PSI is their sum.
    *
    * Scale shape: one min/max aggregate (1 row, rides as a cross join), one
    * grouped count over ≤`bins` keys, and a `bins`-row densify — no sort,
    * no driver collection, output bounded by `bins` regardless of input.
    */
  def psi(df: DataFrame, score: Column, isBaseline: Column, bins: Int): DataFrame = {
    val d = df.select(score.cast("double").as("__v"),
        isBaseline.cast("int").as("__b"))
      .filter(col("__v").isNotNull)
    val ext = d.agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val counted = d.crossJoin(ext)
      .withColumn("bin",
        when(col("__hi") === col("__lo"), lit(0))
          .otherwise(least(
            floor((col("__v") - col("__lo")) /
              ((col("__hi") - col("__lo")) / lit(bins.toDouble))),
            lit((bins - 1).toLong)))
          .cast("int"))
      .groupBy("bin")
      .agg(sum(col("__b")).cast("long").as("__nb"),
        sum(lit(1) - col("__b")).cast("long").as("__nc"))
    val tot = counted.agg(sum("__nb").as("__tb"), sum("__nc").as("__tc"))
    val p = (col("__nb") + lit(1.0)) / (col("__tb") + lit(bins.toDouble))
    val q = (col("__nc") + lit(1.0)) / (col("__tc") + lit(bins.toDouble))
    tot.select(explode(sequence(lit(0), lit(bins - 1))).as("bin"),
        col("__tb"), col("__tc"))
      .join(counted, Seq("bin"), "left")
      .na.fill(0L, Seq("__nb", "__nc"))
      .select(col("bin"),
        round(p, 6).as("p_base"),
        round(q, 6).as("p_curr"),
        round((p - q) * log(p / q), 6).as("psi_contrib"))
  }

  /** A14 — calibration bins (`evaluation.py:219-250`): digitize `prob` into
    * `bins` equal buckets (prob==1 clipped into the last), per-bin accuracy
    * and mean confidence.
    */
  def calibrationBins(df: DataFrame, prob: Column, label: Column, bins: Int): DataFrame =
    df.withColumn("bin", least(floor(prob * bins), lit(bins - 1)).cast("long"))
      .groupBy("bin")
      .agg(
        round(avg(label.cast("double")), 6).as("bin_accuracy"),
        round(avg(prob), 6).as("bin_confidence"),
        count(lit(1)).as("n"))

  /** A14 — ECE/MCE scalars from the calibration bins
    * (`evaluation.py:219-250`): ECE = Σ (n_b/N)·|acc_b − conf_b|,
    * MCE = max_b |acc_b − conf_b|.
    */
  def calibrationError(df: DataFrame, prob: Column, label: Column, bins: Int): DataFrame =
    calibrationBins(df, prob, label, bins)
      .agg(
        round(
          sum(col("n") * abs(col("bin_accuracy") - col("bin_confidence"))) / sum(col("n")),
          6).as("ece"),
        round(max(abs(col("bin_accuracy") - col("bin_confidence"))), 6).as("mce"))

  /** Murphy decomposition of the Brier score — the diagnostic behind the
    * reference's calibration plots (`evaluation.py` calibration section),
    * as ONE output row `(n, brier, reliability, resolution, uncertainty)`:
    * `brier = mean((p − y)²)`,
    * `reliability = Σ_k (n_k/N)(f̄_k − ō_k)²` (bin confidence vs accuracy),
    * `resolution = Σ_k (n_k/N)(ō_k − p̄)²` (how far bins pull from base
    * rate), `uncertainty = p̄(1 − p̄)`.
    *
    * Determinism: probabilities are scaled to exact integer micros and
    * every float term (per-row Brier, per-bin reliability/resolution) is
    * correctly rounded to integer picos and summed as BIGINT — the same
    * order-insensitivity argument as `categoricalAssociation`. Two hash
    * aggregates over bounded frames (rows → bins → 1), no windows.
    */
  def brierDecomposition(df: DataFrame, prob: Column, label: Column,
      bins: Int): DataFrame = {
    val base = df.select(
      round(prob * 1e6, 0).cast("long").as("__pm"),
      label.cast("long").as("__y"),
      least(floor(prob * bins), lit(bins - 1)).cast("long").as("__bin"))
    val p = col("__pm") / 1e6
    val cells = base
      .groupBy("__bin")
      .agg(count(lit(1)).as("__nk"),
        sum(col("__pm")).as("__sp"),
        sum(col("__y")).as("__sy"),
        sum(round(pow(p - col("__y"), 2) * 1e12, 0).cast("long")).as("__sb"))
    val tot = cells.agg(sum("__nk").as("__N"), sum("__sy").as("__SY"))
      .select(col("__N"), (col("__SY").cast("double") / col("__N")).as("__pbar"))
    val fk = col("__sp").cast("double") / 1e6 / col("__nk")
    val ok = col("__sy").cast("double") / col("__nk")
    cells.crossJoin(broadcast(tot))
      .agg(
        first(col("__N")).as("n"),
        round(sum(col("__sb")).cast("double") / 1e12 / first(col("__N")), 6)
          .as("brier"),
        round(sum(round((col("__nk") / col("__N")) * pow(fk - ok, 2) * 1e12, 0)
          .cast("long")) / 1e12, 6).as("reliability"),
        round(sum(round((col("__nk") / col("__N")) * pow(ok - col("__pbar"), 2)
          * 1e12, 0).cast("long")) / 1e12, 6).as("resolution"),
        round(first(col("__pbar")) * (lit(1.0) - first(col("__pbar"))), 6)
          .as("uncertainty"))
  }

  /** Temperature scaling, grid-search form (`callibrate_output.py:29-83`):
    * the reference tunes a scalar T by LBFGS to minimize
    * `BCEWithLogitsLoss(logits / T, labels)`; here the 1-D search is a
    * T-grid explode → per-T mean BCE aggregate → argmin row, which is pure
    * relational and engine-portable. The BCE uses the numerically stable
    * softplus identity `max(z,0) − z·y + ln(1+e^−|z|)`, the same form
    * torch's BCEWithLogitsLoss computes.
    *
    * Scale shape: each row replicates |grid| times under the explode, but
    * the groupBy(T) aggregate combines map-side, so the shuffle carries
    * ≤ |grid| rows per map task and the output is |grid| rows; the argmin
    * is an `orderBy().limit(1)` over that bounded frame
    * (TakeOrderedAndProject). Ties break toward the smaller T.
    *
    * The argmin orders on the ROUNDED mean BCE: engines (and partition
    * counts) sum the per-row losses in different orders, so two near-tied
    * grid temperatures could otherwise flip best_t on sub-ulp differences
    * even when both values agree at 6 decimals. Rounding before the
    * ordering (matching the oracle side) makes the selection
    * ulp-insensitive; exact ties still break toward the smaller T.
    */
  def temperatureScale(df: DataFrame, logit: Column, label: Column,
      tGrid: Seq[Double]): DataFrame = {
    val z = col("__z") / col("t")
    df.select(logit.cast("double").as("__z"), label.cast("double").as("__y"),
        explode(array(tGrid.map(lit): _*)).as("t"))
      .groupBy(col("t"))
      .agg(round(avg(greatest(z, lit(0.0)) - z * col("__y") +
        log(lit(1.0) + exp(-abs(z)))), 6).as("__bce"))
      .orderBy(col("__bce").asc, col("t").asc)
      .limit(1)
      .select(col("t").as("best_t"), col("__bce").as("bce"))
  }

  /** A15 — AUROC via the Mann-Whitney rank-sum identity
    * (`evaluation.py:95-108` uses sklearn; this is the distributed form):
    * AUC = (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺ n⁻), with a
    * caller-supplied unique `tie` column pinning the rank order.
    *
    * Ranks ride the [[RankOps.prefixSums]] kernel's two private pieces —
    * its pinned range bucketing and its exclusive offsets — so a 10⁹-row
    * prediction table never passes through a single-partition exchange.
    * Σ globalRank(pos) = Σ_buckets [ localRankSum(pos) + nPos(bucket)·offset(bucket) ],
    * so the big frame is aggregated per range bucket FIRST and the global
    * rank is never joined back onto it.
    */
  def aurocRankSum(df: DataFrame, score: Column, label: Column, tie: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(label.cast("long").as("__lab"), score.as("__s"), tie.as("__t"))
    val order = Seq(col("__s").asc, col("__t").asc)
    val w = Window.partitionBy(col("__gr_pid")).orderBy(order: _*)
    val perBucket = RankOps.pinnedRangeBuckets(base, order)
      .withColumn("__lrn", row_number().over(w).cast("long"))
      .groupBy(col("__gr_pid"))
      .agg(
        count(lit(1)).as("__bn"),
        sum(col("__lab")).as("__bpos"),
        sum(when(col("__lab") === 1, col("__lrn")).otherwise(0L)).as("__blsum"))
    RankOps.exclusiveOffsets(perBucket, Nil, Seq("__bn"))
      .agg(
        sum(col("__blsum") + col("__bpos") * col("__bn_off")).as("__rsum"),
        sum(col("__bpos")).as("__npos"),
        sum(col("__bn")).as("__n"))
      .select(round(
        (col("__rsum") - col("__npos") * (col("__npos") + 1) / 2).cast("double") /
          (col("__npos") * (col("__n") - col("__npos"))), 6).as("auc"))
  }

  /** A20 — exact average precision (area under the precision-recall curve in
    * the step formulation: AP = Σᵢ ΔRᵢ·Pᵢ over distinct thresholds, ties
    * grouped — the `sklearn.metrics.average_precision_score` definition the
    * reference's eval path exposes alongside AUROC, `evaluation.py:95-108`).
    *
    * Distributed shape: one hash aggregate to the distinct-score frame
    * (|thresholds| rows — unbounded at prediction-table scale, so never one
    * task), then cumulative TP and cumulative N descending by score via ONE
    * pinned range shuffle ([[RankOps.globalCumsums]]), then a scalar sum.
    *
    * Cross-engine / partition-count exactness: each term npᵢ·tpᵢ/alᵢ is a
    * correctly-rounded double (identical everywhere), but a plain float SUM
    * over ~|thresholds| terms is summation-order-sensitive at ~1e-10 — enough
    * to straddle a ROUND(…,6) boundary between engines or AQE modes. The
    * terms are therefore accumulated in FIXED POINT: each rounded to integer
    * nanos and summed as longs (exact, order-free), with the two divisions
    * applied once at the end. DuckDB mirrors the same algebra.
    */
  def averagePrecision(df: DataFrame, score: Column, label: Column): DataFrame = {
    val g = df.groupBy(score.as("__s"))
      .agg(sum(label.cast("long")).as("__np"), count(lit(1)).as("__nt"))
    val c = RankOps.globalCumsums(g, Seq(col("__s").desc),
      Seq(col("__np") -> "__tp", col("__nt") -> "__al"))
    val nanos = round(col("__np") * col("__tp") / col("__al") * 1e9, 0).cast("long")
    c.agg(round(sum(nanos) / 1e9 / sum(col("__np")), 6).as("auprc"))
  }

  /** A22 — decile gains/lift table: rank by score descending, cut into
    * `buckets` exact-integer strata ((rn−1)·b DIV n — no double rounding at
    * any scale, the `ml09` formula), then per-stratum positive rate and
    * lift against the base rate. Ranks come from
    * [[RankOps.globalRowNumber]], so a billion-row prediction table never
    * passes through one task; every emitted double is a single
    * correctly-rounded division — engine- and partitioning-exact.
    */
  def gainsTable(df: DataFrame, score: Column, label: Column, tie: Column,
      buckets: Int = 10): DataFrame = {
    val base = df.select(score.as("__s"), label.cast("long").as("__y"), tie.as("__t"))
    val rn = RankOps.globalRowNumber(base, Seq(col("__s").desc, col("__t").asc), "__rn")
    val tot = base.agg(count(lit(1)).as("__n"), sum(col("__y")).as("__p"))
    rn.crossJoin(broadcast(tot))
      .withColumn("decile", expr(s"CAST(((__rn - 1) * $buckets) DIV __n AS INT)"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        round(sum(col("__y")).cast("double") / count(lit(1)), 6).as("pos_rate"),
        round((sum(col("__y")).cast("double") / count(lit(1))) /
          (max(col("__p")).cast("double") / max(col("__n"))), 6).as("lift"))
  }

  /** ROC curve points: (fpr, tpr) at every distinct score threshold,
    * descending — the curve behind [[aurocRankSum]]'s scalar, for
    * threshold selection and operating-point reports.
    *
    * Same distributed shape as [[averagePrecision]]: one hash aggregate to
    * the distinct-score frame, cumulative TP and total via ONE pinned range
    * shuffle ([[RankOps.globalCumsums]]), a 1-row (P, N) broadcast, then
    * per-threshold correctly-rounded long/long divisions — engine- and
    * partitioning-exact. Output is |distinct scores| rows (bound it
    * upstream by quantizing scores if the support is pathological).
    */
  def rocPoints(df: DataFrame, score: Column, label: Column): DataFrame = {
    val g = df.groupBy(score.as("threshold"))
      .agg(sum(label.cast("long")).as("__np"), count(lit(1)).as("__nt"))
    val c = RankOps.globalCumsums(g, Seq(col("threshold").desc),
      Seq(col("__np") -> "__tp", col("__nt") -> "__al"))
    val tot = c.agg(sum(col("__np")).as("__p"), sum(col("__nt")).as("__n"))
    c.crossJoin(broadcast(tot))
      .select(col("threshold"),
        round(col("__tp").cast("double") / col("__p"), 6).as("tpr"),
        round((col("__al") - col("__tp")).cast("double") /
          (col("__n") - col("__p")), 6).as("fpr"))
  }

  /** DQ5 — two-sample Kolmogorov–Smirnov statistic: D = max |F̂ₐ(v) − F̂ᵦ(v)|
    * over the pooled support, the standard nonparametric drift gauge next to
    * [[psi]] (which needs binning; KS does not).
    *
    * Distributed shape: per-distinct-value counts for both samples in one
    * aggregate, both empirical CDFs via ONE pinned range shuffle
    * ([[RankOps.globalCumsums]]), then a scalar max. Bit-exact across
    * engines and partitionings: every CDF value is a correctly-rounded
    * long/long division and max is order-insensitive.
    */
  def ksStatistic(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val g = df.filter(value.isNotNull)
      .groupBy(value.as("__v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("__a"),
        sum(when(inA, 0L).otherwise(1L)).as("__b"))
    val c = RankOps.globalCumsums(g, Seq(col("__v").asc),
      Seq(col("__a") -> "__ca", col("__b") -> "__cb"))
    val tot = c.agg(sum(col("__a")).as("__na"), sum(col("__b")).as("__nb"))
    c.crossJoin(broadcast(tot))
      .agg(round(max(abs(
        col("__ca").cast("double") / col("__na") -
          col("__cb").cast("double") / col("__nb"))), 6).as("ks"))
  }

  /** Gini coefficient of a non-negative integer-valued distribution — the
    * concentration/inequality gauge (what share of corpus tokens sits in a
    * few sources? of revenue in a few customers?). Exact rank formula on
    * ascending order: G = 2·Σ rᵢxᵢ / (n·Σxᵢ) − (n+1)/n.
    *
    * The global rank comes from `RankOps.globalRowNumber` (two-phase — the
    * fact table is never sorted into one partition), and with integer `x`
    * both Σxᵢ and Σ rᵢxᵢ are exact BIGINT sums: the closing arithmetic is
    * a fixed sequence of correctly-rounded double ops, engine- and
    * partition-exact. Ties are rank-permutation-invariant (equal x).
    * Overflow: Σ r·x caps near 2^63 around ~10⁹ rows of ~10⁹-sized values;
    * beyond that widen to DECIMAL.
    */
  def giniIndex(df: DataFrame, value: Column, tie: Column): DataFrame = {
    val ranked = RankOps.globalRowNumber(
      df.select(value.cast("long").as("__x"), tie.as("__t")),
      Seq(col("__x").asc, col("__t").asc), "__rn")
    val g = ranked.agg(count(lit(1)).as("n"), sum(col("__x")).as("__s"),
      sum(col("__rn") * col("__x")).as("__si"))
    val nd = col("n").cast("double")
    g.select(col("n"), col("__s").as("total"),
      round(lit(2.0) * col("__si") / (nd * col("__s")) -
        (nd + lit(1.0)) / nd, 6).as("gini"))
  }

  /** Benford first-digit conformance — the classic fabricated-numbers
    * smell test for ingested financial/measurement columns: observed share
    * of each leading significant digit vs log₁₀(1+1/d), with the per-digit
    * χ² contribution (n·(obs−exp)²/exp).
    *
    * The leading digit comes from the value's SHORTEST DECIMAL
    * REPRESENTATION (first [1-9] of the string cast), not from
    * `floor(v/10^floor(log10 v))` — shortest-repr digits are a pure
    * function of the double's bits (identical across engines), whereas a
    * libm log10 at an exact power of ten may land an ulp low and shift the
    * digit. Nulls, zeros and signs are ignored.
    *
    * Scale: one hash aggregate to ≤9 groups + a 1-row total broadcast.
    */
  def benfordDigits(df: DataFrame, value: Column): DataFrame = {
    val digit = regexp_extract(value.cast("string"), "[1-9]", 0)
    val counts = df.filter(value.isNotNull && digit =!= "")
      .groupBy(digit.cast("int").as("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("__tot"))
    val obs = col("n").cast("double") / col("__tot")
    val exp_ = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        round(obs, 6).as("obs_share"),
        round(exp_, 6).as("exp_share"),
        round(col("__tot") * (obs - exp_) * (obs - exp_) / exp_, 6)
          .as("chi2_part"))
  }

  /** McNemar's paired test — "are these two classifiers DIFFERENT on the
    * same examples", the companion question to a34's "do they agree":
    * discordant counts b (only model A correct) and c (only model B
    * correct), continuity-corrected χ² = (|b − c| − 1)²/(b + c). One
    * aggregate pass over exact integer cells; χ² is a single rounded
    * division (null when b + c = 0 — no discordant pairs, no evidence).
    */
  def mcnemar(df: DataFrame, truth: Column, predA: Column,
      predB: Column): DataFrame = {
    val aOk = predA === truth
    val bOk = predB === truth
    df.agg(
        count(lit(1)).as("n"),
        sum(when(aOk && !bOk, 1L).otherwise(0L)).as("b"),
        sum(when(!aOk && bOk, 1L).otherwise(0L)).as("c"))
      .select(col("n"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          round(pow(abs(col("b") - col("c")) - lit(1), 2).cast("double") /
            (col("b") + col("c")), 6)).as("chi2"))
  }

  /** AUROC with the DeLong standard error and 95% CI — the version of a15
    * a model report actually ships (an AUC without an interval is a point
    * guess). DeLong's estimator from the placement values:
    *
    *   V10_i = Pr̂(s_neg < s_i) + ½Pr̂(s_neg = s_i)   (per positive i)
    *   V01_j = Pr̂(s_pos > s_j) + ½Pr̂(s_pos = s_j)   (per negative j)
    *   SE²   = S10/m + S01/n     (sample variances of V10, V01)
    *
    * Distributed form: positives/negatives at the same score share one
    * placement value, so everything reduces to the distinct-score frame
    * with per-score (cntP, cntN) and BOTH cumulative counts from ONE
    * pinned range shuffle ([[RankOps.globalCumsums]] — the a20/dq05
    * shape). With A_v = 2·cumN(v) − cntN(v) = 2n·V10 and
    * B_v = 2·(m − cumP(v)) + cntP(v) = 2m·V01, every sufficient statistic
    * (Σ cntP·A, Σ cntP·A², Σ cntN·B, Σ cntN·B²) is an exact integer
    * summed as DECIMAL(38,0) — order-free, engine-exact; only the closing
    * SE/CI assembly is floating point, mirrored op-for-op by the oracle.
    * AUC = Σ cntP·A / (2nm) reproduces a15's rank-sum value exactly.
    */
  def aurocDeLong(df: DataFrame, score: Column, label: Column): DataFrame = {
    val rows = df.select(score.as("__s"), label.cast("int").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
    // cached: two consumers (the cumsum machinery and the totals scalar) —
    // one distinct-score aggregation over the fact rows, not two
    val counts = rows.groupBy(col("__s")).agg(
      sum(when(col("__y") === 1, 1L).otherwise(0L)).as("__cp"),
      sum(when(col("__y") === 1, 0L).otherwise(1L)).as("__cn"))
      .localCheckpoint(false)
    val cum = RankOps.globalCumsums(counts, Seq(col("__s").asc),
      Seq(col("__cp") -> "__cumP", col("__cn") -> "__cumN"))
    val tot = counts.agg(sum("__cp").as("__m"), sum("__cn").as("__n"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val a = lit(2) * col("__cumN") - col("__cn")
    val b = lit(2) * (col("__m") - col("__cumP")) + col("__cp")
    val mD = col("n_pos").cast("double")
    val nD = col("n_neg").cast("double")
    val theta = col("__sa").cast("double") / (lit(2.0) * nD * mD)
    val s10 = (col("__saa").cast("double") / (lit(4.0) * nD * nD) - mD * theta * theta) /
      (mD - 1.0)
    val s01 = (col("__sbb").cast("double") / (lit(4.0) * mD * mD) - nD * theta * theta) /
      (nD - 1.0)
    val se = sqrt(s10 / mD + s01 / nD)
    cum.crossJoin(broadcast(tot))
      .agg(
        max(col("__m")).as("n_pos"), max(col("__n")).as("n_neg"),
        sum(dec(col("__cp")) * a).as("__sa"),
        sum(dec(col("__cp")) * a * a).as("__saa"),
        sum(dec(col("__cn")) * b * b).as("__sbb"))
      .select(col("n_pos"), col("n_neg"),
        round(theta, 6).as("auc"),
        round(se, 6).as("se"),
        round(theta - lit(1.959964) * se, 6).as("ci_lo"),
        round(theta + lit(1.959964) * se, 6).as("ci_hi"))
  }

  /** Deterministic Poisson(1) bootstrap CI for a mean — the large-corpus
    * eval primitive (metric error bars without a second pass over raw
    * data, Efron's poisson-bootstrap form used when n is unknown to the
    * mapper). Replica weights come from two CHAINED LCG steps on
    * (id, replica) — the replica index passes through the multiplier, so
    * consecutive replicas decorrelate (an additive-only b would shift u
    * by ~b·10⁻⁵ and freeze the weights):
    *   h₁ = (id mod M)·1103515245 + 12345 mod M
    *   u  = ((h₁ + b)·1103515245 + 12345 mod M) / M,  M = 2³¹−1
    * (operands ≤ 2.1·10⁹ · 1.1·10⁹ < 2⁶³ at ANY id — no overflow on
    * either engine), mapped through the exact Poisson(1)
    * inverse CDF ladder — so the B·n weight matrix is a pure function of
    * the data, reproducible across engines, partitionings and runs (the
    * repo-wide determinism contract; a `rand()` bootstrap would be none
    * of that). One explode×B map-side pass → per-replica exact integer
    * sums (DECIMAL(38,0) — order-free) → B-row replica frame → exact
    * type-7 percentile aggregate. At 100 TB the ×B row expansion streams
    * through the partial aggregate (B·P groups), never materializing.
    *
    * `valueCents` must be integer-valued (callers quantize — the suite's
    * cents convention).
    */
  def bootstrapMeanCi(df: DataFrame, id: Column, valueCents: Column,
      b: Int = 200, loQ: Double = 0.025, hiQ: Double = 0.975): DataFrame = {
    val m = 2147483647L
    // pmod, not %: a NEGATIVE id under C-style % yields a negative __idm,
    // negative h1, u < 0 — every Poisson threshold test fails and the row
    // silently gets weight 0 in ALL replicas (a biased CI with no error)
    val reps = df.select(pmod(id, lit(m)).as("__idm"),
        valueCents.cast("long").as("__cents"))
      .filter(col("__cents").isNotNull)
      .select(col("__idm"), col("__cents"),
        explode(sequence(lit(1), lit(b))).as("__b"))
    val h1 = (col("__idm") * 1103515245L + 12345L) % m
    val u = (((h1 + col("__b")) * 1103515245L + 12345L) % m)
      .cast("double") / lit(m.toDouble)
    // Poisson(1) inverse CDF: cumulative e⁻¹·Σ 1/k! — exact literals
    val w = when(u < 0.367879441, 0L).when(u < 0.735758882, 1L)
      .when(u < 0.919698603, 2L).when(u < 0.981011843, 3L)
      .when(u < 0.996340153, 4L).otherwise(5L)
    val perReplica = reps.withColumn("__w", w)
      .groupBy(col("__b"))
      .agg(sum((col("__w") * col("__cents")).cast("decimal(38,0)")).as("__s"),
        sum(col("__w")).as("__n"))
      .filter(col("__n") > 0)
      .select(col("__b"),
        (col("__s").cast("double") / col("__n") / 100.0).as("__mean"))
    perReplica.agg(
      count(lit(1)).as("n_replicas"),
      round(percentile(col("__mean"), lit(loQ)), 6).as("ci_lo"),
      round(percentile(col("__mean"), lit(hiQ)), 6).as("ci_hi"))
  }

  /** Hosmer–Lemeshow goodness-of-fit over fixed-width probability bins
    * (the [[calibrationBins]] binning convention — documented divergence
    * from the rank-decile textbook form, which would force a global sort):
    * χ² = Σ_g (O_g − E_g)² / (E_g·(1 − E_g/n_g)), O = observed positives,
    * E = Σ p̂ expected. The significance-test sibling of a14b's ECE.
    *
    * Exactness: probabilities sum as exact integer micros per bin, each
    * bin's χ² term is ONE double correctly rounded to integer nanos and
    * summed as BIGINT (the fixed-point contract), so the ≤`bins`-way sum
    * order is unobservable. Degenerate bins (E = 0 or E = n, where the
    * term divides by zero) are excluded from both χ² and the df count —
    * the standard practice. One hash aggregate + one ≤`bins`-row close.
    */
  def hosmerLemeshow(df: DataFrame, prob: Column, label: Column,
      bins: Int): DataFrame = {
    val perBin = df
      .withColumn("__bin", least(floor(prob * bins), lit(bins - 1)).cast("long"))
      .withColumn("__pq", round(prob * 1e6, 0).cast("long"))
      .withColumn("__y", label.cast("long"))
      .groupBy("__bin")
      .agg(count(lit(1)).as("__ng"), sum(col("__y")).as("__og"),
        sum(col("__pq")).as("__eq"))
    val valid = col("__eq") > 0 && col("__eq") < col("__ng") * lit(1000000L)
    val e = col("__eq").cast("double") / 1e6
    val term = (col("__og").cast("double") - e) * (col("__og").cast("double") - e) /
      (e * (lit(1.0) - e / col("__ng").cast("double")))
    perBin.agg(
        sum(when(valid, 1L).otherwise(0L)).as("n_bins"),
        sum(col("__ng")).as("n"),
        sum(when(valid, round(term * 1e9, 0).cast("long"))).as("__chifp"))
      .select(col("n_bins"), col("n"),
        round(col("__chifp") / 1e9, 6).as("hl_chi2"),
        (col("n_bins") - 2).as("df"))
  }

  /** Split-conformal calibration (Vovk et al.; Angelopoulos & Bates 2023's
    * selective-prediction recipe): the 1−α quantile-with-correction of the
    * calibration slice's nonconformity scores, τ = the ⌈(n_cal+1)(1−α)⌉-th
    * smallest score, then the empirical coverage P(score ≤ τ) on the
    * held-out slice — the finite-sample-valid threshold an abstention gate
    * runs with.
    *
    * The order statistic is EXACT via the two-phase global rank (never a
    * single-partition sort); ties break on `tieCol` so the k-th row is
    * engine-portable. When k exceeds n_cal (tiny calibration sets), τ is
    * null and coverage is 1 by convention (the threshold is vacuous).
    * Everything else is integer counts and one closing division.
    * Output: ONE row `(n_cal, k, tau, n_test, n_covered, coverage)` — or
    * NO row when the held-out slice is empty: a global aggregate would
    * otherwise mint a row with null coverage where a GROUP-BY oracle emits
    * zero rows, and a coverage report over nothing is unreportable anyway
    * (the [[groupConformal]] inner-close convention, applied here).
    */
  def splitConformal(df: DataFrame, score: Column, tieCol: Column,
      isCalib: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    // alpha on the 1e-6 grid so k = ceil((n+1)(1-alpha)) is EXACT integer
    // arithmetic (ceil(a*m/q) = (a*m + q-1) div q) — never a float ceil
    // teetering on an integer boundary
    val m = math.round((1 - alpha) * 1e6)
    val base = df.filter(score.isNotNull)
      .select(score.cast("double").as("__s"), tieCol.as("__t"),
        isCalib.cast("boolean").as("__c"))
    val cal = base.filter(col("__c"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
      .withColumn("k", expr(s"((n_cal + 1) * ${m}L + 999999L) div 1000000L"))
    val ranked = graft.operators.RankOps.globalRowNumber(cal,
      Seq(col("__s").asc, col("__t").asc), "__rn")
    val tau = ranked.crossJoin(broadcast(nCal))
      .filter(col("__rn") === col("k"))
      .select(col("__s").as("tau")) // EMPTY when k > n_cal: vacuous gate
    val test = base.filter(!col("__c"))
    test.join(broadcast(tau), lit(true), "left")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("tau").isNull || col("__s") <= col("tau"), 1L)
          .otherwise(0L)).as("n_covered"),
        (max(col("tau")) + lit(0.0)).as("tau"))
      .crossJoin(broadcast(nCal))
      .filter(col("n_test") > 0)
      .select(col("n_cal"), col("k"), col("tau"),
        col("n_test"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage"))
  }

  /** Mondrian (group-conditional) split conformal — [[splitConformal]]
    * per category, the form that actually holds coverage per slice when
    * score distributions differ across groups (Vovk's taxonomy-conditional
    * validity). Everything is group-local: the order statistic is a
    * per-group window rank — no GLOBAL sort and no broadcast of anything
    * data-sized, but the rank partitioning is the group key alone, so one
    * dominant group's calibration slice does land on a single partition.
    * That bound is per-group, not per-corpus: it holds as long as no single
    * group's calibration rows exceed an executor partition — for a
    * low-cardinality, heavily skewed group column, reach for the two-phase
    * [[graft.operators.RankOps.globalRowNumber]] machinery keyed by
    * (group, range bucket) instead. Groups present in only one
    * slice drop out (inner close) — a τ without test rows, or test rows
    * without a τ contract, is unreportable either way.
    * Output: one row per group
    * `(<group>, n_cal, k, tau, n_test, n_covered, coverage)`.
    */
  def groupConformal(df: DataFrame, group: String, score: Column,
      tieCol: Column, isCalib: Column, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val m = math.round((1 - alpha) * 1e6)
    val base = df.filter(score.isNotNull)
      .select(col(group).as("__g"), score.cast("double").as("__s"),
        tieCol.as("__t"), isCalib.cast("boolean").as("__c"))
    val cal = base.filter(col("__c"))
    val stats = cal.groupBy("__g").agg(count(lit(1)).as("n_cal"))
      .withColumn("k", expr(s"((n_cal + 1) * ${m}L + 999999L) div 1000000L"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(col("__s").asc, col("__t").asc)
    val tau = cal.withColumn("__rn", row_number().over(w).cast("long"))
      .join(stats, Seq("__g"))
      .filter(col("__rn") === col("k"))
      .select(col("__g"), col("__s").as("tau"))
    val test = base.filter(!col("__c"))
    val cov = test.join(tau, Seq("__g"), "left")
      .groupBy("__g")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("tau").isNull || col("__s") <= col("tau"), 1L)
          .otherwise(0L)).as("n_covered"),
        (max(col("tau")) + lit(0.0)).as("tau"))
    stats.join(cov, Seq("__g"))
      .select(col("__g").as(group), col("n_cal"), col("k"), col("tau"),
        col("n_test"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test").cast("double"), 6)
          .as("coverage"))
  }
}
