package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-cleaning operators (SURVEY.md §2.4 A5/A6, §2.2 P9-P12).
  *
  * Both heavyweight cleaners are two-pass over the same grouping key: a
  * per-group statistics aggregate (mode share / percentiles) joined back
  * onto the fact table. The stats side is |distinct keys| rows — usually
  * small, but NOT provably bounded (a per-item-id stats frame at 100 TB is
  * itself huge), so there is no forced broadcast hint: AQE broadcasts at
  * runtime when the stats side is actually under the threshold, and falls
  * back to a shuffle join keyed on the same column otherwise.
  */
object CleaningOps {

  /** A5 — majority-category dominance filter (reference UoM cleaning,
    * `uom_conversion.py:11-28`): per `key`, find the modal `category`; if the
    * group has more than one distinct category AND the modal share exceeds
    * `cutoff`, drop the non-modal rows; otherwise keep the group untouched.
    * Mode tie-break: higher count, then lexicographically smaller category
    * (the reference inherits pandas' value_counts order; we pin it).
    * A NULL category is a category of its own (it can be the mode), and
    * rows with a NULL `key` pass through untouched.
    */
  def dominantCategoryFilter(df: DataFrame, key: String, category: String, cutoff: Double): DataFrame = {
    // the struct minimum is the mode: higher count, then smaller category
    // (struct order puts a null category first, as `asc` does)
    val stats = df.groupBy(key, category).agg(count(lit(1)).as("__cnt"))
      .groupBy(key)
      .agg(min(struct((-col("__cnt")).as("n"), col(category).as("c"))).as("__top"),
        sum(col("__cnt")).as("__tot"), count(lit(1)).as("__ndist"))
      .select(col(key), col("__top.c").as("__mode"),
        ((-col("__top.n")).cast("double") / col("__tot")).as("__share"), col("__ndist"))
    df.join(stats, Seq(key), "left")
      .filter(col(key).isNull ||
        !(col("__ndist") > 1 && col("__share") > cutoff && !(col(category) <=> col("__mode"))))
      .drop("__mode", "__share", "__ndist")
  }

  /** Exact per-group type-7 percentile bounds (`numpy.percentile` /
    * `QUANTILE_CONT` semantics: h = (n−1)·p, linear interpolation between
    * the values at ranks ⌊h⌋+1 and ⌊h⌋+2).
    *
    * Computed sort-based instead of via the `percentile` aggregate: the
    * builtin is an ObjectHashAggregate that collects a value→count map per
    * group and sorts it single-threaded at eval time — measured ~5× slower
    * than ranking here, and memory-unbounded for high-cardinality values.
    * This form is one shuffle keyed on `key`, one Window node (`row_number`
    * and a whole-partition `count` on the same ordered spec) and a hash
    * aggregate that picks out the two boundary ranks per percentile.
    */
  private def percentileBounds(df: DataFrame, key: String, value: String,
      lo: Double, hi: Double): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(value))
    val ranked = df.select(col(key), col(value))
      .filter(col(value).isNotNull) // the builtin aggregate ignores nulls too
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long"))
    def pick(p: Double, suffix: String) = {
      val h = (col("__n") - 1).cast("double") * lit(p)
      val fl = floor(h).cast("long")
      Seq(
        sum(when(col("__r") === fl + 1, col(value))).as(s"__vl$suffix"),
        sum(when(col("__r") === fl + 2, col(value))).as(s"__vh$suffix"),
        max(h - fl.cast("double")).as(s"__f$suffix"))
    }
    // lower + frac·(higher − lower): the exact expression both the Spark
    // builtin and QUANTILE_CONT evaluate, so results are bit-identical
    def interp(suffix: String) =
      col(s"__vl$suffix") +
        col(s"__f$suffix") * (coalesce(col(s"__vh$suffix"), col(s"__vl$suffix")) - col(s"__vl$suffix"))
    val picks = pick(lo, "_lo") ++ pick(hi, "_hi")
    ranked.groupBy(key).agg(picks.head, picks.tail: _*)
      .select(col(key), interp("_lo").as("__lo"), interp("_hi").as("__hi"))
  }

  /** Public face of [[percentileBounds]]: exact type-7 per-group quantile
    * PAIR — the scale-right form for per-group quantiles (one keyed
    * shuffle, rank windows, an aggregate; no per-group value buffer like
    * the `percentile` ObjectHashAggregate would hold).
    *
    * Exact-vs-approx switch: this form still pays a full per-group SORT
    * per monitored column; where a monitor runs over 100 TB daily and a
    * bounded rank error is acceptable, swap in the schema-compatible
    * [[groupQuantilesApprox]] (dq12's documented scale path). The exact
    * form remains the oracle-gate implementation.
    */
  def groupQuantiles(df: DataFrame, key: String, value: String,
      lo: Double, hi: Double): DataFrame =
    percentileBounds(df, key, value, lo, hi)
      .select(col(key), col("__lo").as("q_lo"), col("__hi").as("q_hi"))

  /** Sketch-based drop-in for [[groupQuantiles]] — same (key, q_lo, q_hi)
    * schema, KLL/GK-style `percentile_approx` underneath: one hash
    * aggregate with a BOUNDED sketch partial per group instead of a full
    * per-group sort, rank error ≤ n/accuracy. Two documented divergences
    * from the exact form (why it's spec-gated by an error-bound property
    * in ApproxSpec rather than a DuckDB hash oracle): the result is an
    * actual data point (no type-7 interpolation), and sketch merges are
    * not bit-deterministic across partitionings.
    */
  def groupQuantilesApprox(df: DataFrame, key: String, value: String,
      lo: Double, hi: Double, accuracy: Int = 10000): DataFrame =
    df.filter(col(value).isNotNull)
      .groupBy(key).agg(
        percentile_approx(col(value), lit(lo), lit(accuracy)).as("q_lo"),
        percentile_approx(col(value), lit(hi), lit(accuracy)).as("q_hi"))

  /** A6 — per-group percentile clamp (reference outlier removal,
    * `outlier_removal.py:11-37`, impute branch): clamp `value` into
    * `[pct(lo), pct(hi)]` computed per `key` with exact type-7 linear
    * interpolation (matching `numpy.percentile`). Rows with a NULL `key`
    * pass through unclamped.
    */
  def percentileClamp(df: DataFrame, key: String, value: String, lo: Double, hi: Double): DataFrame =
    df.join(percentileBounds(df, key, value, lo, hi), Seq(key), "left")
      .withColumn(value, least(greatest(col(value), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")

  /** A6 (drop branch) — null-out values outside the per-group percentile
    * band and drop those rows (`outlier_removal.py:20-21`). Rows with a
    * NULL `key` are kept: they belong to no group with a band.
    */
  def percentileDrop(df: DataFrame, key: String, value: String, lo: Double, hi: Double): DataFrame =
    df.join(percentileBounds(df, key, value, lo, hi), Seq(key), "left")
      .filter(col(key).isNull || (col(value) >= col("__lo") && col(value) <= col("__hi")))
      .drop("__lo", "__hi")

  /** Group-relative quantile gate (corpus curation: "keep documents at or
    * above their domain's p-quantile of a quality signal"). Same two-pass
    * shape as the clamp: exact type-7 quantile per group, joined back
    * AQE-sized, filter is a plain predicate. Rows with a NULL `key` are
    * kept.
    */
  def quantileGate(df: DataFrame, key: String, value: String, p: Double): DataFrame =
    df.join(percentileBounds(df, key, value, p, p).select(col(key), col("__lo").as("__thr")),
        Seq(key), "left")
      .filter(col(key).isNull || col(value) >= col("__thr"))
      .drop("__thr")

  /** Robust per-group outlier flags via median/MAD z-score: |x − med| /
    * (1.4826·MAD) > cutoff (1.4826 rescales MAD to σ under normality —
    * standard robust-statistics constant). Two grouped exact-median passes
    * (values, then absolute deviations), each the same ranked-window
    * aggregate as the percentile clamp; no global sort, no driver stats.
    * MAD==0 groups (over half the values identical) flag nothing.
    */
  def madOutliers(df: DataFrame, key: String, value: String, cutoff: Double): DataFrame = {
    val med = percentileBounds(df, key, value, 0.5, 0.5)
      .select(col(key), col("__lo").as("__med"))
    val withDev = df.join(med, Seq(key), "left")
      .withColumn("__absdev", abs(col(value) - col("__med")))
    val mad = percentileBounds(withDev, key, "__absdev", 0.5, 0.5)
      .select(col(key), col("__lo").as("__mad"))
    withDev.join(mad, Seq(key), "left")
      .withColumn("__z",
        when(col("__mad") > 0, col("__absdev") / (lit(1.4826) * col("__mad"))))
      // flag from the UNROUNDED score (a boundary value must not round
      // itself across the cutoff); round only the reported column
      .withColumn("is_outlier", when(col("__z") > cutoff, 1).otherwise(0))
      .withColumn("robust_z", round(col("__z"), 6))
      .drop("__med", "__absdev", "__mad", "__z")
  }

  /** Dictionary fuzzy normalization: map each dirty string to its closest
    * canonical form within `maxDist` edits — the "collapse mis-keyed
    * category/unit spellings" cleaner (the reference hand-maintains CSV
    * alias maps for the same job; edit distance generalizes them to unseen
    * typos).
    *
    * The dictionary is a LITERAL array exploded per row — no join operator
    * at all, so the plan sweep's no-cartesian invariant holds by
    * construction; cost is |rows|·|dict| codegen'd `levenshtein` calls.
    * Best match = (min distance, then lexicographically first canon) via a
    * min(struct) aggregate — deterministic, no window. Rows beating
    * `maxDist` nowhere yield a null canon (callers route them to review).
    *
    * Scale: dict must be modest (it rides in the task binary — thousands,
    * not millions); for dictionary-sized dictionaries use a blocked
    * equi-join on (length band, first char) instead.
    */
  def fuzzyNormalize(df: DataFrame, dirty: Column, dict: Seq[String],
      maxDist: Int): DataFrame = {
    val cand = explode(lit(dict.toArray))
    val scored = df.withColumn("__cand", cand)
      .withColumn("__dist", levenshtein(dirty, col("__cand")))
    val best = scored
      .groupBy(dirty.as("dirty"))
      .agg(min(when(col("__dist") <= maxDist,
        struct(col("__dist"), col("__cand")))).as("__best"))
    best.select(col("dirty"),
      col("__best.__cand").as("canon"),
      col("__best.__dist").as("dist"))
  }
}
