package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-shaped operators (SURVEY.md §2.5).
  *
  * The reference implements all of these with sorted group iteration or
  * pandas ffill/bfill; each is one Spark window spec. Windows over the same
  * `(partition, order)` pair share a single sort+shuffle — the combinators
  * below deliberately reuse one spec so stacked imputation passes stay in
  * one exchange.
  */
object WindowOps {

  private def spec(partKeys: Seq[String], orderCols: Seq[String]) =
    Window.partitionBy(partKeys.map(col): _*).orderBy(orderCols.map(c => col(c).asc): _*)

  /** W3 — forward fill: last non-null value at or before the current row
    * (reference `df.ffill()`, `data_generation_icu.py:484-494`).
    */
  def forwardFill(df: DataFrame, partKeys: Seq[String], orderCols: Seq[String],
      value: Column, name: String): DataFrame = {
    val w = spec(partKeys, orderCols).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(name, last(value, ignoreNulls = true).over(w))
  }

  /** W4 — backward fill: first non-null value at or after the current row
    * (reference `df.bfill()`, `data_generation_icu.py:405-411`).
    */
  def backwardFill(df: DataFrame, partKeys: Seq[String], orderCols: Seq[String],
      value: Column, name: String): DataFrame = {
    val w = spec(partKeys, orderCols).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    df.withColumn(name, first(value, ignoreNulls = true).over(w))
  }

  /** Linear time-interpolation of interior nulls — the clinical
    * time-series imputation between ffill and mean-impute (the reference
    * offers ffill and mean; linear interp is the standard third option a
    * scale pipeline adds): each null between two non-null neighbors
    * becomes `prev + (next − prev) · (t − t_prev)/(t_next − t_prev)` on
    * an epoch-microsecond axis; leading/trailing nulls (no neighbor on
    * one side) stay null — `forwardFill`/`backwardFill` compose on top if
    * a caller wants edge fill.
    *
    * Both neighbor lookups are IGNORE-NULLS window functions over the one
    * `(partition, order)` spec, so the whole operator is a single sort
    * exchange with two streaming frames — state bounded per entity, no
    * self-join, no skew beyond the entity's own row count.
    */
  def linearInterpolate(df: DataFrame, partKeys: Seq[String],
      orderCols: Seq[String], ts: Column, value: Column,
      name: String): DataFrame =
    linearInterpolateAxis(df, partKeys, orderCols, unix_micros(ts), value, name)

  /** Axis-generic core of [[linearInterpolate]]: `axis` is any numeric
    * position column (epoch micros, a bucket index, a depth) — the
    * resample-then-interpolate pipelines interpolate over bucket ordinals,
    * not raw timestamps.
    */
  def linearInterpolateAxis(df: DataFrame, partKeys: Seq[String],
      orderCols: Seq[String], axis: Column, value: Column,
      name: String): DataFrame = {
    val t = axis
    val pt = struct(t.as("t"), value.as("v"))
    val before = spec(partKeys, orderCols)
      .rowsBetween(Window.unboundedPreceding, -1)
    val after = spec(partKeys, orderCols)
      .rowsBetween(1, Window.unboundedFollowing)
    val prev = last(when(value.isNotNull, pt), ignoreNulls = true).over(before)
    val next = first(when(value.isNotNull, pt), ignoreNulls = true).over(after)
    val frac = (t - col("__li_p.t")).cast("double") /
      (col("__li_n.t") - col("__li_p.t")).cast("double")
    df.withColumn("__li_p", prev).withColumn("__li_n", next)
      .withColumn(name,
        when(value.isNotNull, value.cast("double"))
          .when(col("__li_p").isNotNull && col("__li_n").isNotNull,
            // degenerate axis (equal timestamps) → midpoint, not 0/0
            when(col("__li_n.t") === col("__li_p.t"),
              (col("__li_p.v") + col("__li_n.v")) / 2.0)
              .otherwise(col("__li_p.v") +
                (col("__li_n.v") - col("__li_p.v")) * frac)))
      .drop("__li_p", "__li_n")
  }

  /** Exact trailing-k-row median per entity — the robust smoother for
    * noisy clinical / telemetry series (a rolling mean is one artifact
    * spike away from useless; the reference smooths with pandas
    * `.rolling(...).median()`). `percentile(v, 0.5)` is Spark's EXACT
    * percentile aggregate evaluated over a bounded ROWS frame, so state
    * per window position is k values — partition-keyed, one sort
    * exchange, no approximation.
    */
  def rollingMedian(df: DataFrame, partKeys: Seq[String], orderCols: Seq[String],
      value: Column, k: Int, name: String): DataFrame = {
    val w = spec(partKeys, orderCols).rowsBetween(-(k - 1), Window.currentRow)
    df.withColumn(name, percentile(value, lit(0.5)).over(w))
  }

  /** Trailing-k-row Pearson correlation between two series per entity —
    * the rolling co-movement monitor (is this signal still tracking its
    * driver? is a sensor drifting against the clock?). Six running sums
    * (n, Σx, Σy, Σxy, Σx², Σy²) over ONE bounded ROWS frame on one sort
    * exchange; the closing assembly is the textbook
    * (nΣxy − ΣxΣy)/√((nΣx² − (Σx)²)(nΣy² − (Σy)²)), null when either
    * side is constant in the window. Frame sums run in row order in
    * every engine, so the double accumulation is order-identical and the
    * 6-decimal round is cross-engine-stable.
    */
  def rollingCorr(df: DataFrame, partKeys: Seq[String], orderCols: Seq[String],
      x: Column, y: Column, k: Int, name: String): DataFrame = {
    val w = spec(partKeys, orderCols).rowsBetween(-(k - 1), Window.currentRow)
    val n = count(lit(1)).over(w).cast("double")
    val sx = sum(x.cast("double")).over(w)
    val sy = sum(y.cast("double")).over(w)
    val sxy = sum(x.cast("double") * y.cast("double")).over(w)
    val sxx = sum(x.cast("double") * x.cast("double")).over(w)
    val syy = sum(y.cast("double") * y.cast("double")).over(w)
    val den = (n * sxx - sx * sx) * (n * syy - sy * sy)
    df.withColumn(name,
      when(den > 0, round((n * sxy - sx * sy) / sqrt(den), 6)))
  }

  /** W8 — gap since the previous row in the partition
    * (reference inter-visit day deltas, `preprocess_outcomes.py:129-139`).
    * `gap` receives (previous, current).
    */
  def lagGap(df: DataFrame, partKeys: Seq[String], orderCols: Seq[String],
      value: Column, gap: (Column, Column) => Column, name: String): DataFrame = {
    val w = spec(partKeys, orderCols)
    df.withColumn(name, gap(lag(value, 1).over(w), value))
  }

  /** F19 — per-group quantile binning (reference `pd.qcut`,
    * `tokenization.py:113-119`) as `ntile` with a deterministic tie-break.
    */
  def quantileBin(df: DataFrame, partKeys: Seq[String], orderCols: Seq[String],
      buckets: Int, name: String): DataFrame =
    df.withColumn(name, ntile(buckets).over(spec(partKeys, orderCols)))

  /** Trailing time-range rolling mean/count of `value` over the last
    * `seconds` seconds (inclusive of the current row's second) per
    * partition. A RANGE frame over epoch seconds: one sort exchange per
    * partition key, then a single streaming pass with a sliding frame —
    * no self-join, no per-row rescan. Rows sharing a truncated second are
    * frame peers, which keeps results order-independent.
    */
  def rollingBySeconds(df: DataFrame, partKeys: Seq[String], tsCol: String,
      value: Column, seconds: Long,
      avgName: String = "roll_avg", cntName: String = "roll_n"): DataFrame = {
    val w = Window.partitionBy(partKeys.map(col): _*)
      .orderBy(col(tsCol).cast("long"))
      .rangeBetween(-(seconds - 1), Window.currentRow)
    df.withColumn(avgName, avg(value).over(w))
      .withColumn(cntName, count(value).over(w))
  }

  /** Run-length value intervals (slowly-changing-dimension history from an
    * event log): consecutive equal values of `value` per key collapse into
    * one row with [valid_from, valid_to) bounds; the last run's valid_to is
    * null (open interval). Change points come from a null-safe lag compare;
    * the running change-count names the run; one grouped aggregate
    * collapses it; a per-key lead closes each interval. All three windows
    * are keyed on the entity — no global window anywhere, state bounded by
    * one key's history exactly like every other per-entity window here.
    *
    * `orderCols` must totally order each key's events (include a unique
    * tie-break) or run boundaries are nondeterministic.
    */
  def runLengthIntervals(df: DataFrame, partKeys: Seq[String],
      orderCols: Seq[String], value: Column, orderOut: Column): DataFrame = {
    val w = spec(partKeys, orderCols)
    val runs = df
      .withColumn("__chg", when(lag(value, 1).over(w) <=> value, 0).otherwise(1))
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(partKeys.map(col) :+ col("__run"): _*)
      .agg(first(value).as("value"),
        min(orderOut).as("valid_from"),
        count(lit(1)).as("n_events"))
    // ordered by the run index, not valid_from: equal-timestamp runs would
    // tie on valid_from and make the interval close nondeterministic
    val wRun = Window.partitionBy(partKeys.map(col): _*).orderBy(col("__run"))
    runs.withColumn("valid_to", lead(col("valid_from"), 1).over(wRun))
      .drop("__run")
  }
}
