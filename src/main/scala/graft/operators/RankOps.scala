package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact prefix sums — global ranks, running sums and packing
  * bins over unbounded frames without ever funneling the frame through one
  * task (a `Window.orderBy` with no partition plans an `Exchange
  * SinglePartition`, a non-starter for a billion-row prediction table or a
  * corpus-scale vocabulary).
  *
  * Every operator here, and `FoldOps.packByCumsum`,
  * `FoldOps.interleaveByWeight` and `MetricsOps.aurocRankSum`, rides one
  * kernel, [[prefixSums]] over `(partKeys, sortCols, values)`:
  *
  *   1. [[pinnedRangeBuckets]]: `repartitionByRange` on `partKeys ++
  *      sortCols`, the bucket id kept as `__gr_pid` and the result pinned
  *      with a lazy localCheckpoint;
  *   2. one running-sum window per `(partKeys, __gr_pid)` — keyed on the
  *      bucket, so the window shuffle is P-way, never 1-way;
  *   3. one totals aggregate per `(partKeys, __gr_pid)`, turned into
  *      exclusive offsets by [[exclusiveOffsets]]: a triangular self-join,
  *      null-safe on `partKeys`, over at most (strata + P) rows;
  *   4. one join of the offsets back onto the rows: prefix = local running
  *      sum + offset.
  *
  * A global rank is the kernel over `lit(1L)`: a running count over a ROWS
  * frame equals `row_number` under a total order.
  */
object RankOps {

  /** Exact global 1-based row_number over `sortCols` (must be a total order
    * for deterministic output), assigned without a single-partition
    * exchange. Adds `outName` (long) to the frame.
    */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column], outName: String): DataFrame =
    prefixSums(df, Nil, sortCols, Seq(lit(1L) -> outName))

  /** Exact global running sum of `value` in `sortCols` order (a total order
    * for deterministic output), without a single-partition exchange. Adds
    * `outName` = sum of `value` over all rows at-or-before the current row.
    */
  def globalCumsum(df: DataFrame, sortCols: Seq[Column], value: Column,
      outName: String): DataFrame =
    globalCumsums(df, sortCols, Seq(value -> outName))

  /** Multi-value variant of [[globalCumsum]]: N running sums over the SAME
    * sort order share one range shuffle, one pinned bucketing, and one
    * per-bucket window pass — a caller needing cumulative TP and cumulative
    * N (PR curves, CDF pairs) pays exactly the single-cumsum plan cost.
    */
  def globalCumsums(df: DataFrame, sortCols: Seq[Column],
      values: Seq[(Column, String)]): DataFrame =
    prefixSums(df, Nil, sortCols, values)

  /** The kernel: for each `(value, name)`, adds `name` = the sum of `value`
    * over the rows of the same `partKeys` group at-or-before the current
    * row in `sortCols` order (a total order within each group for
    * deterministic output). Groups are compared null-safely, so a null key
    * is a group of its own, placed first like a null-first
    * `Window.partitionBy(partKeys).orderBy(sortCols)`. Strata may be few and
    * huge: a group spanning several range buckets is summed across them.
    */
  private[graft] def prefixSums(df: DataFrame, partKeys: Seq[Column],
      sortCols: Seq[Column], values: Seq[(Column, String)]): DataFrame = {
    val keys = partKeys.indices.map(i => s"__gr_k$i")
    val ranged = pinnedRangeBuckets(df, partKeys ++ sortCols)
    val w = Window.partitionBy(partKeys :+ col("__gr_pid"): _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = values.foldLeft(ranged) { case (acc, (v, name)) =>
      acc.withColumn(s"__gr_cum_$name", sum(v).over(w))
    }
    val sums = values.map { case (v, name) => sum(v).as(s"__gr_n_$name") }
    val totals = ranged
      .groupBy(partKeys.zip(keys).map { case (k, n) => k.as(n) } :+ col("__gr_pid"): _*)
      .agg(sums.head, sums.tail: _*)
    val offs = exclusiveOffsets(totals, keys, values.map(v => s"__gr_n_${v._2}"))
      .withColumnRenamed("__gr_pid", "__gr_opid")
    val on = partKeys.zip(keys).map { case (k, n) => k <=> col(n) }
      .foldLeft(col("__gr_pid") === col("__gr_opid"))(_ && _)
    values.foldLeft(local.join(offs, on)) { case (acc, (_, name)) =>
      acc.withColumn(name, col(s"__gr_cum_$name") + col(s"__gr_n_${name}_off"))
    }.drop(offs.columns ++ values.map(v => s"__gr_cum_${v._2}") :+ "__gr_pid": _*)
  }

  /** Range-bucket the frame on `keys` and PIN the bucketing with a lazy
    * localCheckpoint. `repartitionByRange` samples fresh range boundaries on
    * every execution, and the bucketed frame always has two consumers (the
    * window branch and the totals branch); if each triggered its own
    * execution, local sums from one sampling would combine with offsets
    * from another — wrong, nondeterministic output. ReusedExchange usually
    * collapses the two executions into one, but it is an optimization, not
    * a contract; the checkpoint makes single-execution semantics explicit.
    */
  private[operators] def pinnedRangeBuckets(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.repartitionByRange(keys: _*)
      .withColumn("__gr_pid", spark_partition_id())
      .localCheckpoint(false)

  /** Per-bucket totals → exclusive offsets. `totals` has one row per
    * (`partKeys`, `__gr_pid`); every one of its columns passes through, and
    * each `sums` column `c` gains `c_off` = the sum of `c` over the
    * earlier buckets of the same (null-safe) `partKeys` group. The frame is
    * bounded by strata + shuffle partitions, so the triangular join is tiny
    * and fully distributed — NOT a single-partition window.
    */
  private[operators] def exclusiveOffsets(totals: DataFrame, partKeys: Seq[String],
      sums: Seq[String]): DataFrame = {
    val offs = sums.map(c => coalesce(sum(col(s"b.$c")), lit(0L)).as(s"${c}_off"))
    totals.alias("a")
      .join(totals.alias("b"), partKeys.map(k => col(s"a.$k") <=> col(s"b.$k"))
        .foldLeft(col("b.__gr_pid") < col("a.__gr_pid"))(_ && _), "left")
      .groupBy(totals.columns.map(c => col(s"a.$c").as(c)): _*)
      .agg(offs.head, offs.tail: _*)
  }

  /** Dense vocabulary encoding (SURVEY F23): 1-based contiguous ids over the
    * distinct values of `valueCol` in ascending order — `dense_rank` over
    * the vocabulary, computed distributively (the distinct-value frame at
    * corpus scale does not fit one task).
    */
  def vocabIds(df: DataFrame, valueCol: String, idName: String): DataFrame =
    globalRowNumber(df.select(valueCol).distinct(), Seq(col(valueCol).asc), idName)

  /** Exact global percent_rank of `valueCol` — RANK-tie semantics,
    * (rank − 1)/(N − 1), matching SQL `PERCENT_RANK() OVER (ORDER BY v)` —
    * without a single-partition exchange. rank(v) = (# rows < v) + 1 falls
    * out of the two-phase cumsum over the DISTINCT-value counts frame (|v|
    * rows, unbounded at corpus scale, hence ranked distributively); rows
    * then re-join their value's rank — the fact table is never sorted
    * globally. Single-row frames get percent_rank 0 (the SQL convention).
    */
  def globalPercentRank(df: DataFrame, valueCol: String, outName: String): DataFrame = {
    // cached: two consumers (the cumsum machinery and the N scalar) — one
    // distinct-value aggregation, not two. N summed off `counts`, NOT off
    // `cum`: the latter re-executes the whole window+offsets branch a
    // second time just to add up a column the counts aggregate already
    // carries
    val counts = df.groupBy(col(valueCol)).agg(count(lit(1)).as("__pr_c"))
      .localCheckpoint(false)
    val cum = globalCumsum(counts, Seq(col(valueCol).asc), col("__pr_c"), "__pr_cum")
    val tot = counts.agg(sum(col("__pr_c")).as("__pr_n"))
    val ranked = cum.crossJoin(broadcast(tot))
      .select(col(valueCol).as("__pr_v"),
        when(col("__pr_n") > 1,
          (col("__pr_cum") - col("__pr_c")).cast("double") / (col("__pr_n") - 1))
          .otherwise(0.0).as(outName))
    // null-safe join: a null value is a legitimate rank group (sorted
    // first, the SQL NULLS FIRST convention `globalCumsum`'s asc order
    // already applies) — a plain equality join would silently drop null
    // rows from the output while still counting them in N.
    // shuffle_hash (§3.1): PINS the strategy the planner already picks
    // here (plans/r14/f24_*: ShuffledHashJoin either way) so a stats
    // estimate drift can never flip this into sorting the fact frame
    // (SMJ) or broadcasting a data-sized rank map. Build side = the
    // distinct-value map; a hot value splits under AQE skew join.
    df.join(ranked.hint("shuffle_hash"), col(valueCol) <=> col("__pr_v"))
      .drop("__pr_v")
  }

  /** Balanced range-partition split points — the boundary computation
    * behind range-partitioned writes and sort-merge bucketing at scale:
    * the (nBuckets − 1) exact type-7 quantiles of `value`, WITHOUT a
    * global sort. The rank frame comes from [[globalRowNumber]] (range
    * shuffle + per-bucket windows + bounded offset triangle); the
    * (2·(nBuckets−1))-row needed-rank frame broadcasts into one hash
    * equi-join, so the data-sized frame is touched exactly twice (rank,
    * probe) at any input size.
    *
    * Exactness: with h = (n−1)·i/B + 1 (type-7, 1-indexed), the rank
    * and remainder come from exact integer arithmetic; the close is
    * v_lo + (rem/B)·(v_hi − v_lo) — three IEEE ops on exact operands,
    * mirrored op-for-op by the oracle.
    */
  def rangeSplitPoints(df: DataFrame, value: Column,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, "rangeSplitPoints: need at least 2 buckets")
    val b = nBuckets.toLong
    val rows = df.select(value.cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val ranked = globalRowNumber(rows, Seq(col("__v").asc), "__rn")
    val n = rows.agg(count(lit(1)).as("__n"))
    val splits = n
      .select(explode(sequence(lit(1), lit(nBuckets - 1))).as("split_no"),
        col("__n"))
      .withColumn("__num", (col("__n") - 1) * col("split_no"))
      .withColumn("__rem", pmod(col("__num"), lit(b)))
      .withColumn("__lo", ((col("__num") - col("__rem")) / b).cast("long") + 1)
    val needed = splits
      .select(col("split_no"), col("__rem"), col("__lo").as("__rank"),
        lit(0).as("__hi"))
      .unionByName(splits.select(col("split_no"), col("__rem"),
        (col("__lo") + 1).as("__rank"), lit(1).as("__hi")))
    ranked.join(broadcast(needed), col("__rn") === col("__rank"))
      .groupBy(col("split_no"), col("__rem"))
      .agg(max(when(col("__hi") === 0, col("__v"))).as("__vlo"),
        max(when(col("__hi") === 1, col("__v"))).as("__vhi"))
      .select(col("split_no"),
        round(col("__vlo") + (col("__rem").cast("double") / lit(b.toDouble)) *
          (coalesce(col("__vhi"), col("__vlo")) - col("__vlo")), 6)
          .as("split"))
  }
}
