package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-shaped operators from the reference's extraction passes
  * (SURVEY.md §2.3), re-expressed as Catalyst-friendly combinators.
  *
  * Scale notes: every helper keeps the *small* side explicit so the caller
  * can `broadcast()` it; semi/anti joins are used instead of `isin`
  * collect-to-driver lists (reference `day_intervals_cohort.py:39`), so the
  * filter distributes and AQE can still pick broadcast-hash when the
  * distinct key set is small.
  */
object JoinOps {

  /** P6/J8 — `df[df.k.isin(other.k)]` (reference `feature_selection_hosp.py:194`)
    * as a distributed semi-join. `keys` must exist in both frames. No
    * broadcast hint: an unconditional `broadcast()` on an unbounded side (a
    * 10⁸-row cohort, a corpus vocabulary) is an OOM at 100 TB, so AQE
    * decides, broadcasting at run time iff the built side is actually under
    * the threshold. A caller that can prove its side is bounded joins
    * against `broadcast(keys)` itself, as [[semiTopK]] does.
    */
  def semiFilter(df: DataFrame, keys: Seq[String], filter: DataFrame): DataFrame =
    df.join(filter.select(keys.map(col): _*).distinct(), keys, "left_semi")

  /** J9 — rows of `df` with no partner in `other` (reference drops offending
    * index rows, `uom_conversion.py:23-25`); broadcast left to AQE as in
    * [[semiFilter]].
    */
  def antiFilter(df: DataFrame, keys: Seq[String], other: DataFrame): DataFrame =
    df.join(other.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** J14/O4 — keep only rows whose `key` is among the top-k most frequent
    * (reference `hosp_preprocess_util.py:462-469`). Deterministic tie-break:
    * higher count first, then smaller key. `orderBy().limit(k)` compiles to
    * TakeOrderedAndProject — per-partition heaps merged on the driver — so
    * the counts frame (|distinct keys| rows, unbounded at corpus scale)
    * never single-partitions the way a global `row_number` window would.
    * The top-k set is tiny by construction → broadcast semi-join, no second
    * shuffle of `df`.
    */
  def topKByCount(df: DataFrame, key: String, k: Int): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col(key).asc)
      .limit(k)
      .select(key)

  def semiTopK(df: DataFrame, key: String, k: Int): DataFrame =
    df.join(broadcast(topKByCount(df, key, k)), Seq(key), "left_semi")

  /** J10 — first-match lookup table: collapse a many-row mapping to one row
    * per key, "first" defined by `orderCol` (the reference takes file order,
    * `hosp_preprocess_util.py:411` `iloc[0]`; we make the order explicit).
    * Result is a broadcastable dimension.
    */
  def firstMatchLookup(mapping: DataFrame, key: String, value: String, orderCol: String): DataFrame =
    mapping.groupBy(key).agg(min_by(col(value), col(orderCol)).as(value))

  /** Skew-mitigation salted join: replicate the small side `salt` times and
    * scatter the large side's hot keys across the replicas, turning one
    * monster partition into `salt` tractable ones. Result is identical to
    * the plain inner join (asserted in JoinOpsSpec); use when a key's row
    * count dwarfs the rest and AQE's skew splitting isn't available (e.g.
    * aggregation-free stages, or pre-3.0 clusters).
    */
  def saltedEquiJoin(large: DataFrame, small: DataFrame, key: String, salt: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(salt)))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLarge.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** J11 — point-in-interval as-of join (reference hadm_id imputation,
    * `labs_preprocess_util.py:13-60`): for each point row, attach the start
    * of the interval of the same `partKey` with `startCol <= pointTs <=
    * endCol`; among several candidates the latest start wins (smallest
    * `pointTs - start`, the reference's tie-break :56-59). Output: the point
    * columns plus `asOfName`, one row per input point row — a point with a
    * null key, a null `pointTs` or no enclosing interval (an interval with a
    * null bound encloses nothing) keeps a null `asOfName`, and exact-duplicate
    * point rows all survive.
    *
    * Physical shape: the as-of value depends only on the point's key and
    * timestamp, so no point needs an id. The intervals collapse to one row
    * per key holding an array of (start, end) — bounded by the visits per
    * subject and broadcast by AQE when small — the points left-join it on
    * the key, and an in-row `array_max` over the enclosing starts picks the
    * latest. No window and no second shuffle of the points; `array_max` is
    * independent of `collect_list` order, so the result is deterministic.
    * A hot key streams through one task holding only its own interval array
    * (the aggregate on the interval side keeps AQE from splitting it).
    */
  def asOfPointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      partKey: String,
      pointTs: String,
      startCol: String,
      endCol: String,
      asOfName: String): DataFrame = {
    val iv = intervals.groupBy(col(partKey).as("__k"))
      .agg(collect_list(struct(col(startCol).as("s"), col(endCol).as("e"))).as("__iv"))
    val ts = col(pointTs)
    points.join(iv, col(partKey) === col("__k"), "left")
      .withColumn(asOfName, array_max(transform(
        filter(col("__iv"), e => e("s") <= ts && ts <= e("e")), e => e("s"))))
      .drop("__k", "__iv")
  }

  /** All-pairs interval overlap within a partition key — the temporal-
    * conflict / co-occurrence primitive ("which stays overlapped", "which
    * sessions ran concurrently"). Intervals are half-open [start, end) on
    * a numeric axis.
    *
    * The naive plan is a non-equi self-join (key equality + two range
    * predicates) — at scale that is a per-key cross product. Here each
    * interval registers in every `bucketWidth`-wide bucket it touches, so
    * candidates meet through ONE equi-join on (key, bucket); the true
    * range predicate then filters, and a bucket-ownership rule — only the
    * first bucket both intervals share, `floor(max(starts)/width)`, emits
    * the pair — deduplicates without a distinct shuffle. Cost follows
    * bucket co-occupancy (tunable via `bucketWidth` ≈ typical interval
    * length), not per-key row counts squared.
    */
  def intervalOverlapPairs(df: DataFrame, key: String, id: String,
      start: String, end: String, bucketWidth: Long): DataFrame = {
    val w = lit(bucketWidth)
    // Half-open [start, end) contract enforced: a degenerate interval
    // (end <= start) covers zero buckets, but Spark's `sequence` would step
    // BACKWARDS through floor(start/w)..floor((end-1)/w) and register it in
    // a descending bucket range — filter it out before registration.
    val reg = df.select(col(key), col(id), col(start), col(end))
      .filter(col(end) > col(start))
      .withColumn("__bkt",
        explode(sequence(floor(col(start) / w), floor((col(end) - 1) / w))))
    val a = reg.columns.foldLeft(reg)((d, c) =>
      if (c == key || c == "__bkt") d else d.withColumnRenamed(c, s"${c}_a"))
    val b = reg.columns.foldLeft(reg)((d, c) =>
      if (c == key || c == "__bkt") d else d.withColumnRenamed(c, s"${c}_b"))
    a.join(b, Seq(key, "__bkt"))
      .filter(col(s"${id}_a") < col(s"${id}_b") &&
        col(s"${start}_a") < col(s"${end}_b") &&
        col(s"${start}_b") < col(s"${end}_a") &&
        col("__bkt") === floor(greatest(col(s"${start}_a"), col(s"${start}_b")) / w))
      .drop("__bkt")
  }

  /** Snapshot diff / CDC changelog: classify every key of two snapshot
    * generations as insert / delete / update / unchanged by null-safe
    * comparison of `compareCols`. ONE full-outer equi-join on the key —
    * the standard re-crawl reconciliation primitive for append-only
    * corpora (which rows of the new crawl are actually new or changed).
    * Both sides are unbounded, so no broadcast hint; AQE sizes the join.
    */
  def snapshotDiff(old: DataFrame, newer: DataFrame, key: String,
      compareCols: Seq[String]): DataFrame = {
    val o = old.select(
      (col(key) +: compareCols.map(c => col(c).as(s"__o_$c"))) :+
        lit(1).as("__in_o"): _*)
    val n = newer.select(
      (col(key) +: compareCols.map(c => col(c).as(s"__n_$c"))) :+
        lit(1).as("__in_n"): _*)
    val changed = compareCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    o.join(n, Seq(key), "full_outer")
      .withColumn("op",
        when(col("__in_o").isNull, "insert")
          .when(col("__in_n").isNull, "delete")
          .when(changed, "update")
          .otherwise("unchanged"))
      .drop("__in_o", "__in_n")
  }

  /** Changelog apply — the MERGE/upsert half of [[snapshotDiff]]: replay a
    * compacted change set onto the current snapshot. `changes` carries the
    * snapshot's columns plus `opCol` ∈ {upsert, delete}; a key present in
    * `changes` replaces (or removes) the current row, everything else
    * streams through untouched via ONE anti-join on the key. Contract: at
    * most one change row per key (a compacted changelog) — uncompacted
    * feeds should be reduced to last-writer-wins first.
    *
    * Scale shape: anti-join + unionByName, both unbounded sides, no
    * broadcast hint — AQE promotes the (typically small) change set to a
    * broadcast at runtime, making the steady-state cost one scan of each
    * side and zero shuffles of the big snapshot.
    */
  def applyChangelog(current: DataFrame, changes: DataFrame, key: String,
      opCol: String): DataFrame =
    current.join(changes.select(col(key)), Seq(key), "left_anti")
      .unionByName(changes.filter(col(opCol) =!= "delete").drop(opCol))
}
