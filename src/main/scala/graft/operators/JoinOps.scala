package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
    * `labs_preprocess_util.py:13-60`): for each point row, attach the
    * interval row of the same `partKey` with `startCol <= pointTs <= endCol`;
    * among several candidates pick the one with the latest start (smallest
    * `pointTs - start`, the reference's tie-break :56-59). Left join: points
    * with no enclosing interval keep a null `asOfCol`.
    *
    * Physical shape: equi-join on the partition key (shuffle co-partitioned,
    * AQE-skew-aware) with the range predicate evaluated in the join, then a
    * per-point `row_number` window to keep the closest candidate. At 100 TB
    * the equi-key carries the shuffle; no cross product is ever formed.
    *
    * The per-point id is derived from the point's OWN columns — a
    * `row_number` keyed on `partKey` and ordered by the remaining point
    * columns — not from `monotonically_increasing_id`. mid values are not
    * stable under task retry/speculation (a recomputed partition renumbers
    * points between the join and the tie-break window); the content-derived
    * id is invariant under recomputation and repartitioning (asserted in
    * PropertySpec). Identical duplicate point rows get occurrence numbers in
    * arbitrary order, which is immaterial — they are interchangeable. Bonus:
    * the id window shuffles on `partKey`, the same key the join hashes on,
    * so Catalyst reuses the exchange instead of adding one.
    */
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

  /** `skewSafe = false` (default): the point id is a `row_number` window
    * keyed on `partKey` — ONE shuffle serves both the id window and the
    * join (Catalyst reuses the exchange). The catch, measured not guessed:
    * that very reuse puts a `WindowExec` between the shuffle stage and the
    * SortMergeJoin, and AQE's `OptimizeSkewedJoin` only matches a join
    * whose children are sorts over bare shuffle stages — so a HOT partition
    * key (one patient/session holding half the points) rides one
    * monster task that AQE cannot split.
    *
    * `skewSafe = true` re-derives the id from the point's FULL row content
    * (a `row_number` over a window keyed on every point column — spread by
    * content, so no hot key; identical duplicate rows get interchangeable
    * occurrence numbers exactly as before), AND inserts an explicit
    * repartition on the point identity between the join and the tie-break.
    * Both are load-bearing: the id change gives the join its own bare
    * shuffle stage underneath, and the repartition frees the join's OUTPUT
    * partitioning — any per-point grouping contains `partKey`, so
    * `hashpartitioning(partKey)` subset-satisfies it and the tie-break
    * would otherwise sit exchange-free on the join, forcing AQE to
    * preserve the join's clustering (`ValidateRequirements` then vetoes
    * the skew split). Net cost: three balanced shuffles of the points
    * instead of one — versus one task carrying the hot key to the horizon.
    * Skew-splittability is asserted in ScaleJoinSpec; same rows out either
    * way. Pick the route by key distribution.
    *
    * Operational caveat (measured): AQE detects skew from COMPRESSED map
    * output bytes. A hot key whose rows arrive as one sorted low-entropy
    * run (exactly what the id window emits for narrow point schemas) can
    * lz4-compress down to the cold partitions' size, and the rule then
    * sees "0 skewed partitions" even though the row-count skew is 30×.
    * Real point rows carry payload columns with entropy, which keeps the
    * byte statistics honest — but if you project points down to (key, ts)
    * before this join at 100 TB, byte-based skew detection may go blind;
    * prefer the salted route there.
    */
  def asOfPointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      partKey: String,
      pointTs: String,
      startCol: String,
      endCol: String,
      asOfName: String,
      skewSafe: Boolean = false): DataFrame = {
    val p =
      if (skewSafe) {
        // occurrence number among EXACT duplicate rows only: the window
        // clusters by full content, so cardinality per partition follows
        // duplicate multiplicity, not the hot key
        val occW = Window.partitionBy(points.columns.map(col).toSeq: _*)
          .orderBy(lit(1).asc)
        points.withColumn("__pid", row_number().over(occW))
      } else {
        val restCols = points.columns.filterNot(_ == partKey).map(col(_).asc)
        val idOrder = if (restCols.isEmpty) Array(lit(1).asc) else restCols
        val idW = Window.partitionBy(col(partKey)).orderBy(idOrder.toSeq: _*)
        points.withColumn("__pid", row_number().over(idW))
      }
    val iv = intervals.select(
      col(partKey).as("__k"),
      col(startCol).as("__start"),
      col(endCol).as("__end"))
    val joined = p.join(
      iv,
      p(partKey) === col("__k") &&
        p(pointTs) >= col("__start") && p(pointTs) <= col("__end"),
      "left")
    // default: __pid is unique within its partKey group → (partKey, __pid)
    // identifies one input point. skewSafe: __pid is only the duplicate-
    // occurrence number, so the identity spans (all point columns, __pid) —
    // every point column is constant within a group either way, so the
    // groups (and results) coincide; only the shuffle key width differs
    val idCols =
      if (skewSafe) points.columns.map(p(_)).toSeq :+ col("__pid")
      else Seq(p(partKey), col("__pid"))
    val w = Window.partitionBy(idCols: _*)
      .orderBy(col("__start").desc_nulls_last)
    // skewSafe: the explicit exchange that decouples the tie-break from
    // the join's output partitioning (see scaladoc) — without it the skew
    // split is vetoed even though the join's inputs are splittable
    val tieBreakSrc = if (skewSafe) joined.repartition(idCols: _*) else joined
    tieBreakSrc
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn(asOfName, col("__start"))
      .drop("__pid", "__rn", "__k", "__start", "__end")
  }
}
