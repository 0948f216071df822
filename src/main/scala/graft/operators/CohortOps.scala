package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Labeling operators from the reference's cohort stage
  * (SURVEY.md §2.2 P13, §2.3 J12/J13, §2.5 W1/W2).
  *
  * The reference labels cohorts with per-group Python loops
  * (`day_intervals_cohort.py:136-177`); here every label is a single
  * window or scalar expression — one shuffle on the partition key at most,
  * and the window shuffle is reused by any further per-key analytics.
  */
object CohortOps {

  /** P13 — threshold split: label 1 iff `value >= threshold`
    * (reference LoS labeling, `day_intervals_cohort.py:114-133`).
    */
  def thresholdLabel(df: DataFrame, value: Column, threshold: Column, name: String): DataFrame =
    df.withColumn(name, when(value >= threshold, 1).otherwise(0))

  /** J13 — interval-membership label: 1 iff `t` falls in `[lo, hi]`
    * (reference mortality label `dod BETWEEN admittime AND dischtime`,
    * `day_intervals_cohort.py:206`). Null-safe: null `t` → 0.
    */
  def intervalLabel(df: DataFrame, t: Column, lo: Column, hi: Column, name: String): DataFrame =
    df.withColumn(name, when(t.isNotNull && t.between(lo, hi), 1).otherwise(0))

  /** J12/W1 — "readmission" label: per `partKey` ordered by `(timeCol, tieCol)`,
    * label 1 iff the next row's time is within `gap` of this row's time
    * (reference gap predicate `admit_j - disch_i <= gap`, boundary inclusive,
    * `day_intervals_cohort.py:158-161`; last visit is always a control :173).
    *
    * The reference scans *all* later visits per subject in Python; with
    * in-order, non-overlapping visits the earliest later visit is the binding
    * one, so `lead(1)` is equivalent — and turns an O(n²) group loop into one
    * window over one shuffle. Overlapping visits need
    * [[nextWithinGapLabelRange]].
    */
  def nextWithinGapLabel(
      df: DataFrame,
      partKey: String,
      timeCol: String,
      tieCol: String,
      gap: Column,
      name: String): DataFrame = {
    val w = Window.partitionBy(partKey).orderBy(col(timeCol).asc, col(tieCol).asc)
    df.withColumn("__next", lead(col(timeCol), 1).over(w))
      .withColumn(name,
        when(col("__next").isNotNull && col("__next") <= col(timeCol) + gap, 1).otherwise(0))
      .drop("__next")
  }

  /** W2 — attach per-group max of an expression to every row
    * (reference `group.max()[disch_col].year`, `day_intervals_cohort.py:150`).
    */
  def groupMax(df: DataFrame, partKey: String, value: Column, name: String): DataFrame =
    df.withColumn(name, max(value).over(Window.partitionBy(partKey)))

  /** J12 — the reference's readmission label (`day_intervals_cohort.py:158-168`):
    * label 1 iff ANY other visit of the same subject starts strictly after
    * this visit's end and within `gap` of it (boundary inclusive; the last
    * visit is always a control). Exact for overlapping visit sets
    * (transfers, concurrent stays), where the earliest later admission can
    * start before this discharge; on non-overlapping visits it equals the
    * `lead(1)` form [[nextWithinGapLabel]] (property-tested in PropertySpec).
    *
    * One window, no join: per subject, `collect_list` of (visit, admit)
    * over an unordered `Window.partitionBy(subjectKey)`, then an in-row
    * `exists`. `end + gap` is its own column below the window, so the
    * lambda captures attributes only and the sum is computed once per row.
    * A null subject or visit key matches nothing, as under an equi-join;
    * every input row is kept, exact duplicates included.
    */
  def nextWithinGapLabelRange(
      df: DataFrame,
      subjectKey: String,
      startCol: String,
      endCol: String,
      visitKey: String,
      gap: Column,
      name: String): DataFrame = {
    val visits = collect_list(struct(col(visitKey).as("v"), col(startCol).as("a")))
      .over(Window.partitionBy(col(subjectKey)))
    val readmitted = exists(col("__visits"), o =>
      o("v") =!= col(visitKey) && o("a") > col(endCol) && o("a") <= col("__hi"))
    df.withColumn("__hi", col(endCol) + gap)
      .withColumn("__visits", visits)
      .withColumn(name, when(col(subjectKey).isNotNull && readmitted, 1).otherwise(0))
      .drop("__hi", "__visits")
  }
}
