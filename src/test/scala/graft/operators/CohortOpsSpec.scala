package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CohortOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (subject, visit, admit) fixture mirroring the reference's readmission
  // cases (day_intervals_cohort.py:136-177): gap boundary is INCLUSIVE,
  // the last visit is always a control.
  private val visits = Seq(
    (1L, 10L, ts("2020-01-01 00:00:00")), // next at +30d exactly → label 1
    (1L, 11L, ts("2020-01-31 00:00:00")), // next at +31d → label 0
    (1L, 12L, ts("2020-03-02 00:00:00")), // last visit → 0
    (2L, 20L, ts("2020-06-01 00:00:00")), // next at +1d → 1
    (2L, 21L, ts("2020-06-02 00:00:00")), // last → 0
    (3L, 30L, ts("2020-01-01 00:00:00"))  // singleton → 0
  )

  private def labelsOf(rows: Seq[(Long, Long, Timestamp)]): Map[Long, Int] =
    CohortOps.nextWithinGapLabel(
        rows.toDF("subject_id", "visit_id", "admit"),
        "subject_id", "admit", "visit_id", expr("INTERVAL 30 DAYS"), "label")
      .select("visit_id", "label").as[(Long, Int)].collect().toMap

  test("gap boundary inclusive, last visit control") {
    assert(labelsOf(visits) ===
      Map(10L -> 1, 11L -> 0, 12L -> 0, 20L -> 1, 21L -> 0, 30L -> 0))
  }

  test("label independent of input row order") {
    val shuffled = Seq(visits(3), visits(5), visits(0), visits(4), visits(2), visits(1))
    assert(labelsOf(shuffled) === labelsOf(visits))
  }

  test("intervalLabel: inclusive bounds, null time → 0") {
    val df = Seq(
      (1L, Some(ts("2020-01-05 00:00:00"))), // inside
      (2L, Some(ts("2020-01-10 00:00:00"))), // == hi → 1
      (3L, Some(ts("2020-01-01 00:00:00"))), // == lo → 1
      (4L, Some(ts("2020-02-01 00:00:00"))), // outside
      (5L, None)                             // null → 0
    ).toDF("id", "t")
    val got = CohortOps.intervalLabel(df, col("t"),
        lit(ts("2020-01-01 00:00:00")), lit(ts("2020-01-10 00:00:00")), "label")
      .select("id", "label").as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 0))
  }

  test("range readmission diverges from lead(1) exactly on overlapping visits") {
    // visit 1 overlaps visit 2 (2 starts before 1 ends); visit 3 starts
    // long after both. lead-form credits visit 1 for the overlapping
    // visit 2; the strict range form only credits true post-discharge
    // returns within the gap.
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val visits = Seq(
      (1L, 10L, t("2020-01-01 00:00:00"), t("2020-01-20 00:00:00")),
      (1L, 11L, t("2020-01-05 00:00:00"), t("2020-01-06 00:00:00")),
      (1L, 12L, t("2020-01-25 00:00:00"), t("2020-01-26 00:00:00")))
      .toDF("subj", "visit", "admit", "disch")
    val strict = CohortOps.nextWithinGapLabelRange(visits,
        "subj", "admit", "disch", "visit", expr("INTERVAL 30 DAYS"), "label")
      .select("visit", "label").as[(Long, Int)].collect().toMap
    // 10: overlapping 11 does NOT count, but 12 (5 days post-discharge) does
    // 11: 12 starts 19 days after 11's discharge -> 1
    // 12: nothing later -> 0
    assert(strict === Map(10L -> 1, 11L -> 1, 12L -> 0))
    val lead1 = CohortOps.nextWithinGapLabel(visits, "subj", "admit", "visit",
        expr("INTERVAL 30 DAYS"), "label")
      .select("visit", "label").as[(Long, Int)].collect().toMap
    // lead orders by admit: 10 -> 11 (overlap, within 30d of 10's ADMIT) -> 1
    assert(lead1(10L) === 1)
  }

  private def rangeLabels(rows: Seq[(Option[Long], Option[Long], String, String)]) =
    CohortOps.nextWithinGapLabelRange(
        rows.map { case (s, v, a, d) => (s, v, ts(a), ts(d)) }
          .toDF("subj", "visit", "admit", "disch"),
        "subj", "admit", "disch", "visit", expr("INTERVAL 30 DAYS"), "label")
      .select("subj", "visit", "label").as[(Option[Long], Option[Long], Int)]
      .collect().toSeq

  test("range readmission: null subject or visit keys give label 0 and match nothing") {
    val (jan1, jan2) = ("2020-01-01 00:00:00", "2020-01-02 00:00:00")
    val (jan10, jan11) = ("2020-01-10 00:00:00", "2020-01-11 00:00:00")
    // every pair below is a readmission by time; only subject 4's has keys
    val got = rangeLabels(Seq(
      (Some(1L), Some(10L), jan1, jan2), (Some(1L), None, jan10, jan11),
      (Some(2L), None, jan1, jan2), (Some(2L), Some(21L), jan10, jan11),
      (None, Some(30L), jan1, jan2), (None, Some(31L), jan10, jan11),
      (Some(4L), Some(40L), jan1, jan2), (Some(4L), Some(41L), jan10, jan11)))
    assert(got.sortBy(r => (r._1, r._2)) === Seq(
      (None, Some(30L), 0), (None, Some(31L), 0),
      (Some(1L), None, 0), (Some(1L), Some(10L), 0),
      (Some(2L), None, 0), (Some(2L), Some(21L), 0),
      (Some(4L), Some(40L), 1), (Some(4L), Some(41L), 0)))
  }

  test("range readmission keeps and labels exact-duplicate input rows") {
    val dup = (Some(1L), Some(10L), "2020-01-01 00:00:00", "2020-01-02 00:00:00")
    val got = rangeLabels(Seq(dup, dup,
      (Some(1L), Some(11L), "2020-01-10 00:00:00", "2020-01-11 00:00:00")))
    assert(got.sortBy(_._2) === Seq(
      (Some(1L), Some(10L), 1), (Some(1L), Some(10L), 1), (Some(1L), Some(11L), 0)))
  }

  test("range readmission plans one Window and no join") {
    val df = CohortOps.nextWithinGapLabelRange(
      Seq((1L, 10L, ts("2020-01-01 00:00:00"), ts("2020-01-02 00:00:00")))
        .toDF("subj", "visit", "admit", "disch"),
      "subj", "admit", "disch", "visit", expr("INTERVAL 30 DAYS"), "label")
    val plan = df.queryExecution.sparkPlan
    val nodes = plan.collect { case p => p.nodeName }
    assert(nodes.count(_ == "Window") === 1, plan.toString)
    assert(!nodes.exists(n => n.contains("Join") || n.contains("Cartesian")), plan.toString)
  }
}
