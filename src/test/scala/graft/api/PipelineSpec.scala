package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end pipeline over a MIMIC-shaped fixture (FIXTURES.md §1):
  * cohort extraction → ICD standardization → lab visit-key imputation →
  * measurement cleaning → bucketed time series with imputation.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // --- fixture: 3 subjects, 5 admissions ---
  private val patients = Seq(
    (1L, 45, Some(ts("2020-01-05 12:00:00"))), // dies during admission 101
    (2L, 70, None),                            // readmitted quickly
    (3L, 16, None)                             // minor → filtered out
  ).toDF("subject_id", "age", "dod")

  private val admissions = Seq(
    (1L, 101L, ts("2020-01-01 00:00:00"), ts("2020-01-10 00:00:00")),
    (2L, 201L, ts("2020-02-01 00:00:00"), ts("2020-02-05 00:00:00")), // next within 30d → 1
    (2L, 202L, ts("2020-03-01 00:00:00"), ts("2020-03-20 00:00:00")), // next after 30d → 0
    (2L, 203L, ts("2020-06-01 00:00:00"), ts("2020-06-02 00:00:00")), // last → 0
    (3L, 301L, ts("2020-01-01 00:00:00"), ts("2020-01-02 00:00:00"))
  ).toDF("subject_id", "hadm_id", "admittime", "dischtime")

  private val cfg = CohortConfig()

  test("mortality cohort: adult filter + death-in-window label") {
    val cohort = CohortExtractor.extract(admissions, patients,
      cfg.copy(task = Mortality("dod")))
    val labels = cohort.select("hadm_id", "label").as[(Long, Int)].collect().toMap
    assert(labels === Map(101L -> 1, 201L -> 0, 202L -> 0, 203L -> 0)) // 301 filtered (age)
  }

  test("readmission cohort: 30-day gap, inclusive, last visit control") {
    val cohort = CohortExtractor.extract(admissions, patients,
      cfg.copy(task = Readmission(30)))
    val labels = cohort.select("hadm_id", "label").as[(Long, Int)].collect().toMap
    assert(labels === Map(101L -> 0, 201L -> 1, 202L -> 0, 203L -> 0))
  }

  test("readmission with overlapping stays: strictOverlap routes to the range form") {
    // the flag is gone: checks that Readmission(30) gives the exact labels
    // subject 4: visit 401 (Jan 1-20) OVERLAPS concurrent visit 402
    // (Jan 5-8, e.g. a transfer record); 403 is months later. NO visit
    // starts within 30 days after any discharge, so every strict label is 0.
    val overlapping = Seq(
      (4L, 401L, ts("2021-01-01 00:00:00"), ts("2021-01-20 00:00:00")),
      (4L, 402L, ts("2021-01-05 00:00:00"), ts("2021-01-08 00:00:00")),
      (4L, 403L, ts("2021-03-15 00:00:00"), ts("2021-03-16 00:00:00"))
    ).toDF("subject_id", "hadm_id", "admittime", "dischtime")
    val adults = Seq((4L, 50, Option.empty[Timestamp])).toDF("subject_id", "age", "dod")

    // the reference's admit_j > disch_i guard: 402 starts BEFORE 401's
    // discharge → not a readmission of 401; 403 is beyond every 30d window.
    // A lead(1) window would bind 401 to the CONCURRENT 402 (admitted
    // Jan 5 ≤ Jan 20 + 30d) and mislabel it 1 (CohortOpsSpec pins that
    // divergence); every Readmission label is the exact one.
    val exact = CohortExtractor.extract(overlapping, adults,
      cfg.copy(task = Readmission(30)))
      .select("hadm_id", "label").as[(Long, Int)].collect().toMap
    assert(exact === Map(401L -> 0, 402L -> 0, 403L -> 0))
  }

  test("length-of-stay cohort: threshold label") {
    val cohort = CohortExtractor.extract(admissions, patients,
      cfg.copy(task = LengthOfStay(7)))
    val labels = cohort.select("hadm_id", "label").as[(Long, Int)].collect().toMap
    assert(labels === Map(101L -> 1, 201L -> 0, 202L -> 1, 203L -> 0))
  }

  test("phenotype cohort: disease pre-filter is load-bearing for readmission") {
    val adults = Seq((5L, 40, Option.empty[Timestamp]),
      (6L, 41, Option.empty[Timestamp])).toDF("subject_id", "age", "dod")
    val visits = Seq(
      (5L, 501L, ts("2022-01-01 00:00:00"), ts("2022-01-05 00:00:00")), // disease
      (5L, 502L, ts("2022-01-20 00:00:00"), ts("2022-01-22 00:00:00")), // NON-disease, within 30d of 501
      (5L, 503L, ts("2022-03-01 00:00:00"), ts("2022-03-02 00:00:00")), // disease, beyond 30d
      (6L, 601L, ts("2022-01-01 00:00:00"), ts("2022-01-05 00:00:00")), // disease
      (6L, 602L, ts("2022-01-20 00:00:00"), ts("2022-01-21 00:00:00"))  // disease, within 30d
    ).toDF("subject_id", "hadm_id", "admittime", "dischtime")
    val diagnoses = Seq(
      (501L, "25000", 9), // v9 root 250 → E11
      (502L, "410", 9),   // unmapped root → null → dropped
      (503L, "E119", 10), // v10 passthrough, root E11
      (601L, "2500", 9),
      (602L, "E11", 10)
    ).toDF("hadm_id", "icd_code", "icd_version")
    val mapping = Seq(("250", "E11", 1L))
      .toDF("diagnosis_code", "icd10cm", "map_order")

    val ids = CohortExtractor.diseaseVisits(diagnoses, "hadm_id",
      "icd_code", "icd_version", mapping, "diagnosis_code", "icd10cm",
      "map_order", "E11")
    assert(ids.as[Long].collect().toSet === Set(501L, 503L, 601L, 602L))

    val phenoCfg = cfg.copy(task = Readmission(30))
    val out = CohortExtractor.extractPhenotype(visits, adults, phenoCfg, ids)
      .select("hadm_id", "label").as[(Long, Int)].collect().toMap
    // 502 is excluded AND must not flip 501: in the disease pool, 503 is
    // beyond the 30-day gap → 501 is 0 ("no readmission due to E11");
    // subject 6's disease pair is a genuine disease readmission → 601 is 1
    assert(out === Map(501L -> 0, 503L -> 0, 601L -> 1, 602L -> 0))

    // contrast: WITHOUT the disease pre-filter the unrelated visit 502
    // would mislabel 501 as a readmission — the reference filters the
    // pool before get_case_ctrls for exactly this reason (:37-40)
    val unfiltered = CohortExtractor.extract(visits, adults, phenoCfg)
      .select("hadm_id", "label").as[(Long, Int)].collect().toMap
    assert(unfiltered(501L) === 1)
  }

  test("facade dialect: fully renamed column bindings are bit-identical") {
    // the reference's v2/v3 variants are path/column renames
    // (day_intervals_cohort_v2.py:352 race→ethnicity etc.); the facade
    // handles dialects purely by CohortConfig bindings — prove one
    // existing cohort path gives bit-identical output under a full rename
    val v2visits = admissions.toDF(
      "patient_ref", "encounter_id", "start_ts", "end_ts")
    val v2patients = patients.toDF("patient_ref", "anchor_age", "death_ts")
    val v2cfg = CohortConfig(subjectKey = "patient_ref",
      visitKey = "encounter_id", admitCol = "start_ts", dischCol = "end_ts",
      ageCol = "anchor_age", task = Mortality("death_ts"))
    val v2 = CohortExtractor.extract(v2visits, v2patients, v2cfg)
      .select($"encounter_id", $"patient_ref", $"start_ts", $"end_ts",
        $"anchor_age", $"label")
      .collect().map(_.toSeq).toSet
    val v1 = CohortExtractor.extract(admissions, patients,
        cfg.copy(task = Mortality("dod")))
      .select($"hadm_id", $"subject_id", $"admittime", $"dischtime",
        $"age", $"label")
      .collect().map(_.toSeq).toSet
    assert(v2 === v1)

    // the readmission route under the same renames
    val v2r = CohortExtractor.extract(v2visits, v2patients,
        v2cfg.copy(task = Readmission(30)))
      .select($"encounter_id", $"label").collect().map(_.toSeq).toSet
    val v1r = CohortExtractor.extract(admissions, patients,
        cfg.copy(task = Readmission(30)))
      .select($"hadm_id", $"label").collect().map(_.toSeq).toSet
    assert(v2r === v1r)
  }

  test("Generator task windows: last-window shift-and-clip + predW gate") {
    // reference readmission_length (data_generation_icu.py:243-283) and
    // mortality_length's los >= include + predW gate (:172-206)
    val stays = Seq((101L, 240L), (201L, 100L), (301L, 48L))
      .toDF("hadm_id", "los_h")
    val events = Seq(
      // stay 101: los 240, includeH 72 → select_time = 168
      (101L, 7L, 100L, 100L),  // shifted −68 → before the window, drops
      (101L, 7L, 167L, 200L),  // shifted −1 → STRADDLES the zero, drops
      (101L, 7L, 168L, 300L),  // shifted 0 → first kept hour, bucket 0
      (101L, 7L, 239L, 400L),  // shifted 71 → last kept hour, bucket 2
      (101L, 7L, 240L, 500L),  // shifted 72 → past the top clip, drops
      // stay 201: los 100, select_time = 28 → shifted −18, drops
      (201L, 7L, 10L, 600L),
      // stay 301: los 48 < includeH → ineligible entirely
      (301L, 7L, 10L, 700L)
    ).toDF("hadm_id", "itemid", "event_offset_h", "val_cents")

    val last = TimeSeriesGenerator.bucketedFeatures(events, "hadm_id",
        "event_offset_h", "itemid", "val_cents", stays, "los_h",
        includeH = 72, bucketH = 24, window = LastWindow)
      .select("hadm_id", "bucket", "value")
      .as[(Long, Long, Double)].collect().toSet
    assert(last === Set((101L, 0L, 300.0), (101L, 2L, 400.0)))

    // FirstWindow(predW = 48): eligibility is los >= 72 + 48 — stay 201
    // (los 100) is OUT despite its event fitting the input window, stay
    // 101 is in but its events all start past hour 72
    val first = TimeSeriesGenerator.bucketedFeatures(events, "hadm_id",
        "event_offset_h", "itemid", "val_cents", stays, "los_h",
        includeH = 72, bucketH = 24, window = FirstWindow(predWindowH = 48))
      .select("hadm_id", "bucket", "value")
      .as[(Long, Long, Double)].collect().toSet
    assert(first === Set.empty[(Long, Long, Double)])
    // predW = 0 contrast: stay 201 (los 100 >= 72) is back in
    val firstNoPredW = TimeSeriesGenerator.bucketedFeatures(events, "hadm_id",
        "event_offset_h", "itemid", "val_cents", stays, "los_h",
        includeH = 72, bucketH = 24, window = FirstWindow())
      .select("hadm_id", "bucket", "value")
      .as[(Long, Long, Double)].collect().toSet
    assert(firstNoPredW === Set((201L, 0L, 600.0)))
  }

  test("Generator med intervals: last-window shift keeps the straddler truncated") {
    // reference readmission_length meds branch (data_generation_icu.py:
    // 256-262): shift both ends by -select_time, keep stop >= 0, clamp
    // start < 0 → 0 — the interval STRADDLING the shifted zero survives
    // truncated where the point-event form would drop it
    val stays = Seq((101L, 240L), (301L, 48L)).toDF("hadm_id", "los_h")
    // stay 101: los 240, includeH 72 → select_time = 168
    val meds = Seq(
      (101L, 7L, 100L, 150L),  // shifted (−68, −18): stop < 0, DROPS
      (101L, 7L, 160L, 190L),  // shifted (−8, 22): STRADDLER → (0, 22)
      (101L, 9L, 200L, 220L),  // shifted (32, 52): fully inside
      (101L, 4L, 239L, 400L),  // shifted (71, 232): runs past the top
      (301L, 7L, 10L, 20L)     // los 48 < includeH → ineligible
    ).toDF("hadm_id", "itemid", "start_h", "stop_h")

    val clipped = TimeSeriesGenerator.shiftClipIntervals(meds, "hadm_id",
        "start_h", "stop_h", stays, "los_h", includeH = 72,
        window = LastWindow)
      .select("hadm_id", "itemid", "start_h", "stop_h")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(clipped === Set(
      (101L, 7L, 0L, 22L),    // straddler kept, start clamped to 0
      (101L, 9L, 32L, 52L),
      (101L, 4L, 71L, 232L))) // stop NOT clamped under LastWindow

    // bucket-grid active mask (24 h buckets over [0, 72) → 3 buckets):
    //  itemid 7: start b0, stop_b = ceil(22/24) = 1 → active in b0 only
    //  itemid 9: start b1, stop_b = ceil(52/24) = 3 → active in b1, b2
    //  itemid 4: start b2, stop_b = ceil(232/24) = 10 → active in b2
    val active = TimeSeriesGenerator.activeMedSignal(
        TimeSeriesGenerator.shiftClipIntervals(meds, "hadm_id", "start_h",
          "stop_h", stays, "los_h", includeH = 72, window = LastWindow),
        "hadm_id", "itemid", "start_h", "stop_h",
        includeH = 72, bucketH = 24)
      .select("hadm_id", "itemid", "bucket", "active")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(active === Set(
      (101L, 7L, 0L, 1), (101L, 7L, 1L, 0), (101L, 7L, 2L, 0),
      (101L, 9L, 0L, 0), (101L, 9L, 1L, 1), (101L, 9L, 2L, 1),
      (101L, 4L, 0L, 0), (101L, 4L, 1L, 0), (101L, 4L, 2L, 1)))
  }

  test("activeMedSignal: same-bucket intervals take the MAX stop; positional ffill") {
    // two intervals starting in bucket 0 — the longer one's stop wins the
    // bucket (MAX agg); a later short interval at bucket 1 then
    // positionally ffills OVER it, ending the signal early (the pandas
    // stop_time ffill, not a running max)
    val meds = Seq(
      (1L, 7L, 0L, 10L),   // b0, stop_b 1
      (1L, 7L, 5L, 70L),   // b0, stop_b 3 — wins bucket 0
      (1L, 7L, 30L, 40L),  // b1, stop_b 2 — ffills over the 3
      (1L, 9L, 100L, 120L) // start >= includeH: ignored entirely
    ).toDF("hadm_id", "itemid", "start_h", "stop_h")
    val got = TimeSeriesGenerator.activeMedSignal(meds, "hadm_id", "itemid",
        "start_h", "stop_h", includeH = 72, bucketH = 24)
      .select("hadm_id", "itemid", "bucket", "active")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got === Set(
      (1L, 7L, 0L, 1),  // ff=3 > 0
      (1L, 7L, 1L, 1),  // ff=2 > 1 (bucket-1 stop REPLACES bucket-0's 3)
      (1L, 7L, 2L, 0))) // ff=2 > 2 false — early end, and itemid 9 absent
  }

  test("Generator med intervals: first-window least-clip + predW gate") {
    // reference mortality_length meds branch (data_generation_icu.py:
    // 186-189): keep start <= includeH, clamp stop > includeH → includeH,
    // eligibility los >= includeH + predW
    val stays = Seq((101L, 240L), (201L, 100L)).toDF("hadm_id", "los_h")
    val meds = Seq(
      (101L, 7L, 10L, 50L),    // inside, untouched
      (101L, 9L, 60L, 100L),   // stop clamps 100 → 72
      (101L, 4L, 80L, 120L),   // start > 72, drops
      (201L, 7L, 10L, 20L)     // los 100 < 72 + 48 → gated out
    ).toDF("hadm_id", "itemid", "start_h", "stop_h")

    val clipped = TimeSeriesGenerator.shiftClipIntervals(meds, "hadm_id",
        "start_h", "stop_h", stays, "los_h", includeH = 72,
        window = FirstWindow(predWindowH = 48))
      .select("hadm_id", "itemid", "start_h", "stop_h")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(clipped === Set(
      (101L, 7L, 10L, 50L),
      (101L, 9L, 60L, 72L)))  // the P12 least-clip

    // predW = 0 contrast: stay 201 (los 100 >= 72) is back in
    val noPredW = TimeSeriesGenerator.shiftClipIntervals(meds, "hadm_id",
        "start_h", "stop_h", stays, "los_h", includeH = 72,
        window = FirstWindow())
      .select("hadm_id", "itemid", "start_h", "stop_h")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(noPredW contains ((201L, 7L, 10L, 20L)))
  }

  test("activeMedSignal: a start before admission feeds no fill, its pair keeps the grid") {
    // FirstWindow keeps a med that started before admission (start <= includeH,
    // no lower bound): its start bucket is negative, off the [0, nB) grid
    val stays = Seq((1L, 240L)).toDF("hadm_id", "los_h")
    val meds = Seq(
      (1L, 5L, -30L, 40L),  // only interval of itemid 5: b -2, stop_b 2
      (1L, 7L, -30L, 60L),  // b -2, stop_b 3 — must not fill bucket 0
      (1L, 7L, 30L, 40L)    // b 1, stop_b 2
    ).toDF("hadm_id", "itemid", "start_h", "stop_h")
    val got = TimeSeriesGenerator.activeMedSignal(
        TimeSeriesGenerator.shiftClipIntervals(meds, "hadm_id", "start_h",
          "stop_h", stays, "los_h", includeH = 72, window = FirstWindow()),
        "hadm_id", "itemid", "start_h", "stop_h", includeH = 72, bucketH = 24)
      .select("hadm_id", "itemid", "bucket", "active")
      .as[(Long, Long, Long, Int)].collect().sorted.toSeq
    assert(got === Seq(
      (1L, 5L, 0L, 0), (1L, 5L, 1L, 0), (1L, 5L, 2L, 0),
      (1L, 7L, 0L, 0), (1L, 7L, 1L, 1), (1L, 7L, 2L, 0)))
  }

  test("densifyAndImpute: all-null series stays null, null buckets are filled over") {
    val bucketed = Seq[(Long, String, Long, Option[Double])](
      (1L, "a", 0L, Some(10.0)), (1L, "a", 1L, Some(20.0)),
      (1L, "a", 2L, None), (1L, "a", 3L, Some(40.0)),
      (1L, "b", 0L, None), (1L, "b", 1L, Some(5.0)),
      (1L, "c", 1L, None), (1L, "c", 3L, None),
      (1L, "d", 7L, Some(1.0))  // off the grid only
    ).toDF("hadm_id", "code", "bucket", "value")
    val dense = TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "code", nBuckets = 5)
    assert(dense.columns.toSeq === Seq("hadm_id", "code", "bucket", "value", "value_imputed"))
    val got = dense.as[(Long, String, Long, Option[Double], Option[Double])].collect()
      .groupBy(_._2).map { case (c, rs) => c -> rs.sortBy(_._3).map(r => (r._4, r._5)).toSeq }
    val (n, d) = (None, (x: Double) => Some(x))
    assert(got("a") === Seq((d(10), d(10)), (d(20), d(20)), (n, d(20)), (d(40), d(40)), (n, d(40))))
    assert(got("b") === Seq((n, d(5)), (d(5), d(5)), (n, d(5)), (n, d(5)), (n, d(5))))
    assert(got("c") === Seq.fill(5)((n, n)))
    assert(got("d") === Seq.fill(5)((n, n)))
  }

  test("densifyAndImpute and activeMedSignal plan no Window and no join") {
    val bucketed = Seq((1L, "a", 0L, 1.0), (1L, "a", 2L, 2.0))
      .toDF("hadm_id", "code", "bucket", "value")
    val meds = Seq((1L, 7L, 0L, 30L)).toDF("hadm_id", "itemid", "start_h", "stop_h")
    for (df <- Seq(
        TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "code", nBuckets = 3),
        TimeSeriesGenerator.activeMedSignal(meds, "hadm_id", "itemid", "start_h",
          "stop_h", includeH = 72, bucketH = 24))) {
      val plan = df.queryExecution.sparkPlan
      val bad = plan.collect { case p if Seq("Window", "Join", "Cartesian")
        .exists(p.nodeName.contains) => p.nodeName }
      assert(bad.isEmpty, s"${bad.mkString(", ")} in\n$plan")
      assert(plan.collect { case p if p.nodeName == "Generate" => p }.size === 1)
    }
  }

  test("facade dialect: ICU stay_id/intime/outtime bindings are bit-identical") {
    // the reference's ICU flag swaps hadm_id/admittime/dischtime for
    // stay_id/intime/outtime (day_intervals_cohort.py:282-307); the
    // facade handles it purely by CohortConfig bindings — prove the WHOLE
    // tensor path (cohort → events → bucketize → densify+impute) emits
    // bit-identical rows under the ICU names
    val meas = Seq(
      (101L, 7L, ts("2020-01-01 05:00:00"), 500L), // offset 5 → bucket 0
      (101L, 7L, ts("2020-01-02 01:00:00"), 700L), // offset 25 → bucket 1
      (101L, 7L, ts("2020-01-04 00:00:00"), 900L), // offset 72 → clipped
      (201L, 9L, ts("2020-02-02 00:00:00"), 300L)  // offset 24 → bucket 1
    ).toDF("hadm_id", "itemid", "charttime", "val_cents")

    def tensors(visits: org.apache.spark.sql.DataFrame,
        evts: org.apache.spark.sql.DataFrame, c: CohortConfig) = {
      val cohort = CohortExtractor.extract(visits, patients, c)
      val ev = FeatureExtractor.eventsForCohort(evts, cohort,
        c.visitKey, "charttime", c.admitCol)
      val bucketed = TimeSeriesGenerator.bucketedFeatures(ev, c.visitKey,
        "event_offset_h", "itemid", "val_cents", includeH = 72, bucketH = 24)
      TimeSeriesGenerator.densifyAndImpute(bucketed, c.visitKey, "itemid",
          nBuckets = 3)
        .select(col(c.visitKey), col("itemid"), col("bucket"),
          col("value_imputed"))
        .collect().map(_.toSeq).toSet
    }
    val hosp = tensors(admissions, meas,
      cfg.copy(task = Mortality("dod")))
    val icu = tensors(
      admissions.toDF("subject_id", "stay_id", "intime", "outtime"),
      meas.toDF("stay_id", "itemid", "charttime", "val_cents"),
      cfg.copy(visitKey = "stay_id", admitCol = "intime",
        dischCol = "outtime", task = Mortality("dod")))
    assert(icu === hosp)
    assert(hosp.nonEmpty)
  }

  test("ICD standardization: version-9 roots map first-match, 10 passes through") {
    val diagnoses = Seq(
      (101L, "4280", 9),   // root 428 → I50 (first match wins)
      (201L, "42822", 9),  // same root
      (202L, "I25", 10),   // passthrough
      (203L, "9999", 9)    // unmapped root → null
    ).toDF("hadm_id", "icd_code", "icd_version")
    val mapping = Seq(
      ("4280", "I50", 1L), ("4281", "I509", 2L), // same root 428: first by order wins
      ("4150", "I26", 3L)
    ).toDF("diagnosis_code", "icd10cm", "file_order")
    val got = FeatureExtractor.standardizeIcd(diagnoses, "icd_code", "icd_version",
        mapping, "diagnosis_code", "icd10cm", "file_order")
      .select("hadm_id", "root_icd10").as[(Long, Option[String])].collect().toMap
    assert(got === Map(101L -> Some("I50"), 201L -> Some("I50"),
      202L -> Some("I25"), 203L -> None))
  }

  test("lab visit-key imputation: enclosing admission, closest admit wins") {
    val labs = Seq(
      (2L, 50L, ts("2020-02-02 00:00:00")), // inside 201
      (2L, 51L, ts("2020-05-01 00:00:00")), // inside none
      (1L, 52L, ts("2020-01-05 00:00:00"))  // inside 101
    ).toDF("subject_id", "lab_id", "charttime")
    val got = FeatureExtractor.imputeVisitKey(labs, admissions,
        "subject_id", "charttime", "admittime", "dischtime")
      .select("lab_id", "imputed_admit").as[(Long, Option[Timestamp])].collect().toMap
    assert(got(50L).contains(ts("2020-02-01 00:00:00")))
    assert(got(51L).isEmpty)
    assert(got(52L).contains(ts("2020-01-01 00:00:00")))
  }

  test("measurement cleaning: UoM dominance then percentile clamp") {
    val chart = (1 to 97).map(i => (220045L, "bpm", i.toDouble)) ++
      Seq((220045L, "mmHg", 50.0)) ++ // 97/98 > 0.95 → dropped
      (1 to 10).map(i => (220210L, "rr", i.toDouble))
    val got = FeatureExtractor.cleanMeasurements(
      chart.toDF("itemid", "valueuom", "valuenum"),
      "itemid", "valueuom", "valuenum", 0.95, 0.0, 0.9)
    assert(got.filter($"valueuom" === "mmHg").count() === 0)
    val rr = got.filter($"itemid" === 220210L).select("valuenum").as[Double].collect()
    assert(rr.max === 9.1) // p90 of 1..10 (type-7) = 9.1
  }

  test("feature summary + user selection flow") {
    // a null visit is a visit group of its own; a null code is left out
    val events = Seq[(Option[Long], String, Option[Double])](
      (Some(101L), "hr", Some(80.0)), (Some(101L), "hr", Some(85.0)),
      (Some(201L), "hr", None), (Some(101L), "rr", Some(20.0)),
      (Some(201L), "bp", Some(0.0)), (None, "rr", Some(22.0)), (Some(301L), null, Some(1.0))
    ).toDF("hadm_id", "code", "valuenum")
    val summary = FeatureSelector.summary(events, "hadm_id", "code", $"valuenum")
    assert(summary.columns.toSeq ===
      Seq("code", "mean_frequency", "missing_count", "total_count", "missing_rate"))
    val summ = summary.collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(summ.keySet === Set("hr", "rr", "bp"))
    assert(summ("hr") === ((1.5, 1L, 3L, 0.333333))) // avg of counts {2,1}; one null
    assert(summ("bp") === ((1.0, 1L, 1L, 1.0)))      // zero counts as missing
    assert(summ("rr") === ((1.0, 0L, 2L, 0.0)))      // visits {101, null}
    val kept = FeatureSelector.select(events, "code", Seq("hr").toDF("c"))
    assert(kept.count() === 3)
  }

  test("drug normalization: name, NDC pad, EPC extraction") {
    val meds = Seq(
      ("  Aspirin EC ", Some(6822070L), "Analgesic [EPC],Salicylate [Chemical]"),
      ("warfarin", None, "Anticoagulant [EPC],Vitamin K Antagonist [EPC]")
    ).toDF("drug", "ndc", "pharm_classes")
    val got = meds.select(
      DrugMapper.normalizeName($"drug").as("n"),
      DrugMapper.padNdc($"ndc").as("p"),
      DrugMapper.epcClasses($"pharm_classes").as("e"))
      .as[(String, Option[String], Seq[String])].collect()
    assert(got(0) === (("aspirin_ec", Some("00006822070"), Seq("Analgesic [EPC]"))))
    assert(got(1)._2.isEmpty)
    assert(got(1)._3 === Seq("Anticoagulant [EPC]", "Vitamin K Antagonist [EPC]"))
  }

  test("composed drug mapping: normalize → NDC sections → keep-first join → EPC") {
    // prescriptions: one joinable 11-digit code (leading zeros lost), one
    // null NDC (reference nan → dropped by the inner join), one code with
    // no mapping row
    val meds = Seq(
      (101L, "  Aspirin EC ", Some(6822070L)), // → sections 00006-8220
      (102L, "warfarin", None),
      (103L, "ghost drug", Some(99999999999L))
    ).toDF("hadm_id", "drug", "ndc")
    // mapping: unpadded 5-4 sections; a (new_ndc, name) DUP row with a
    // decoy class that keep-first must NOT pick; a second name for the
    // same product code (legitimate fan-out, kept)
    val mapping = Seq(
      ("6-8220", "ASPIRIN", "Analgesic [EPC],Salicylate [Chem]", 1L),
      ("6-8220", "ASPIRIN", "Decoy [EPC]", 2L),
      ("6-8220", "aspirin ec", "NSAID [EPC]", 3L)
    ).toDF("productndc", "nonproprietaryname", "pharm_classes", "map_order")
    val got = DrugMapper.mapMeds(meds, "drug", "ndc", mapping,
        "productndc", "nonproprietaryname", "pharm_classes", "map_order")
      .select($"hadm_id", $"drug", $"new_ndc", $"nonproprietaryname",
        array_join($"epc", "|").as("epc"))
      .as[(Long, String, String, String, String)].collect().sorted
    assert(got.length === 2) // null + unmapped NDCs dropped, 101 fans to 2
    assert(got(0) === ((101L, "aspirin_ec", "000068220", "aspirin",
      "Analgesic [EPC]")))
    assert(got(1) === ((101L, "aspirin_ec", "000068220", "aspirin ec",
      "NSAID [EPC]")))
  }

  test("golden end-to-end: cohort → events → tall time-series matrix, counts and content pinned") {
    // the reference's printed-count ritual (day_intervals_cohort.py:355-365)
    // as assertions: every stage's cardinality plus the full content of the
    // final tall matrix for one (visit, code) series, plus a determinism
    // check on the whole frame
    val cohort = CohortExtractor.extract(admissions, patients, cfg.copy(task = Mortality("dod")))
    assert(cohort.count() === 4) // 301 filtered by age

    val events = Seq(
      (101L, "hr", ts("2020-01-01 01:30:00"), 80.0),
      (101L, "hr", ts("2020-01-01 05:00:00"), 90.0),
      (101L, "rr", ts("2020-01-01 02:00:00"), 20.0),
      (201L, "hr", ts("2020-02-01 00:30:00"), 70.0),
      (201L, "hr", ts("2020-01-31 23:00:00"), 65.0), // pre-admit → dropped
      (203L, "hr", ts("2020-06-01 03:10:00"), 75.0)
    ).toDF("hadm_id", "code", "charttime", "valuenum")

    val evc = FeatureExtractor.eventsForCohort(events, cohort,
      "hadm_id", "charttime", "admittime")
    assert(evc.count() === 5)

    val bucketed = TimeSeriesGenerator.bucketedFeatures(evc,
      "hadm_id", "event_offset_h", "code", "valuenum", includeH = 24, bucketH = 2)
    assert(bucketed.count() === 5) // one bucket per event here

    val dense = TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "code", nBuckets = 12)
    assert(dense.count() === 4 * 12) // 4 (visit, code) series × full grid

    val hr101 = dense.filter($"hadm_id" === 101L && $"code" === "hr")
      .select("bucket", "value_imputed").as[(Long, Double)].collect().toMap
    assert(hr101 === (0L to 11L).map(b =>
      b -> (if (b < 1) 80.0 else if (b < 2) 80.0 else 90.0)).toMap)

    def matrixHash(): Long = dense
      .select(bit_xor(xxhash64($"hadm_id", $"code", $"bucket",
        round($"value_imputed", 6))))
      .collect()(0).getLong(0)
    assert(matrixHash() === matrixHash(), "tall matrix content is deterministic")
  }

  test("time-series generation: clip, bucket, densify, ffill/bfill impute") {
    val events = Seq(
      (101L, "hr", 1.0, 80.0),   // bucket 0
      (101L, "hr", 5.0, 90.0),   // bucket 2
      (101L, "hr", 30.0, 99.0),  // beyond include window → clipped
      (101L, "rr", 3.0, 20.0)    // bucket 1 only
    ).toDF("hadm_id", "code", "event_offset_h", "valuenum")
    val bucketed = TimeSeriesGenerator.bucketedFeatures(events,
      "hadm_id", "event_offset_h", "code", "valuenum", includeH = 24, bucketH = 2)
    val dense = TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "code", nBuckets = 4)
    val hr = dense.filter($"code" === "hr")
      .select("bucket", "value_imputed").as[(Long, Double)].collect().toMap
    assert(hr === Map(0L -> 80.0, 1L -> 80.0, 2L -> 90.0, 3L -> 90.0)) // ffill
    val rr = dense.filter($"code" === "rr")
      .select("bucket", "value_imputed").as[(Long, Double)].collect().toMap
    assert(rr === Map(0L -> 20.0, 1L -> 20.0, 2L -> 20.0, 3L -> 20.0)) // bfill head, ffill tail
  }

  test("stay-tensor export: code -> bucket-ordered series map, typed record boundary") {
    val tall = Seq(
      (101L, "hr", 2L, 90.0), (101L, "hr", 0L, 80.0), (101L, "hr", 1L, 85.0),
      (101L, "rr", 0L, 20.0),
      (201L, "hr", 5L, 70.0))
      .toDF("hadm_id", "code", "bucket", "value")
    val tensors = TimeSeriesGenerator.stayTensors(tall, "hadm_id", "code", "bucket", "value")
    val recs = TimeSeriesGenerator.toStayRecords(tensors, "hadm_id")
      .collect().map(r => r.stay_id -> r.series).toMap
    assert(recs(101L) === Map("hr" -> Seq(80.0, 85.0, 90.0), "rr" -> Seq(20.0)))
    assert(recs(201L) === Map("hr" -> Seq(70.0)))
  }
}
