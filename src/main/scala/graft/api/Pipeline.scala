package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators._

/** Typed façade mirroring the reference's notebook surface
  * (`mainPipeline.ipynb` cells → SURVEY.md §3): cohort extraction,
  * per-modality feature extraction, and time-series generation, wired from
  * the engine's operator combinators. Column names are configuration, not
  * convention — the same pipeline runs on MIMIC-shaped tables or any other
  * visit/event schema.
  */
sealed trait Task

/** Label 1 iff `deathCol` falls inside the visit window
  * (reference `day_intervals_cohort.py:180-213`).
  */
case class Mortality(deathCol: String) extends Task

/** Label 1 iff another visit of the same subject starts after this visit's
  * end and within `gapDays` of it (reference `:136-177`, with its
  * `admit_j > disch_i` guard `:158-161`; boundary inclusive, last visit
  * control) — exact on overlapping stays too
  * ([[graft.operators.CohortOps.nextWithinGapLabelRange]]).
  */
case class Readmission(gapDays: Int) extends Task

/** Label 1 iff the visit lasts at least `thresholdDays`
  * (reference `:114-133`).
  */
case class LengthOfStay(thresholdDays: Int) extends Task

/** Visit-table column bindings + cohort filters. */
case class CohortConfig(
    subjectKey: String = "subject_id",
    visitKey: String = "hadm_id",
    admitCol: String = "admittime",
    dischCol: String = "dischtime",
    ageCol: String = "age",
    minAge: Int = 18,
    task: Task = Mortality("dod"))

/** §3.1 `extract_data` — one lazy DataFrame chain; the reference's per-group
  * Python label loops become window/scalar expressions (one shuffle max).
  */
object CohortExtractor {

  /** visits × patients (inner, on the subject key) + adult filter + label.
    * No broadcast hint on the patients side — a patient dimension is not
    * provably bounded (100 TB of visits implies a comparably huge patient
    * table); AQE broadcasts iff it is actually small.
    */
  def extract(visits: DataFrame, patients: DataFrame, cfg: CohortConfig): DataFrame = {
    val joined = visits
      .join(patients, Seq(cfg.subjectKey), "inner")
      .filter(col(cfg.ageCol) >= cfg.minAge)
    label(joined, cfg)
  }

  /** §3.1 disease-phenotype visit list (reference `disease_cohort.py:75-91`
    * behind `extract_diag_cohort`): diagnoses → ICD-9→10 3-char-root map
    * ([[FeatureExtractor.standardizeIcd]]) → drop unmapped codes (the
    * reference's `dropna(subset=["root"])`) → keep visits with at least
    * one converted root CONTAINING `icd10Code` (`diag.root.str.contains`;
    * plain substring here — ICD category arguments like "I50" carry no
    * regex metacharacters) → distinct visit keys. One bounded-dimension
    * broadcast join + one distinct — the result is a keep-list frame,
    * orders of magnitude smaller than the visit fact.
    */
  def diseaseVisits(diagnoses: DataFrame, visitKey: String, codeCol: String,
      versionCol: String, mapping: DataFrame, mapKey: String,
      mapValue: String, mapOrder: String, icd10Code: String): DataFrame =
    FeatureExtractor.standardizeIcd(diagnoses, codeCol, versionCol,
        mapping, mapKey, mapValue, mapOrder)
      .filter(col("root_icd10").isNotNull &&
        substring(col("root_icd10"), 1, 3).contains(icd10Code))
      .select(col(visitKey)).distinct()

  /** §3.1 `extract_data(disease_label=…)` — the composed phenotype branch:
    * the visit pool is semi-filtered to `diseaseIds` BEFORE labeling
    * (reference `day_intervals_cohort.py:37-40` — for readmission this is
    * load-bearing: "readmission due to X" counts only later DISEASE
    * visits, so a later unrelated admission must not flip the label). The
    * reference's second filter after labeling (`:342-347`) keeps exactly
    * the pre-filtered pool, so it is not repeated here. `diseaseIds` is any
    * one-column visit-key frame — [[diseaseVisits]] output plugs in
    * directly.
    */
  def extractPhenotype(visits: DataFrame, patients: DataFrame,
      cfg: CohortConfig, diseaseIds: DataFrame): DataFrame = {
    val keep = diseaseIds
      .select(col(diseaseIds.columns.head).as(cfg.visitKey)).distinct()
    extract(JoinOps.semiFilter(visits, Seq(cfg.visitKey), keep), patients, cfg)
  }

  def label(cohort: DataFrame, cfg: CohortConfig): DataFrame = cfg.task match {
    case Mortality(dod) =>
      CohortOps.intervalLabel(cohort, col(dod), col(cfg.admitCol), col(cfg.dischCol), "label")
    case Readmission(gap) =>
      CohortOps.nextWithinGapLabelRange(cohort, cfg.subjectKey, cfg.admitCol,
        cfg.dischCol, cfg.visitKey, expr(s"INTERVAL ${gap} DAYS"), "label")
    case LengthOfStay(days) =>
      CohortOps.thresholdLabel(cohort,
        col(cfg.dischCol) - col(cfg.admitCol), expr(s"INTERVAL ${days} DAYS"), "label")
  }
}

/** §3.2 `feature_icu` / `feature_nonicu` — per-modality extraction against
  * the cohort. Every step is a combinator from `graft.operators`. No join
  * here forces a broadcast of the cohort: AQE picks the build side from
  * runtime sizes, and at small sizes it broadcasts whichever side is
  * smaller — in the `icu_tensors` benchmark that is the event side.
  */
object FeatureExtractor {

  /** J3 + J6 + F2: semi-filter events to the cohort, attach the admit time,
    * add `event_offset_h` = floor hours from admit (the reference's
    * string-split idiom, `data_generation_icu.py:62-67`), drop pre-admit
    * events (P7 sanity).
    *
    * The cohort side is joined WITHOUT a forced broadcast: a cohort at the
    * 100 TB design point is 10⁸+ visits — not a driver-side table. AQE
    * broadcasts iff the projected (visitKey, admitCol) frame is actually
    * under the threshold; otherwise the join shuffles on the visit key,
    * which is also the downstream grouping key, so the exchange is reused.
    */
  def eventsForCohort(events: DataFrame, cohort: DataFrame, visitKey: String,
      timeCol: String, admitCol: String): DataFrame =
    events
      .join(cohort.select(col(visitKey), col(admitCol)), Seq(visitKey), "inner")
      .withColumn("event_offset_h",
        floor((unix_timestamp(col(timeCol)) - unix_timestamp(col(admitCol))) / 3600L))
      .filter(col("event_offset_h") >= 0)

  /** J10: ICD-9→10 root mapping. `mapping` rows: (diagnosis_code, icd10cm,
    * file order); first match per 3-char root wins; version-10 codes pass
    * through (reference `hosp_preprocess_util.py:402-430`).
    */
  def standardizeIcd(df: DataFrame, codeCol: String, versionCol: String,
      mapping: DataFrame, mapKey: String, mapValue: String, mapOrder: String): DataFrame = {
    val rootMap = JoinOps.firstMatchLookup(
      mapping.withColumn(mapKey, substring(col(mapKey), 1, 3)), mapKey, mapValue, mapOrder)
    df.withColumn("__root", substring(col(codeCol), 1, 3))
      .join(broadcast(rootMap.select(col(mapKey).as("__root"), col(mapValue).as("__mapped"))),
        Seq("__root"), "left")
      .withColumn("root_icd10",
        when(col(versionCol) === 9, col("__mapped")).otherwise(col(codeCol)))
      .drop("__root", "__mapped")
  }

  /** A5 + A6: unit-of-measure dominance cleanup then per-code percentile
    * clamp (reference `uom_conversion.py` + `outlier_removal.py`).
    */
  def cleanMeasurements(df: DataFrame, codeCol: String, uomCol: String, valueCol: String,
      uomCutoff: Double, pctLo: Double, pctHi: Double): DataFrame = {
    val uomClean = CleaningOps.dominantCategoryFilter(df, codeCol, uomCol, uomCutoff)
    CleaningOps.percentileClamp(uomClean, codeCol, valueCol, pctLo, pctHi)
  }

  /** J11: impute missing visit keys on point events from enclosing visit
    * intervals (reference `labs_preprocess_util.py`).
    */
  def imputeVisitKey(points: DataFrame, visits: DataFrame, subjectKey: String,
      timeCol: String, admitCol: String, dischCol: String): DataFrame =
    JoinOps.asOfPointInInterval(points, visits, subjectKey, timeCol, admitCol, dischCol,
      "imputed_admit")
}

/** §3.2 summary + user-driven selection (reference `generate_summary_*` /
  * `features_selection_*`, `feature_selection_hosp.py:125-236`): per-code
  * frequency/missingness tables a user reviews, then a semi-join against
  * the (edited) kept-code list.
  */
object FeatureSelector {

  /** Per-code summary: mean events per (visit, code), missing count/rate of
    * `valueCol`, total rows — one chain of two hash aggregates, per (visit,
    * code) then per code. Events with a null code are left out.
    */
  def summary(events: DataFrame, visitKey: String, codeCol: String,
      valueCol: Column): DataFrame =
    events.filter(col(codeCol).isNotNull)
      .groupBy(col(visitKey), col(codeCol))
      .agg(count(lit(1)).as("__n"),
        sum(when(valueCol.isNull || valueCol === 0.0, 1L).otherwise(0L)).as("__miss"))
      .groupBy(col(codeCol))
      .agg(round(avg(col("__n")), 6).as("mean_frequency"),
        sum(col("__miss")).as("missing_count"),
        sum(col("__n")).as("total_count"))
      .withColumn("missing_rate",
        round(col("missing_count").cast("double") / col("total_count"), 6))

  /** Keep only events whose code is in the reviewed list (P6 semi-join —
    * the reference re-reads a user-edited CSV; any one-column frame works).
    */
  def select(events: DataFrame, codeCol: String, keep: DataFrame): DataFrame =
    graft.operators.JoinOps.semiFilter(events, Seq(codeCol),
      keep.select(keep.columns.head).toDF(codeCol))
}

/** Drug/NDC normalization (reference `hosp_preprocess_util.py:192-273`):
  * name cleanup, 11-digit NDC zero-padding, and EPC pharmacological-class
  * extraction from a bracket-tagged list column.
  */
object DrugMapper {

  /** `lower().strip().replace(" ", "_")` (reference `:202-204`). */
  def normalizeName(c: Column): Column =
    regexp_replace(lower(trim(c)), " ", "_")

  /** Zero-pad an NDC code to 11 digits (reference `:228-240`); null-safe. */
  def padNdc(c: Column): Column =
    when(c.isNull, lit(null)).otherwise(lpad(c.cast("string"), 11, "0"))

  /** Extract "[EPC]"-tagged entries from a comma-joined class list
    * (reference `:263-271`) as an array column — a higher-order filter,
    * no UDF.
    */
  def epcClasses(pharmClasses: Column): Column =
    filter(split(pharmClasses, ","), x => x.contains("[EPC]"))

  /** Prescription-side 9-digit product NDC (reference `ndc_meds.to_str`,
    * `hosp_preprocess_util.py:228-240`): the numeric code lost its leading
    * zeros to a float→int round trip, so restore to 11 digits and keep the
    * manufacturer+product sections (drop the 2-digit dosage). Null and the
    * reference's negative fill-value both map to null (dropped by the
    * inner brand→generic join, exactly as the reference's nan rows are).
    */
  def newNdc(ndc: Column): Column =
    when(ndc.isNull || ndc < 0, lit(null).cast("string"))
      .otherwise(substring(lpad(ndc.cast("long").cast("string"), 11, "0"), 1, 9))

  /** Mapping-side product NDC normalization (reference `format_ndc_table`,
    * `:241-247`): the table writes `mfr-prod[-dose]` with UNPADDED
    * sections; left-pad to the 5-4 layout and drop any dosage section.
    */
  def formatNdcTable(productNdc: Column): Column = {
    val parts = split(productNdc, "-")
    concat(lpad(element_at(parts, 1), 5, "0"),
      lpad(element_at(parts, 2), 4, "0"))
  }

  /** The COMPOSED non-ICU meds-normalization chain (reference
    * `preproc_meds`/`ndc_meds`, `hosp_preprocess_util.py:195-273`), the
    * whole lifecycle branch in one call: name normalize → prescription
    * NDC 11-digit pad + section keep → mapping-table NDC 5-4 reformat →
    * first-match dedup of the brand→generic table → inner join → EPC
    * class extraction. The mapping table is a bounded dimension (FDA NDC
    * directory: ~10⁵ rows against a 100 TB prescription fact) — dedup'd
    * with one small shuffle, then BROADCAST into the join so the fact
    * table never moves.
    *
    * Dedup mirrors the reference's `drop_duplicates(['new_ndc',
    * 'nonproprietaryname'])` keep-first: first = minimal `orderCol`
    * (file order in the reference; any stable priority here), picked via
    * an order-free min(struct) aggregate, not a window.
    */
  def mapMeds(meds: DataFrame, drugCol: String, ndcCol: String,
      mapping: DataFrame, productCol: String, nameCol: String,
      classCol: String, orderCol: String): DataFrame = {
    val medsNorm = meds
      .withColumn(drugCol, normalizeName(col(drugCol)))
      .withColumn("new_ndc", newNdc(col(ndcCol)))
    val mapNorm = mapping.select(
      formatNdcTable(col(productCol)).as("new_ndc"),
      lower(coalesce(col(nameCol), lit(""))).as("nonproprietaryname"),
      col(classCol).cast("string").as("__cls"),
      col(orderCol).cast("long").as("__ord"))
    val mapDedup = mapNorm
      .groupBy(col("new_ndc"), col("nonproprietaryname"))
      .agg(min(struct(col("__ord"), col("__cls"))).getField("__cls")
        .as(classCol))
    medsNorm
      .join(broadcast(mapDedup), Seq("new_ndc"))
      .withColumn("epc", epcClasses(col(classCol)))
  }
}

/** The reference's final artifact: a nested per-stay dictionary
  * `dataDic[stay_id][itemid] -> List[Double]` pickled to disk
  * (`data_generation_icu.py:441-729`, consumed `model_utils.py:38-63`) —
  * here a typed record with a map of bucket-ordered series, written as
  * parquet (types preserved, splittable, partition-prunable).
  */
case class StayRecord(stay_id: Long, series: Map[String, Seq[Double]])

/** §3.3 task-window modes — WHICH `includeH`-hour slice of each eligible
  * stay feeds the tensor (the reference Generator's three `*_length`
  * branches, `data_generation_icu.py:172-283`).
  */
sealed trait TaskWindow

/** The FIRST `includeH` hours of the stay (the mortality / LoS shape):
  * events at offsets `[0, includeH)` survive, and eligibility is
  * `los ≥ includeH + predWindowH` — `predWindowH` reserves the label
  * window AFTER the inputs, the mortality branch's extra gate
  * (`mortality_length`, reference `data_generation_icu.py:172-206`;
  * `los_length` is the same shape with predW = 0).
  */
final case class FirstWindow(predWindowH: Int = 0) extends TaskWindow

/** The LAST `includeH` hours of the stay (the readmission shape):
  * `select_time = los − includeH`, event offsets shift by −select_time,
  * and events before the shifted zero drop (`readmission_length`,
  * reference `data_generation_icu.py:243-283`). Eligibility is
  * `los ≥ includeH`.
  */
case object LastWindow extends TaskWindow

/** §3.3 `Generator` — tall-first time-series representation: one frame
  * (visit, bucket, code, value), never a per-visit loop. Pivot only at
  * export (`TimeSeriesOps.pivotMatrix`).
  */
object TimeSeriesGenerator {

  /** Window-clip (P8/P12) + bucketize (half-open, floor) + per-bucket agg
    * (A4: mean of values per (visit, code, bucket)).
    */
  def bucketedFeatures(events: DataFrame, visitKey: String, offsetH: String,
      codeCol: String, valueCol: String, includeH: Int, bucketH: Int): DataFrame =
    TimeSeriesOps.bucketize(
        events.filter(col(offsetH) < includeH),
        col(offsetH), lit(bucketH), "bucket")
      .groupBy(col(visitKey), col(codeCol), col("bucket"))
      .agg(avg(col(valueCol)).as("value"))

  /** [[bucketedFeatures]] with the task-window mode and stay-length
    * eligibility as facade config: `stayLos` is `(visitKey, losCol)` in
    * HOURS (one row per stay), `window` picks the slice.
    *
    *  - [[FirstWindow]]: stays with `los ≥ includeH + predW` keep their
    *    first `includeH` hours (`offset < includeH`).
    *  - [[LastWindow]]: stays with `los ≥ includeH` keep their last
    *    `includeH` hours — offsets shift by `−(los − includeH)` so the
    *    kept slice re-zeroes onto the same `[0, includeH)` bucket grid,
    *    and events before the shifted zero drop (point-event form; an
    *    interval straddling the boundary should be clipped upstream the
    *    way the reference clamps med start times to 0).
    */
  def bucketedFeatures(events: DataFrame, visitKey: String, offsetH: String,
      codeCol: String, valueCol: String, stayLos: DataFrame, losCol: String,
      includeH: Int, bucketH: Int, window: TaskWindow): DataFrame = {
    val rows = eligibleRows(events, visitKey, stayLos, losCol, includeH, window)
    val (kept, off) = window match {
      case _: FirstWindow => (rows, offsetH)
      case LastWindow => (rows.withColumn("__off", col(offsetH) - col("__select"))
        .filter(col("__off") >= 0), "__off")
    }
    bucketedFeatures(kept, visitKey, off, codeCol, valueCol, includeH, bucketH)
  }

  /** Interval-event (meds) window preparation — the Generator's med branch
    * under each task window, which differs from the point-event form
    * because a med interval STRADDLING the window boundary survives,
    * truncated, instead of dropping:
    *
    *  - [[FirstWindow]]: keep intervals with `start ≤ includeH`, clamp
    *    `stop > includeH → includeH` (reference `mortality_length` /
    *    `los_length` meds branch, `data_generation_icu.py:186-189,219-222`
    *    — the P12 `least`-clip, gated by `los ≥ includeH + predW`).
    *  - [[LastWindow]]: shift both ends by `−select_time` where
    *    `select_time = los − includeH`, keep `stop ≥ 0`, clamp
    *    `start < 0 → 0` (reference `readmission_length` meds branch,
    *    `data_generation_icu.py:256-262`) — an interval that straddles the
    *    shifted zero survives with its pre-window part truncated; one that
    *    ends before it drops.
    *
    * Columns other than `startCol`/`stopCol` pass through untouched.
    */
  def shiftClipIntervals(intervals: DataFrame, visitKey: String,
      startCol: String, stopCol: String, stayLos: DataFrame, losCol: String,
      includeH: Int, window: TaskWindow): DataFrame = {
    val rows = eligibleRows(intervals, visitKey, stayLos, losCol, includeH, window)
    window match {
      case _: FirstWindow =>
        rows.filter(col(startCol) <= includeH)
          .withColumn(stopCol, least(col(stopCol), lit(includeH)))
      case LastWindow =>
        rows.withColumn(startCol, col(startCol) - col("__select"))
          .withColumn(stopCol, col(stopCol) - col("__select"))
          .filter(col(stopCol) >= 0)
          .withColumn(startCol, greatest(col(startCol), lit(0)))
          .drop("__select")
    }
  }

  /** Rows of the stays eligible under `window`, by a visit-keyed semi join
    * or, for [[LastWindow]], an inner one adding `__select = los − includeH`.
    */
  private def eligibleRows(rows: DataFrame, visitKey: String, stayLos: DataFrame,
      losCol: String, includeH: Int, window: TaskWindow): DataFrame = window match {
    case FirstWindow(predW) =>
      rows.join(stayLos.filter(col(losCol) >= includeH + predW).select(col(visitKey)),
        Seq(visitKey), "left_semi")
    case LastWindow =>
      rows.join(stayLos.filter(col(losCol) >= includeH)
        .select(col(visitKey), (col(losCol) - includeH).as("__select")), Seq(visitKey))
  }

  /** Med-active mask of window-prepared intervals on the [[bucketGrid]]
    * kernel (reference `data_generation_icu.py:497-501`): an interval with
    * `start < includeH` is an entry at its start bucket carrying the stop
    * bucket `(stop + bucketH − 1) div bucketH`, and a bucket is active while
    * the latest (largest within a bucket) stop at or before it is ahead of
    * it — W5's positional ffill. An entry off the grid (negative start)
    * feeds no fill, but its (visit, code) still gets all its rows.
    */
  def activeMedSignal(intervals: DataFrame, visitKey: String, codeCol: String,
      startCol: String, stopCol: String, includeH: Int, bucketH: Int): DataFrame =
    bucketGrid(intervals.filter(col(startCol) < includeH), visitKey, codeCol,
        floor(col(startCol) / bucketH).cast("long"),
        expr(s"(`$stopCol` + ${bucketH - 1}) div $bucketH").cast("long"),
        includeH / bucketH)
      .select(col(visitKey), col(codeCol), col("bucket"),
        when(col("__at.v") > col("bucket"), 1).otherwise(0).as("active"))

  /** §3.3 export — collapse the tall frame into one row per stay with a
    * code → bucket-ordered value series map (the reference's nested
    * `dataDic`, `data_generation_icu.py:441-729`). Two hash aggregates:
    * per (stay, code) the values of [[sortedEntries]], then per stay the
    * code map by `map_from_entries`. Series length is bounded by the bucket
    * grid and the map by the curated code vocabulary, so rows stay small no
    * matter the corpus size.
    */
  def stayTensors(tall: DataFrame, visitKey: String, codeCol: String,
      bucketCol: String, valueCol: String): DataFrame =
    tall
      .groupBy(col(visitKey), col(codeCol))
      .agg(transform(sortedEntries(col(bucketCol), col(valueCol)), x => x.getField("v"))
        .as("__series"))
      .groupBy(col(visitKey))
      // entries sorted by code before map assembly: collect_list order is
      // partition/merge-order dependent, and while map CONTENT would be
      // identical either way, the serialized entry order (parquet bytes,
      // to_json) would vary run to run — the sort is bounded by the
      // curated vocabulary, so it costs nothing at scale
      .agg(map_from_entries(
        array_sort(collect_list(struct(col(codeCol), col("__series")))))
        .as("series"))

  /** Typed boundary for the export (SURVEY §1.1): the parquet-writable
    * `Dataset[StayRecord]`.
    */
  def toStayRecords(tensors: DataFrame, visitKey: String): Dataset[StayRecord] = {
    val spark = tensors.sparkSession
    import spark.implicits._
    tensors.select(col(visitKey).cast("long").as("stay_id"), col("series"))
      .as[StayRecord]
  }

  /** Densify every (visit, code) to the grid `[0, nBuckets)` on the
    * [[bucketGrid]] kernel and impute ffill → bfill (`data_generation_icu.py:
    * 620-630`): the latest non-null value at or before the bucket, else the
    * series' first. The reference's third step, the series mean, can never
    * fire: after both fills a series has a value in every bucket, or none.
    */
  def densifyAndImpute(bucketed: DataFrame, visitKey: String, codeCol: String,
      nBuckets: Int): DataFrame =
    bucketGrid(bucketed, visitKey, codeCol, col("bucket"), col("value"), nBuckets)
      .select(col(visitKey), col(codeCol), col("bucket"),
        when(col("__at.b") === col("bucket"), col("__at.v")).as("value"),
        coalesce(col("__at.v"), try_element_at(col("__obs"), lit(1)).getField("v"))
          .cast("double").as("value_imputed"))

  /** The group's `struct(b, v)` entries, sorted by bucket then value. */
  private def sortedEntries(bucket: Column, value: Column): Column =
    array_sort(collect_list(struct(bucket.as("b"), value.as("v"))))

  /** One row per (visit, code) of `df` and bucket of `[0, nB)`, no join or
    * window: one `groupBy` keeps the [[sortedEntries]] inside the grid with
    * a non-null value as `__obs` (none under a null key, which an equi-join
    * never matches), one `explode` builds the grid, and `__at` is the last
    * `__obs` entry at or before the row's bucket. `__obs` is its own column
    * because a lambda re-evaluates a captured expression per element.
    */
  private def bucketGrid(df: DataFrame, visitKey: String, codeCol: String,
      bucket: Column, value: Column, nB: Long): DataFrame =
    df.groupBy(col(visitKey), col(codeCol))
      .agg(sortedEntries(when(col(visitKey).isNotNull && col(codeCol).isNotNull, bucket),
        value).as("__obs"))
      .withColumn("__obs", filter(col("__obs"),
        e => e("b") >= 0 && e("b") < nB && e("v").isNotNull))
      .withColumn("bucket", explode(sequence(lit(0L), lit(nB - 1L))))
      .withColumn("__at", try_element_at(
        filter(col("__obs"), e => e("b") <= col("bucket")), lit(-1)))
}
