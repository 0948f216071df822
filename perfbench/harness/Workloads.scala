package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._
import graft.dedup.DedupOps
import graft.functions.NotesNlp
import graft.operators.CleaningOps
import graft.sources.{Readers, Sinks}

/** What one pass returns: per-configuration latencies in seconds (one entry
  * for the single-configuration workloads), digests computed inside the
  * session (cohort_sweep), and the curation funnel (notes_curate).
  */
final case class PassOut(
    configs: Seq[(String, Double)],
    digests: Map[String, (Long, Long)] = Map.empty,
    report: Map[String, Long] = Map.empty)

/** The four workloads. Every call into a program module goes through the
  * tracer under its `<module>.<Object>.<fn>` name; the glue between calls
  * (column derivations, the top-K pick) is plain DataFrame code.
  */
object Workloads {
  val names = Seq("icu_tensors", "hosp_ingest", "cohort_sweep", "notes_curate")

  private val ts = TimestampType
  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val schemas: Map[String, StructType] = Map(
    "patients" -> schema("subject_id" -> LongType, "gender" -> StringType,
      "age" -> IntegerType, "dod" -> ts),
    "admissions" -> schema("subject_id" -> LongType, "hadm_id" -> LongType,
      "admittime" -> ts, "dischtime" -> ts),
    "chartevents" -> schema("hadm_id" -> LongType, "itemid" -> IntegerType,
      "charttime" -> ts, "valuenum" -> DoubleType, "valueuom" -> StringType),
    "inputevents" -> schema("hadm_id" -> LongType, "itemid" -> IntegerType,
      "starttime" -> ts, "endtime" -> ts),
    "labevents" -> schema("labevent_id" -> LongType, "subject_id" -> LongType,
      "hadm_id" -> LongType, "itemid" -> IntegerType, "charttime" -> ts,
      "valuenum" -> DoubleType, "valueuom" -> StringType),
    "diagnoses_icd" -> schema("subject_id" -> LongType, "hadm_id" -> LongType,
      "seq_num" -> IntegerType, "icd_code" -> StringType, "icd_version" -> IntegerType),
    "icd9to10" -> schema("diagnosis_code" -> StringType, "icd10cm" -> StringType,
      "ord" -> LongType),
    "prescriptions" -> schema("subject_id" -> LongType, "hadm_id" -> LongType,
      "drug" -> StringType, "ndc" -> LongType),
    "ndc_product" -> schema("product_ndc" -> StringType,
      "nonproprietaryname" -> StringType, "pharm_classes" -> StringType, "ord" -> LongType),
    "notes" -> schema("note_id" -> LongType, "category" -> StringType,
      "lang" -> StringType, "text" -> StringType),
    "benchmark" -> schema("doc_id" -> LongType, "text" -> StringType))

  private val parquetTables = Map(
    "icu_tensors" -> Seq("patients", "admissions", "chartevents", "inputevents"),
    "hosp_ingest" -> Seq("patients", "admissions"),
    "cohort_sweep" -> Seq("patients", "admissions", "chartevents"),
    "notes_curate" -> Seq("notes", "benchmark"))

  /** Table registration (part of set-up): lazy frames over the parquet
    * inputs. hosp_ingest's gzip CSVs are read inside the pass instead —
    * decoding them is that workload's work.
    */
  def register(spark: SparkSession, workload: String, dir: String): Map[String, DataFrame] =
    parquetTables(workload).map { t =>
      t -> Readers.glob(spark, s"$dir/$t.parquet", schemas(t))
    }.toMap

  def run(workload: String, spark: SparkSession, tables: Map[String, DataFrame],
      dataDir: String, out: String, t: Tracer, planted: Seq[Long]): PassOut =
    workload match {
      case "icu_tensors" => icuTensors(tables, out, t)
      case "hosp_ingest" => hospIngest(spark, tables, dataDir, out, t)
      case "cohort_sweep" => cohortSweep(tables, t)
      case "notes_curate" => notesCurate(tables, out, t, planted)
    }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime
    val r = f
    (r, (System.nanoTime - t0) / 1e9)
  }

  private def hoursBetween(from: String, to: String): Column =
    floor((unix_timestamp(col(to)) - unix_timestamp(col(from))) / 3600L)

  private def stayLos(cohort: DataFrame): DataFrame =
    cohort.select(col("hadm_id"), hoursBetween("admittime", "dischtime").as("los_h"))

  // ---- icu_tensors: one cold batch of the ICU path ------------------------
  val IcuIncludeH = 72
  val IcuBucketH = 1
  val IcuPredW = 6
  val IcuTopK = 20

  def icuTensors(tb: Map[String, DataFrame], out: String, t: Tracer): PassOut = {
    val (_, secs) = timed {
      val cohort = t.span("api.CohortExtractor.extract") {
        CohortExtractor.extract(tb("admissions"), tb("patients"),
          CohortConfig(task = Mortality("dod")))
      }
      val events = t.span("api.FeatureExtractor.eventsForCohort") {
        FeatureExtractor.eventsForCohort(tb("chartevents"), cohort, "hadm_id",
          "charttime", "admittime")
      }
      t.observe("api.FeatureExtractor.eventsForCohort.keep_ratio") {
        events.rdd.count().toDouble / tb("chartevents").rdd.count()
      }
      val uom = t.span("operators.CleaningOps.dominantCategoryFilter") {
        CleaningOps.dominantCategoryFilter(events, "itemid", "valueuom", 0.95)
      }
      // two consumers (summary, select): cached as a user would
      val clean = t.span("operators.CleaningOps.percentileClamp") {
        CleaningOps.percentileClamp(uom, "itemid", "valuenum", 0.0, 0.98)
      }.cache()
      val summary = t.span("api.FeatureSelector.summary") {
        FeatureSelector.summary(clean, "hadm_id", "itemid", col("valuenum"))
      }
      val keep = summary.orderBy(col("total_count").desc, col("itemid").asc)
        .limit(IcuTopK).select("itemid")
      val selected = t.span("api.FeatureSelector.select") {
        FeatureSelector.select(clean, "itemid", keep)
      }
      val los = stayLos(cohort)
      val window = FirstWindow(IcuPredW)
      val bucketed = t.span("api.TimeSeriesGenerator.bucketedFeatures") {
        TimeSeriesGenerator.bucketedFeatures(selected, "hadm_id", "event_offset_h",
          "itemid", "valuenum", los, "los_h", IcuIncludeH, IcuBucketH, window)
      }
      val meds = tb("inputevents")
        .join(cohort.select("hadm_id", "admittime"), "hadm_id")
        .select(col("hadm_id"), col("itemid"),
          hoursBetween("admittime", "starttime").as("start_h"),
          hoursBetween("admittime", "endtime").as("stop_h"))
      val medsWin = t.span("api.TimeSeriesGenerator.shiftClipIntervals") {
        TimeSeriesGenerator.shiftClipIntervals(meds, "hadm_id", "start_h", "stop_h",
          los, "los_h", IcuIncludeH, window)
      }
      val active = t.span("api.TimeSeriesGenerator.activeMedSignal") {
        TimeSeriesGenerator.activeMedSignal(medsWin, "hadm_id", "itemid",
          "start_h", "stop_h", IcuIncludeH, IcuBucketH)
      }
      val dense = t.span("api.TimeSeriesGenerator.densifyAndImpute") {
        TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "itemid",
          IcuIncludeH / IcuBucketH)
      }
      t.observe("api.TimeSeriesGenerator.densifyAndImpute.fill_ratio") {
        val r = dense.select(col("value")).rdd
        r.filter(!_.isNullAt(0)).count().toDouble / r.count()
      }
      val tall = dense.select(col("hadm_id"),
          concat(lit("chart_"), col("itemid")).as("code"), col("bucket"),
          col("value_imputed").as("value"))
        .unionByName(active.select(col("hadm_id"),
          concat(lit("med_"), col("itemid")).as("code"), col("bucket"),
          col("active").cast("double").as("value")))
      val tensors = t.span("api.TimeSeriesGenerator.stayTensors") {
        TimeSeriesGenerator.stayTensors(tall, "hadm_id", "code", "bucket", "value")
      }
      t.act("sources.Sinks.parquet") {
        Sinks.parquet(TimeSeriesGenerator.toStayRecords(tensors, "hadm_id").toDF(),
          s"$out/stay_tensors")
      }
    }
    PassOut(Seq("icu_tensors" -> secs))
  }

  // ---- hosp_ingest: gzip CSV decode, as-of range join, export ------------
  def hospIngest(spark: SparkSession, tb: Map[String, DataFrame], dir: String,
      out: String, t: Tracer): PassOut = {
    def csv(name: String) = t.span("sources.Readers.csv") {
      Readers.csv(spark, s"$dir/$name.csv.gz", schemas(name))
    }
    val (_, secs) = timed {
      val labs = csv("labevents")
      val diag = csv("diagnoses_icd")
      val icdMap = csv("icd9to10")
      val rx = csv("prescriptions")
      val ndcMap = csv("ndc_product")
      val adm = tb("admissions")
      // the as-of join attaches the enclosing stay's admit time; the stay
      // key is then restored from it where the lab row had none
      val labsKeyed = t.span("api.FeatureExtractor.imputeVisitKey") {
        FeatureExtractor.imputeVisitKey(labs,
            adm.select("subject_id", "admittime", "dischtime"),
            "subject_id", "charttime", "admittime", "dischtime")
          .join(adm.select(col("subject_id"), col("admittime").as("imputed_admit"),
            col("hadm_id").as("__stay")), Seq("subject_id", "imputed_admit"), "left")
          .withColumn("hadm_id", coalesce(col("hadm_id"), col("__stay")))
          .filter(col("hadm_id").isNotNull)
          .drop("__stay", "imputed_admit")
      }
      val uom = t.span("operators.CleaningOps.dominantCategoryFilter") {
        CleaningOps.dominantCategoryFilter(labsKeyed, "itemid", "valueuom", 0.95)
      }
      val clean = t.span("operators.CleaningOps.percentileClamp") {
        CleaningOps.percentileClamp(uom, "itemid", "valuenum", 0.01, 0.99)
      }.cache()
      val diagStd = t.span("api.FeatureExtractor.standardizeIcd") {
        FeatureExtractor.standardizeIcd(diag, "icd_code", "icd_version", icdMap,
          "diagnosis_code", "icd10cm", "ord")
      }
      val meds = t.span("api.DrugMapper.mapMeds") {
        DrugMapper.mapMeds(rx, "drug", "ndc", ndcMap, "product_ndc",
          "nonproprietaryname", "pharm_classes", "ord")
      }
      val summary = t.span("api.FeatureSelector.summary") {
        FeatureSelector.summary(clean, "hadm_id", "itemid", col("valuenum"))
      }
      t.act("sources.Sinks.partitionedParquet") {
        Sinks.partitionedParquet(clean.select("labevent_id", "subject_id", "hadm_id",
          "itemid", "charttime", "valuenum", "valueuom"), s"$out/labs", Seq("itemid"))
      }
      t.act("sources.Sinks.csvGz") { Sinks.csvGz(summary, s"$out/summary") }
      t.act("sources.Sinks.csvGz") {
        Sinks.csvGz(diagStd.select("subject_id", "hadm_id", "seq_num", "icd_code",
          "icd_version", "root_icd10"), s"$out/diagnoses")
      }
      t.act("sources.Sinks.csvGz") {
        Sinks.csvGz(meds.select(col("subject_id"), col("hadm_id"), col("drug"),
          col("new_ndc"), col("nonproprietaryname"),
          array_join(col("epc"), ";").as("epc")), s"$out/meds")
      }
    }
    PassOut(Seq("hosp_ingest" -> secs))
  }

  // ---- cohort_sweep: the notebook re-run loop ----------------------------
  final case class SweepConfig(task: String, includeH: Int, bucketH: Int) {
    def name: String = s"${task}_${includeH}h_${bucketH}h"
  }

  val sweep: Seq[SweepConfig] =
    for (task <- Seq("mortality", "readmission", "los"); h <- Seq(24, 48, 72);
         b <- Seq(1, 4)) yield SweepConfig(task, h, b)

  def sweepTask(task: String): (Task, TaskWindow) = task match {
    case "mortality" => (Mortality("dod"), FirstWindow(6))
    case "readmission" => (Readmission(30), LastWindow)
    case "los" => (LengthOfStay(3), FirstWindow(0))
  }

  def cohortSweep(tb: Map[String, DataFrame], t: Tracer): PassOut = {
    // the session's dataset, cached by the first configuration; the pass
    // releases it at its end, so every pass's first answer is cold
    val chart = tb("chartevents").cache()
    val results = sweep.map { c =>
      val (task, window) = sweepTask(c.task)
      val (digest, secs) = timed {
        val cohort = t.span("api.CohortExtractor.extract") {
          CohortExtractor.extract(tb("admissions"), tb("patients"),
            CohortConfig(task = task))
        }
        val events = t.span("api.FeatureExtractor.eventsForCohort") {
          FeatureExtractor.eventsForCohort(chart, cohort, "hadm_id", "charttime",
            "admittime")
        }
        val bucketed = t.span("api.TimeSeriesGenerator.bucketedFeatures") {
          TimeSeriesGenerator.bucketedFeatures(events, "hadm_id", "event_offset_h",
            "itemid", "valuenum", stayLos(cohort), "los_h", c.includeH, c.bucketH, window)
        }
        val dense = t.span("api.TimeSeriesGenerator.densifyAndImpute") {
          TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "itemid",
            c.includeH / c.bucketH)
        }
        val tensors = t.span("api.TimeSeriesGenerator.stayTensors") {
          TimeSeriesGenerator.stayTensors(
            dense.select(col("hadm_id"), col("itemid").cast("string").as("code"),
              col("bucket"), col("value_imputed").as("value")),
            "hadm_id", "code", "bucket", "value")
        }
        t.act("bench.digest") { Digest.sweep(tensors, cohort) }
      }
      (c.name, secs, digest)
    }
    PassOut(results.map(r => r._1 -> r._2), results.map(r => r._1 -> r._3).toMap)
  }

  // ---- notes_curate: section split, then the curation stages -------------
  def notesCurate(tb: Map[String, DataFrame], out: String, t: Tracer,
      planted: Seq[Long]): PassOut = {
    val cfg = CorpusCurator.Config()
    val notes = tb("notes")
    val (report, secs) = timed {
      // one curation document per note section: doc_id = note_id * 8 + sec_no
      val docs = t.span("functions.NotesNlp.splitSections") {
        NotesNlp.splitSections(notes, "note_id", "text", "\n\n")
          .join(notes.select(col("note_id"), col("category").as("source"), col("lang")),
            "note_id")
          .select((col("note_id") * 8 + col("sec_no")).as("doc_id"),
            col("section").as("text"), col("lang"), col("source"))
      }
      // stage boundaries checkpointed as in CorpusCurator.curateWithReport
      val s1 = t.span("api.CorpusCurator.qualityFilter") {
        CorpusCurator.qualityFilter(docs, cfg).localCheckpoint(false)
      }
      val s12 = t.span("api.CorpusCurator.fluencyFilter") {
        CorpusCurator.fluencyFilter(s1, cfg).localCheckpoint(false)
      }
      val s15 = t.span("api.CorpusCurator.scrubBoilerplate") {
        CorpusCurator.scrubBoilerplate(s12, cfg).localCheckpoint(false)
      }
      val s2 = t.span("api.CorpusCurator.exactDedup") {
        CorpusCurator.exactDedup(s15, cfg).localCheckpoint(false)
      }
      val s3 = t.span("dedup.DedupOps.dropNearDups") {
        DedupOps.dropNearDups(s2, cfg.idCol, cfg.textCol, cfg.dedupShingleN,
          cfg.minhashK, cfg.lshBands, cfg.jaccardThreshold, cfg.lshMaxBucket,
          cfg.verifyMaxDf).localCheckpoint(false)
      }
      t.observe("dedup.near_dup_recall") {
        val p = planted.toSet
        val before = s2.select(cfg.idCol).rdd.map(_.getLong(0)).filter(p).count()
        val after = s3.select(cfg.idCol).rdd.map(_.getLong(0)).filter(p).count()
        if (before == 0) 1.0 else (before - after).toDouble / before
      }
      val s4 = t.span("api.CorpusCurator.decontaminate") {
        CorpusCurator.decontaminate(s3, tb("benchmark"), cfg).localCheckpoint(false)
      }
      val s5 = t.span("api.CorpusCurator.sample") {
        CorpusCurator.sample(s4, cfg).localCheckpoint(false)
      }
      val packed = t.span("api.CorpusCurator.pack") { CorpusCurator.pack(s5, cfg) }
      val funnel = t.act("bench.report") {
        Map("00_input" -> docs.count(), "10_quality" -> s1.count(),
          "12_fluency" -> s12.count(), "15_scrub" -> s15.count(),
          "20_exact_dedup" -> s2.count(), "30_near_dedup" -> s3.count(),
          "40_decontaminated" -> s4.count(), "50_sampled" -> s5.count())
      }
      t.act("sources.Sinks.parquet") {
        Sinks.parquet(packed.select("doc_id", "source", "text", "n_tokens", "bin_id"),
          s"$out/curated")
      }
      funnel
    }
    PassOut(Seq("notes_curate" -> secs), report = report)
  }
}

/** Order-independent digest of a frame: row count plus the sum of a
  * per-row md5 residue over its columns, doubles floored onto a fine grid
  * first. `reference.py` computes the same digest in DuckDB.
  */
object Digest {
  val Scale = 1414.2135623730951
  val Prime = 1000000007L

  def rowHash(parts: Seq[Column]): Column = {
    val s = concat_ws("|", parts.map(p => coalesce(p.cast("string"), lit("~"))): _*)
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % Prime
  }

  def grid(v: Column): Column = floor(v * Scale)

  /** Stay tensors as (stay, code, idx, value) cells plus the cohort labels. */
  def sweep(tensors: DataFrame, cohort: DataFrame): (Long, Long) = {
    val cells = tensors
      .select(col("hadm_id"), explode(col("series")).as(Seq("code", "arr")))
      .select(col("hadm_id"), col("code"), posexplode(col("arr")).as(Seq("idx", "v")))
      .select(rowHash(Seq(col("hadm_id"), col("code"), col("idx"), grid(col("v")))).as("h"))
    val labels = cohort.select(
      rowHash(Seq(lit("label"), col("hadm_id"), col("label"))).as("h"))
    val r = cells.unionByName(labels).agg(count(lit(1)), sum(col("h"))).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
