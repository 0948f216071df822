package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.Knn
import graft.dedup.DedupOps
import graft.functions.{TextFns, VectorFns}
import graft.multimodal.BinaryOps
import graft.operators._

import SparkEntry._

/** QueriesE2e registry — the `e2e*` SparkEntry queries and their oracle SQL
  * (composed end-to-end reference pipelines). Split from SparkEntry.scala for hygiene; query ids and
  * bodies are unchanged, and SparkEntry merges every family registry
  * back into the single driver-contract maps.
  */
// scalastyle:off
private[graft] object QueriesE2e {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // the RAG hybrid-retrieval chain END-TO-END: corpus = the embedded
    // subset of documents; lexical BM25 top-50 + vector cosine top-50 for
    // the vec_id=0 query → reciprocal-rank fusion top-20 → MMR diversity
    // rerank top-5. Every stage is the already-oracled t19/v01/t24/v12
    // construction — this row gates their INTERACTIONS (id-space handoff,
    // rounded-score handoffs, fused-rank ties) the way e2e_corpus_curate
    // gates the curation chain
    "e2e_rag_retrieve" -> ((s, d) => {
      graft.expressions.GraftFunctions.register(s)
      val e = emb(s, d)
      val corpus = docs(s, d)
        .join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"))
      val lex = RetrievalOps.bm25TopK(corpus, "doc_id", "text",
        terms = Seq("spark", "window", "join"), k = 50)
      val vec = Knn.bruteForceTopK(e, e.filter(col("vec_id") === 0),
          "vec_id", "embedding", k = 50,
          simFn = (a, b) => call_function("cosine_sim", a, b))
        .select(col("neighbor_id").as("doc_id"), col("sim").as("score"))
      // pin the 20-row fused list: cands feeds the rerank AND the pair
      // grid, and cv self-joins — unpinned, the BM25+ANN+RRF chain
      // re-ran once per downstream reference
      val fused = RetrievalOps.rrfFuse(Seq(lex, vec), "doc_id", k = 20)
      val cands = fused.select(col("doc_id").as("id"), col("rrf").as("rel"))
        .localCheckpoint(false)
      val cv = e
        .join(cands.select(col("id").as("vec_id")), Seq("vec_id"))
        .select(col("vec_id"),
          graft.functions.VectorFns.toDoubleArr(col("embedding")).as("__v"))
        .localCheckpoint(false)
      val ps = cv.alias("x").join(broadcast(cv.alias("y")),
          col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          round(call_function("cosine_sim", col("x.__v"), col("y.__v")), 6)
            .as("sim"))
      Knn.mmrRerank(cands, "id", "rel", ps, "a", "b", "sim",
          k = 5, lam = 0.7)
        .withColumnRenamed("id", "doc_id")
    }),


    // the entity-resolution chain END-TO-END: normalize part names →
    // first-char blocking + Jaro-Winkler match pairs (f30's portable
    // kernel) → min-label connected components (d08's machinery on the
    // min-partkey name ids) → every name with its cluster canonical.
    // Gates the normalize→block→match→cluster stage INTERACTIONS the way
    // e2e_corpus_curate gates the curation chain
    "e2e_entity_resolution" -> ((s, d) => {
      val ids = prt(s, d).filter(col("p_name").isNotNull)
        .select(lower(trim(col("p_name"))).as("name"), col("p_partkey"))
        .groupBy("name").agg(min("p_partkey").as("nid"))
      val pairs = LinkageOps.jaroWinklerPairs(ids, "name", threshold = 0.9)
      val pairIds = pairs
        .join(ids.select(col("name").as("name_a"), col("nid").as("__ia")),
          Seq("name_a"))
        .join(ids.select(col("name").as("name_b"), col("nid").as("__ib")),
          Seq("name_b"))
        .select(col("__ia").as("id_a"), col("__ib").as("id_b"))
      val comps = DedupOps.connectedComponents(pairIds, "id_a", "id_b")
      ids.join(comps.withColumnRenamed("doc_id", "nid"), Seq("nid"), "left")
        .select(col("name"), col("nid"),
          coalesce(col("canonical_id"), col("nid")).as("canonical_id"))
    }),


    // the notes-NLP chain END-TO-END (t05 sections → t10 scoped ConText
    // flag → t08 severity → t09b dictionary-first lemma types), per-doc
    // summary — stage INTERACTIONS hash-gated the way the cohort/ICD/drug
    // chains are, not just the stages
    "e2e_notes_nlp" -> ((s, d) => {
      val cues = Seq("slow", "small")
      val targets = Seq("scan", "query")
      val secs = graft.functions.NotesNlp.splitSections(docs(s, d),
        "doc_id", "text", " data ")
      val perSec = secs.select(col("doc_id"),
        graft.functions.NotesNlp.scopedFlag(col("section"), cues, targets, 2)
          .as("__flag"),
        graft.functions.NotesNlp.severityScore(
          graft.functions.NotesNlp.nearestCue(col("section"), cues, targets,
            2),
          Seq("slow" -> 2, "small" -> 1)).as("__sev"))
      val a1 = perSec.groupBy("doc_id").agg(
        count(lit(1)).as("n_sections"),
        sum(col("__flag").cast("long")).as("n_flagged"),
        max(col("__sev")).cast("int").as("max_severity"))
      val lem = graft.functions.NotesNlp.lemmatize(
        docs(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), explode(TextFns.tokens(col("text")))
            .as("tok")).distinct(),
        "tok", "lemma")
      val a2 = lem.groupBy("doc_id")
        .agg(countDistinct(col("lemma")).as("n_lemma_types"))
      a1.join(a2, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_sections"), col("n_flagged"),
          col("max_severity"),
          coalesce(col("n_lemma_types"), lit(0L)).as("n_lemma_types"))
    }),


    // the A/B-test chain END-TO-END: first-signup cohort → 7-day
    // purchase-conversion window (the j13 interval-label shape) →
    // parity assignment → pooled two-proportion z (a47's kernel) —
    // gates the cohort→label→test stage interactions
    "e2e_ab_test" -> ((s, d) => {
      val e = ev(s, d)
      val firstSignup = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("s_ts"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val conv = firstSignup.join(purch, Seq("user_id"), "left")
        .groupBy(col("user_id"))
        .agg(max(when(col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"), 1)
          .otherwise(0)).as("converted"))
      AssociationOps.twoProportionZ(conv,
        col("user_id") % 2 === 0, col("converted") === 1)
    }),


    // ---------------- composed §3 pipeline (end-to-end under the gate) ----
    // VERDICT r7 #3: the CohortExtractor → FeatureExtractor →
    // TimeSeriesGenerator chain hash-matched as ONE query each, so a wrong
    // interaction BETWEEN stages (not just within one) fails the gate.
    // Reference trace: day_intervals_cohort.py:252-370 →
    // feature_selection_icu.py:32-62 → data_generation_icu.py:441-729.

    // stage-1 composition: visits×patients join + adult filter + mortality
    // interval label (CohortConfig defaults — the mainPipeline cell-4 path)
    "e2e_cohort_mortality" -> ((s, d) =>
      e2eCohort(s, d).select("hadm_id", "subject_id", "label")),


    // the readmission label through the facade: the all-later-visits scan
    // with the reference's admit_j > disch_i guard
    // (day_intervals_cohort.py:158-161), exact on overlapping visits
    "e2e_cohort_readmit30" -> ((s, d) =>
      api.CohortExtractor.extract(visitsT(s, d), patientsT(s, d),
          api.CohortConfig(task = api.Readmission(30)))
        .select("hadm_id", "subject_id", "label")),


    // the length-of-stay label branch (day_intervals_cohort.py:114-133):
    // 1 iff the visit lasts ≥ 7 days — interval-typed threshold compare
    "e2e_cohort_los7" -> ((s, d) =>
      api.CohortExtractor.extract(visitsT(s, d), patientsT(s, d),
          api.CohortConfig(task = api.LengthOfStay(7)))
        .select("hadm_id", "subject_id", "label")),


    // the composed disease-phenotype branch (day_intervals_cohort.py:
    // 37-40,342-347 over disease_cohort.py:75-91): fabricated diagnoses
    // (lineitem) → ICD-9→10 root map (nation, the e2e_icd_map frames) →
    // root-contains("M1") keep-list → visit pool semi-filtered BEFORE the
    // readmission-30 labeling (so only disease readmissions count) — the
    // full extract_data(disease_label=…) path under one hash oracle
    "e2e_cohort_phenotype" -> ((s, d) => {
      val diag = li(s, d).select(
        col("l_orderkey").as("hadm_id"),
        concat(lit("C"), lpad((col("l_partkey") % 500).cast("string"), 3,
          "0")).as("icd_code"),
        (when(col("l_partkey") % 2 === 0, 9).otherwise(10))
          .as("icd_version"))
      val mapping = nat(s, d).select(
        concat(lit("C"), lpad(col("n_nationkey").cast("string"), 2, "0"),
          lit("X")).as("diagnosis_code"),
        concat(lit("M"), col("n_nationkey").cast("string")).as("icd10cm"),
        col("n_nationkey").as("map_order"))
      val ids = api.CohortExtractor.diseaseVisits(diag, "hadm_id",
        "icd_code", "icd_version", mapping, "diagnosis_code", "icd10cm",
        "map_order", "M1")
      api.CohortExtractor.extractPhenotype(visitsT(s, d), patientsT(s, d),
          api.CohortConfig(task = api.Readmission(30)), ids)
        .select("hadm_id", "subject_id", "label")
    }),


    // FeatureExtractor.standardizeIcd through the facade: 3-char-root
    // first-match map for version-9 codes, version-10 passthrough
    // (hosp_preprocess_util.py:402-430) — fabricated codes/mapping from
    // harness tables, pure integer/string arithmetic both sides
    "e2e_icd_map" -> ((s, d) => {
      val diag = ord(s, d).select(
        col("o_orderkey").as("hadm_id"),
        concat(lit("C"), lpad((col("o_orderkey") % 500).cast("string"), 3,
          "0")).as("icd_code"),
        (when(col("o_orderkey") % 2 === 0, 9).otherwise(10))
          .as("icd_version"))
      val mapping = nat(s, d).select(
        concat(lit("C"), lpad(col("n_nationkey").cast("string"), 2, "0"),
          lit("X")).as("diagnosis_code"),
        concat(lit("M"), col("n_nationkey").cast("string")).as("icd10cm"),
        col("n_nationkey").as("map_order"))
      api.FeatureExtractor.standardizeIcd(diag, "icd_code", "icd_version",
          mapping, "diagnosis_code", "icd10cm", "map_order")
        .select("hadm_id", "icd_code", "icd_version", "root_icd10")
    }),


    // DrugMapper through the facade END-TO-END — the last lifecycle branch
    // (hosp_preprocess_util.py:195-273): name normalize → prescription NDC
    // 11-digit pad + 9-digit section keep → mapping-table 5-4 reformat →
    // keep-first dedup → inner brand→generic join (broadcast: the NDC
    // directory is a bounded dimension) → EPC class arrays. Fabricated
    // prescriptions carry nulls (dropped by the join, as the reference's
    // nan rows are) and the mapping carries REAL (new_ndc, name) dup rows
    // so the keep-first dedup is load-bearing, not decorative.
    "e2e_drug_map" -> ((s, d) => {
      val meds = ord(s, d).select(
        col("o_orderkey").as("hadm_id"),
        concat(lit("  "), col("o_orderpriority"), lit(" TAB ")).as("drug"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
          .otherwise((col("o_orderkey") % 999) * 1000000L +
            ((col("o_orderkey") * 7) % 9999) * 100L + col("o_orderkey") % 100)
          .as("ndc"))
      val map0 = prt(s, d).select(
        concat((col("p_partkey") % 999).cast("string"), lit("-"),
          ((col("p_partkey") * 7) % 9999).cast("string")).as("productndc"),
        when(col("p_partkey") % 11 === 0, lit(null).cast("string"))
          .otherwise(col("p_name")).as("nonproprietaryname"),
        concat(col("p_type"), lit(" [EPC],"), col("p_size").cast("string"),
          lit(" [PE],"), col("p_brand"), lit(" [EPC]")).as("pharm_classes"),
        col("p_partkey").as("map_order"))
      // duplicate every mapping row with a later order and a decoy class:
      // a correct keep-first dedup must pick the original
      val mapping = map0.unionAll(map0
        .withColumn("map_order", col("map_order") + 10000L)
        .withColumn("pharm_classes", lit("DECOY [EPC]")))
      api.DrugMapper.mapMeds(meds, "drug", "ndc", mapping, "productndc",
          "nonproprietaryname", "pharm_classes", "map_order")
        .select(col("hadm_id"), col("drug"), col("new_ndc"),
          col("nonproprietaryname"),
          array_join(col("epc"), "|").as("epc_list"))
    }),


    // stages 1+2: cohort semi-join + admit attach + floor-hour offsets +
    // pre-admit drop, then UOM dominance cleanup and per-code exact type-7
    // percentile clamp — the feature_icu cleaning chain end-to-end
    "e2e_features_clean" -> ((s, d) =>
      api.FeatureExtractor.cleanMeasurements(e2eEvents(s, d),
          "itemid", "uom", "val_cents", 0.5, 0.02, 0.98)
        // output stays in CENTS: the clamp bound is vl + f·(vh−vl) with f
        // on the 0.02 grid, so cent values have 2 decimals — rounding at 4
        // keeps every value ≫ the 1e-9 double error away from a half
        // boundary (a /100 + round-2 would land bounds exactly ON .xx5)
        .select(col("hadm_id"), col("itemid"), col("event_offset_h"),
          col("uom"), round(col("val_cents"), 4).as("val_clamped"))),


    // stages 1+2+3: the chain above + FeatureSelector top-25 code keep-list
    // + 24h bucketize over the first 30 days + densify to the full grid +
    // the reference's exact ffill→bfill→mean impute order — the final
    // dataDic tensor content as a tall hash-checkable frame
    "e2e_stay_tensors" -> ((s, d) => {
      val ev2 = e2eEvents(s, d)
      val keep = ev2.groupBy("itemid").agg(count(lit(1)).as("__c"))
        .orderBy(col("__c").desc, col("itemid").asc).limit(25)
        .select("itemid")
      val sel = api.FeatureSelector.select(ev2, "itemid", keep)
      val bucketed = api.TimeSeriesGenerator.bucketedFeatures(sel,
        "hadm_id", "event_offset_h", "itemid", "val_cents",
        includeH = 720, bucketH = 24)
      api.TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "itemid",
          nBuckets = 30)
        .select(col("hadm_id"), col("itemid"), col("bucket"),
          round(col("value_imputed") / 100.0, 4).as("val_imputed"))
    }),


    // the Generator's mortality-branch ELIGIBILITY gate: los >= include +
    // predW reserves the 48 h label window after the 72 h input window
    // (reference mortality_length, data_generation_icu.py:172-206) — the
    // first-window clip plus the gate, through the densify+impute tail
    "e2e_stay_tensors_mortality" -> ((s, d) => {
      val ev2 = e2eEvents(s, d)
      val keep = ev2.groupBy("itemid").agg(count(lit(1)).as("__c"))
        .orderBy(col("__c").desc, col("itemid").asc).limit(25)
        .select("itemid")
      val sel = api.FeatureSelector.select(ev2, "itemid", keep)
      val los = e2eCohort(s, d).select(col("hadm_id"),
        floor((unix_timestamp(col("dischtime")) -
          unix_timestamp(col("admittime"))) / 3600L).as("los_h"))
      val bucketed = api.TimeSeriesGenerator.bucketedFeatures(sel,
        "hadm_id", "event_offset_h", "itemid", "val_cents",
        los, "los_h", includeH = 72, bucketH = 24,
        window = api.FirstWindow(predWindowH = 48))
      api.TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "itemid",
          nBuckets = 3)
        .select(col("hadm_id"), col("itemid"), col("bucket"),
          round(col("value_imputed") / 100.0, 4).as("val_imputed"))
    }),


    // the Generator's LAST-window (readmission) branch: stays of >= 72 h
    // keep their final 72 hours — offsets shift by -(los - 72) onto the
    // same [0, 72) grid, events before the shifted zero drop, shorter
    // stays are ineligible (reference readmission_length,
    // data_generation_icu.py:243-283) — then the e2e densify+impute tail
    "e2e_stay_tensors_readmit" -> ((s, d) => {
      val ev2 = e2eEvents(s, d)
      val keep = ev2.groupBy("itemid").agg(count(lit(1)).as("__c"))
        .orderBy(col("__c").desc, col("itemid").asc).limit(25)
        .select("itemid")
      val sel = api.FeatureSelector.select(ev2, "itemid", keep)
      val los = e2eCohort(s, d).select(col("hadm_id"),
        floor((unix_timestamp(col("dischtime")) -
          unix_timestamp(col("admittime"))) / 3600L).as("los_h"))
      val bucketed = api.TimeSeriesGenerator.bucketedFeatures(sel,
        "hadm_id", "event_offset_h", "itemid", "val_cents",
        los, "los_h", includeH = 72, bucketH = 24, window = api.LastWindow)
      api.TimeSeriesGenerator.densifyAndImpute(bucketed, "hadm_id", "itemid",
          nBuckets = 3)
        .select(col("hadm_id"), col("itemid"), col("bucket"),
          round(col("value_imputed") / 100.0, 4).as("val_imputed"))
    }),


    // the Generator's readmission MED-INTERVAL branch (reference
    // readmission_length meds, data_generation_icu.py:256-262): intervals
    // shift by -select_time, stop >= 0 keeps the straddling interval
    // (truncated — start < 0 clamps to 0), earlier ones drop; then the
    // smooth_meds bucket grid + W5 active mask. Fabricated intervals:
    // start = event offset mod 497 (a prime, so starts land densely
    // on BOTH sides of every select_time), stop = start + (itemid % 96
    // + 1) hours — pure integer arithmetic the oracle replays exactly;
    // at sf0.01 this hits all three branches (straddle-clamped, dropped,
    // kept-intact)
    "e2e_stay_tensors_readmit_meds" -> ((s, d) => {
      val ev2 = e2eEvents(s, d)
      val keep = ev2.groupBy("itemid").agg(count(lit(1)).as("__c"))
        .orderBy(col("__c").desc, col("itemid").asc).limit(25)
        .select("itemid")
      val meds = api.FeatureSelector.select(ev2, "itemid", keep)
        .select(col("hadm_id"), col("itemid"),
          (col("event_offset_h") % 497).as("start_h"),
          (col("event_offset_h") % 497 + (col("itemid") % 96 + 1)).as("stop_h"))
      val los = e2eCohort(s, d).select(col("hadm_id"),
        floor((unix_timestamp(col("dischtime")) -
          unix_timestamp(col("admittime"))) / 3600L).as("los_h"))
      val clipped = api.TimeSeriesGenerator.shiftClipIntervals(meds,
        "hadm_id", "start_h", "stop_h", los, "los_h",
        includeH = 72, window = api.LastWindow)
      api.TimeSeriesGenerator.activeMedSignal(clipped, "hadm_id", "itemid",
        "start_h", "stop_h", includeH = 72, bucketH = 24)
    }),


    // the mortality sibling (reference mortality_length meds,
    // data_generation_icu.py:186-189): los >= include + predW gate, keep
    // start <= include, clamp stop to include (the P12 least-clip) —
    // composed through the same bucket-grid active-mask tail as readmit
    "e2e_stay_tensors_mortality_meds" -> ((s, d) => {
      val ev2 = e2eEvents(s, d)
      val keep = ev2.groupBy("itemid").agg(count(lit(1)).as("__c"))
        .orderBy(col("__c").desc, col("itemid").asc).limit(25)
        .select("itemid")
      val meds = api.FeatureSelector.select(ev2, "itemid", keep)
        .select(col("hadm_id"), col("itemid"),
          (col("event_offset_h") % 497).as("start_h"),
          (col("event_offset_h") % 497 + (col("itemid") % 96 + 1)).as("stop_h"))
      val los = e2eCohort(s, d).select(col("hadm_id"),
        floor((unix_timestamp(col("dischtime")) -
          unix_timestamp(col("admittime"))) / 3600L).as("los_h"))
      val clipped = api.TimeSeriesGenerator.shiftClipIntervals(meds,
        "hadm_id", "start_h", "stop_h", los, "los_h",
        includeH = 72, window = api.FirstWindow(predWindowH = 48))
      api.TimeSeriesGenerator.activeMedSignal(clipped, "hadm_id", "itemid",
        "start_h", "stop_h", includeH = 72, bucketH = 24)
    }),


    // the LLM-side e2e sibling of e2e_stay_tensors: the FULL CorpusCurator
    // chain (quality gate → exact dedup → MinHash-LSH near dedup →
    // benchmark decontamination → pack) hash-checked as ONE query — wrong
    // stage interactions fail the gate. Benchmark = the %37 slice (the d09
    // convention); sample stage keeps 16/16 (no-op) by default config
    "e2e_corpus_curate" -> ((s, d) => {
      val bench = docs(s, d).filter(col("doc_id") % 37 === 0)
      api.CorpusCurator.curate(
          docs(s, d).filter(col("doc_id") % 37 =!= 0), bench)
        .select("doc_id", "source", "n_tokens", "bin_id")
    }),


    // the composed span-family report off the ONE shared profile: d22's
    // coverage numbers, d24's scrub count, d26's keep-one count + intact
    // verdict, and d25's cluster assignment joined per doc — hash-gating
    // the member INTERACTIONS (scrub keeps exactly n_toks − covered
    // positions; keep-one scrubs exactly the non-representatives of the
    // cluster closure; clusterless docs are their own singleton cluster)
    "e2e_span_family" -> ((s, d) => {
      val p = spanProf(s, d)
      val spans = QualityOps.exactSubstrSpans(p)
      val scrub = QualityOps.exactSubstrScrub(p)
        .select(col("doc_id"), col("n_kept").as("n_kept_scrub"))
      val keep1 = QualityOps.exactSubstrScrubKeepOne(p)
        .select(col("doc_id"), col("n_kept").as("n_kept_keepone"),
          col("kept_intact"))
      val clus = QualityOps.dupSpanClusters(p)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      spans.join(scrub, Seq("doc_id"))
        .join(keep1, Seq("doc_id"))
        .join(clus, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"), col("n_spans"),
          col("max_span"), col("covered_tokens"),
          col("n_kept_scrub"), col("n_kept_keepone"), col("kept_intact"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
    }),


    // composed FineWeb-style quality gate: Gopher rules ∧ CCNet
    // non-tail tercile → DSIR weights on the survivors → top-100 by
    // importance — the rule→LM→importance stack as ONE hash-gated chain
    "e2e_quality_gate" -> ((s, d) => {
      // ONE corpus scan for the whole composed gate: the Gopher rules
      // consume a pinned (doc_id, lang, text) frame, while the LM stages
      // (perplexity terciles, DSIR on survivors) are views over the
      // SHARED gram profile — the corpus is never re-exploded per stage,
      // asserted by PlanQualitySpec ("quality gate reads documents once")
      val base = docs(s, d).select("doc_id", "lang", "text")
        .localCheckpoint(false)
      val p = gramProf(s, d)
      val keepIds = QualityOps.gopherRules(base, "doc_id", "text")
        .filter(col("keep") === 1).select("doc_id")
        .join(QualityOps.perplexityBuckets(p)
          .filter(col("bucket") =!= "tail").select("doc_id"), Seq("doc_id"))
      val markers = base
        .select(col("doc_id"), (col("lang") === "en").as("__tgt"))
        .join(keepIds, Seq("doc_id"), "left_semi")
      QualityOps.dsirWeights(p, markers)
        .filter(col("dsir_w").isNotNull)
        .orderBy(col("dsir_w").desc, col("doc_id").asc)
        .limit(100)
        .select(col("doc_id"), col("n_bigrams"), col("dsir_w"))
    }),


    // the composed per-pair eval report — BLEU-2 ⋈ ROUGE-2 ⋈ chrF on the
    // same pairing, the 14th hash-gated e2e chain (metric interactions,
    // not just stages); each side is the already-oracled operator
    "e2e_eval_report" -> ((s, d) =>
      EvalOps.bleuFromOverlap(wordOverlap(s, d), maxN = 2)
        .select("cand_id", "ref_id", "len_c", "len_r", "bp", "bleu")
        .join(EvalOps.rougeNFromOverlap(wordOverlap(s, d), n = 2)
          .select("cand_id", "ref_id", "rouge_r", "rouge_p", "rouge_f1"),
          Seq("cand_id", "ref_id"))
        .join(EvalOps.chrFFromOverlap(charOverlap(s, d), maxN = 3)
          .select("cand_id", "ref_id", "chrf_p", "chrf_r", "chrf"),
          Seq("cand_id", "ref_id")))
  )

  def oracles: Map[String, String] = Map(

    // normalize → first-char block + raw-threshold JW (the f30 portable
    // compare) → recursive-CTE min-label closure (the d08 pattern) →
    // singletons via LEFT JOIN COALESCE
    "e2e_entity_resolution" ->
      """WITH RECURSIVE
         v AS (SELECT LOWER(TRIM(p_name)) AS name,
                      CAST(MIN(p_partkey) AS BIGINT) AS nid
               FROM part WHERE p_name IS NOT NULL GROUP BY 1),
         e0 AS (SELECT a.nid AS x, b.nid AS y
                FROM v a JOIN v b
                  ON SUBSTR(a.name, 1, 1) = SUBSTR(b.name, 1, 1)
                 AND a.name < b.name
                WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9),
         und AS (SELECT x AS a, y AS b FROM e0
                 UNION SELECT y, x FROM e0),
         reach AS (SELECT a, b FROM und
                   UNION
                   SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         cc AS (SELECT a AS nid, LEAST(a, MIN(b)) AS canon
                FROM reach GROUP BY a)
         SELECT v.name, v.nid,
                CAST(COALESCE(cc.canon, v.nid) AS BIGINT) AS canonical_id
         FROM v LEFT JOIN cc USING (nid)""",

    "e2e_rag_retrieve" -> e2eRagOracleSql,


    "e2e_cohort_mortality" ->
      s"""WITH $e2eBaseCtes
         SELECT hadm_id, subject_id, label FROM cohort""",


    // all-later-visits readmission with the admit_j > disch_i guard, as a
    // left join + max aggregation (the engine side is one window)
    "e2e_cohort_readmit30" ->
      s"""WITH $e2eBaseCtes
         SELECT c.hadm_id, c.subject_id,
                MAX(CASE WHEN l.hadm_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS label
         FROM cohort c LEFT JOIN cohort l
           ON l.subject_id = c.subject_id AND l.hadm_id <> c.hadm_id
          AND l.admittime > c.dischtime
          AND l.admittime <= c.dischtime + INTERVAL 30 DAY
         GROUP BY 1, 2""",


    "e2e_cohort_los7" ->
      s"""WITH $e2eBaseCtes
         SELECT hadm_id, subject_id,
                CASE WHEN dischtime - admittime >= INTERVAL 7 DAY
                     THEN 1 ELSE 0 END AS label
         FROM cohort""",


    // disease-phenotype branch: diag fabrication (lineitem) + the
    // e2e_icd_map root map (nation), root-contains('M1') keep-list,
    // visit pool filtered BEFORE the all-later-visits readmission scan —
    // a later NON-disease admission must not count as a readmission
    "e2e_cohort_phenotype" ->
      s"""WITH $e2eBaseCtes,
         diag AS (SELECT l_orderkey AS hadm_id,
                         'C' || LPAD(CAST(l_partkey % 500 AS VARCHAR), 3,
                           '0') AS icd_code,
                         CASE WHEN l_partkey % 2 = 0 THEN 9 ELSE 10 END
                           AS icd_version
                  FROM lineitem),
         m AS (SELECT SUBSTR('C' || LPAD(CAST(n_nationkey AS VARCHAR), 2,
                        '0') || 'X', 1, 3) AS root,
                      ARG_MIN('M' || CAST(n_nationkey AS VARCHAR),
                        n_nationkey) AS mapped
               FROM nation GROUP BY 1),
         conv AS (SELECT d.hadm_id,
                         CASE WHEN d.icd_version = 9 THEN m.mapped
                              ELSE d.icd_code END AS root_icd10
                  FROM diag d LEFT JOIN m ON SUBSTR(d.icd_code, 1, 3) = m.root),
         pos AS (SELECT DISTINCT hadm_id FROM conv
                 WHERE root_icd10 IS NOT NULL
                   AND POSITION('M1' IN SUBSTR(root_icd10, 1, 3)) > 0),
         fc AS (SELECT c.hadm_id, c.subject_id, c.admittime, c.dischtime
                FROM cohort c JOIN pos USING (hadm_id))
         SELECT c.hadm_id, c.subject_id,
                MAX(CASE WHEN l.hadm_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS label
         FROM fc c LEFT JOIN fc l
           ON l.subject_id = c.subject_id AND l.hadm_id <> c.hadm_id
          AND l.admittime > c.dischtime
          AND l.admittime <= c.dischtime + INTERVAL 30 DAY
         GROUP BY 1, 2""",


    "e2e_icd_map" ->
      """WITH diag AS (SELECT o_orderkey AS hadm_id,
                              'C' || LPAD(CAST(o_orderkey % 500 AS VARCHAR),
                                3, '0') AS icd_code,
                              CASE WHEN o_orderkey % 2 = 0 THEN 9 ELSE 10 END
                                AS icd_version
                       FROM orders),
         m AS (SELECT SUBSTR('C' || LPAD(CAST(n_nationkey AS VARCHAR), 2,
                        '0') || 'X', 1, 3) AS root,
                      ARG_MIN('M' || CAST(n_nationkey AS VARCHAR),
                        n_nationkey) AS mapped
               FROM nation GROUP BY 1)
         SELECT d.hadm_id, d.icd_code, d.icd_version,
                CASE WHEN d.icd_version = 9 THEN m.mapped
                     ELSE d.icd_code END AS root_icd10
         FROM diag d LEFT JOIN m ON SUBSTR(d.icd_code, 1, 3) = m.root""",


    // the composed meds chain: pad/section on the prescription side,
    // 5-4 reformat + keep-first (ARG_MIN by order) on the mapping side,
    // inner join, EPC filter; ARRAY_TO_STRING(NULL-prone) coalesced
    "e2e_drug_map" ->
      """WITH meds AS (
           SELECT o_orderkey AS hadm_id,
                  REPLACE(LOWER(TRIM('  ' || o_orderpriority || ' TAB ')),
                    ' ', '_') AS drug,
                  CASE WHEN o_orderkey % 7 = 0 THEN NULL
                       ELSE (o_orderkey % 999) * 1000000
                            + ((o_orderkey * 7) % 9999) * 100
                            + o_orderkey % 100 END AS ndc
           FROM orders),
         m0 AS (
           SELECT LPAD(CAST(p_partkey % 999 AS VARCHAR), 5, '0')
                    || LPAD(CAST((p_partkey * 7) % 9999 AS VARCHAR), 4, '0')
                    AS new_ndc,
                  LOWER(COALESCE(CASE WHEN p_partkey % 11 = 0 THEN NULL
                                      ELSE p_name END, ''))
                    AS nonproprietaryname,
                  p_type || ' [EPC],' || CAST(p_size AS VARCHAR) || ' [PE],'
                    || p_brand || ' [EPC]' AS pharm_classes,
                  CAST(p_partkey AS BIGINT) AS map_order
           FROM part
           UNION ALL
           SELECT LPAD(CAST(p_partkey % 999 AS VARCHAR), 5, '0')
                    || LPAD(CAST((p_partkey * 7) % 9999 AS VARCHAR), 4, '0'),
                  LOWER(COALESCE(CASE WHEN p_partkey % 11 = 0 THEN NULL
                                      ELSE p_name END, '')),
                  'DECOY [EPC]',
                  CAST(p_partkey AS BIGINT) + 10000
           FROM part),
         m AS (SELECT new_ndc, nonproprietaryname,
                      ARG_MIN(pharm_classes, map_order) AS pharm_classes
               FROM m0 GROUP BY 1, 2),
         w AS (SELECT hadm_id, drug,
                      SUBSTRING(LPAD(CAST(ndc AS VARCHAR), 11, '0'), 1, 9)
                        AS new_ndc
               FROM meds WHERE ndc IS NOT NULL)
         SELECT w.hadm_id, w.drug, w.new_ndc, m.nonproprietaryname,
                COALESCE(ARRAY_TO_STRING(LIST_FILTER(
                  STRING_SPLIT(m.pharm_classes, ','),
                  x -> CONTAINS(x, '[EPC]')), '|'), '') AS epc_list
         FROM w JOIN m USING (new_ndc)""",


    // the q01 quality predicate + d01 fingerprint + d10 minhash/LSH/
    // components + d09 decontam shingles + ml04 pack cumsum, composed
    // over the SAME surviving set at each stage
    "e2e_corpus_curate" ->
      """WITH RECURSIVE
         base AS (SELECT doc_id, source, lang, text,
                         STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                  FROM documents WHERE doc_id % 37 <> 0),
         qual AS (SELECT doc_id, source, text, toks FROM (
                    SELECT *, LEN(toks) AS n,
                           LEN(LIST_FILTER(toks,
                             x -> x IN ('the','a','of','and','to')))
                             AS nstop
                    FROM base)
                  WHERE lang = 'en' AND n BETWEEN 20 AND 500
                    AND nstop * 1.0 / n < 0.4),
         exk AS (SELECT MIN(doc_id) AS doc_id FROM qual
                 GROUP BY MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ',
                   'g'))),
         exd AS (SELECT q.* FROM qual q JOIN exk USING (doc_id)),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM exd),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
                   FROM cand c JOIN ex a ON a.doc_id = c.id_a
                     JOIN ex b ON b.doc_id = c.id_b AND b.sg = a.sg
                   GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5),
         und AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM und
           UNION
           SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
                  FROM reach GROUP BY a),
         nd AS (SELECT e.* FROM exd e
                WHERE e.doc_id NOT IN (SELECT doc_id FROM comp
                                       WHERE doc_id <> canonical_id)),
         s5 AS (SELECT doc_id, CASE WHEN LEN(toks) >= 5 THEN
                  LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 4),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         || ' ' || toks[i+3] || ' ' || toks[i+4]))
                  ELSE [] END AS sh
                FROM nd),
         bsh AS (SELECT DISTINCT UNNEST(CASE WHEN LEN(toks) >= 5 THEN
                   LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 4),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3] || ' ' || toks[i+4]))
                   ELSE [] END) AS sg
                 FROM (SELECT STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                       FROM documents WHERE doc_id % 37 = 0)),
         contaminated AS (SELECT DISTINCT s5.doc_id
                          FROM (SELECT doc_id, UNNEST(sh) AS sg FROM s5) s5
                          JOIN bsh ON bsh.sg = s5.sg),
         clean AS (SELECT nd.* FROM nd
                   WHERE nd.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         packed AS (SELECT doc_id, source, LEN(toks) AS n_tokens
                    FROM clean)
         SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
                CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / 256.0) AS INTEGER) AS bin_id
         FROM packed""",


    // dominance cleanup (a05 construction) + QUANTILE_CONT clamp (a06) on
    // the cohort-scoped events
    "e2e_features_clean" ->
      s"""WITH $e2eBaseCtes,
         cnts AS (SELECT itemid, uom, COUNT(*) AS c FROM ev GROUP BY 1, 2),
         stats AS (SELECT itemid, uom AS mode_uom,
                          c * 1.0 / SUM(c) OVER (PARTITION BY itemid)
                            AS share,
                          COUNT(*) OVER (PARTITION BY itemid) AS ndist,
                          ROW_NUMBER() OVER (PARTITION BY itemid
                            ORDER BY c DESC, uom ASC) AS rn
                   FROM cnts),
         uomclean AS (SELECT e.* FROM ev e
                      JOIN (SELECT * FROM stats WHERE rn = 1) s
                        USING (itemid)
                      WHERE NOT (s.ndist > 1 AND s.share > 0.5
                                 AND e.uom <> s.mode_uom)),
         bounds AS (SELECT itemid,
                           QUANTILE_CONT(val_cents, 0.02) AS lo,
                           QUANTILE_CONT(val_cents, 0.98) AS hi
                    FROM uomclean GROUP BY 1)
         SELECT hadm_id, itemid, event_offset_h, uom,
                ROUND(LEAST(GREATEST(val_cents, lo), hi), 4) + 0.0 AS val_clamped
         FROM uomclean JOIN bounds USING (itemid)""",


    // top-25 keep-list semi, 24h bucket means (integer cents — exact),
    // full-grid densify, LAST/FIRST_VALUE IGNORE NULLS ffill→bfill, mean
    // fallback (dead by construction: every pair has ≥1 observation)
    "e2e_stay_tensors" ->
      s"""WITH $e2eBaseCtes,
         keep AS (SELECT itemid FROM (
                    SELECT itemid, COUNT(*) AS c FROM ev GROUP BY 1)
                  ORDER BY c DESC, itemid ASC LIMIT 25),
         sel AS (SELECT e.* FROM ev e JOIN keep USING (itemid)),
         bucketed AS (SELECT hadm_id, itemid,
                             CAST(FLOOR(event_offset_h / 24) AS BIGINT)
                               AS bucket,
                             AVG(val_cents) AS value
                      FROM sel WHERE event_offset_h < 720
                      GROUP BY 1, 2, 3),
         pairs AS (SELECT DISTINCT hadm_id, itemid FROM bucketed),
         grid AS (SELECT p.hadm_id, p.itemid, r.range AS bucket
                  FROM pairs p CROSS JOIN range(0, 30) r),
         dense AS (SELECT g.hadm_id, g.itemid, g.bucket, b.value
                   FROM grid g
                   LEFT JOIN bucketed b USING (hadm_id, itemid, bucket)),
         ff AS (SELECT *, LAST_VALUE(value IGNORE NULLS) OVER (
                  PARTITION BY hadm_id, itemid ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
                FROM dense),
         fb AS (SELECT *, FIRST_VALUE(f IGNORE NULLS) OVER (
                  PARTITION BY hadm_id, itemid ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fbv
                FROM ff)
         SELECT hadm_id, itemid, bucket,
                ROUND(COALESCE(fbv, AVG(value) OVER (
                  PARTITION BY hadm_id, itemid)) / 100.0, 4) + 0.0 AS val_imputed
         FROM fb""",


    // the mortality gate: los_h >= 72 + 48 eligibility, unshifted
    // first-window clip at offset < 72
    "e2e_stay_tensors_mortality" ->
      s"""WITH $e2eBaseCtes,
         keep AS (SELECT itemid FROM (
                    SELECT itemid, COUNT(*) AS c FROM ev GROUP BY 1)
                  ORDER BY c DESC, itemid ASC LIMIT 25),
         sel AS (SELECT e.* FROM ev e JOIN keep USING (itemid)),
         los AS (SELECT hadm_id,
                        CAST(FLOOR(EPOCH(dischtime - admittime) / 3600)
                          AS BIGINT) AS los_h
                 FROM cohort),
         gated AS (SELECT e.hadm_id, e.itemid, e.event_offset_h AS off,
                          e.val_cents
                   FROM sel e JOIN los l USING (hadm_id)
                   WHERE l.los_h >= 120),
         bucketed AS (SELECT hadm_id, itemid,
                             CAST(FLOOR(off / 24) AS BIGINT) AS bucket,
                             AVG(val_cents) AS value
                      FROM gated WHERE off < 72
                      GROUP BY 1, 2, 3),
         pairs AS (SELECT DISTINCT hadm_id, itemid FROM bucketed),
         grid AS (SELECT p.hadm_id, p.itemid, r.range AS bucket
                  FROM pairs p CROSS JOIN range(0, 3) r),
         dense AS (SELECT g.hadm_id, g.itemid, g.bucket, b.value
                   FROM grid g
                   LEFT JOIN bucketed b USING (hadm_id, itemid, bucket)),
         ff AS (SELECT *, LAST_VALUE(value IGNORE NULLS) OVER (
                  PARTITION BY hadm_id, itemid ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
                FROM dense),
         fb AS (SELECT *, FIRST_VALUE(f IGNORE NULLS) OVER (
                  PARTITION BY hadm_id, itemid ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fbv
                FROM ff)
         SELECT hadm_id, itemid, bucket,
                ROUND(COALESCE(fbv, AVG(value) OVER (
                  PARTITION BY hadm_id, itemid)) / 100.0, 4) + 0.0 AS val_imputed
         FROM fb""",


    // the last-window variant: per-stay select_time = los_h - 72 shifts
    // offsets, pre-window events drop, los_h < 72 stays are ineligible
    "e2e_stay_tensors_readmit" ->
      s"""WITH $e2eBaseCtes,
         keep AS (SELECT itemid FROM (
                    SELECT itemid, COUNT(*) AS c FROM ev GROUP BY 1)
                  ORDER BY c DESC, itemid ASC LIMIT 25),
         sel AS (SELECT e.* FROM ev e JOIN keep USING (itemid)),
         los AS (SELECT hadm_id,
                        CAST(FLOOR(EPOCH(dischtime - admittime) / 3600)
                          AS BIGINT) AS los_h
                 FROM cohort),
         shifted AS (SELECT e.hadm_id, e.itemid,
                            e.event_offset_h - (l.los_h - 72) AS off,
                            e.val_cents
                     FROM sel e JOIN los l USING (hadm_id)
                     WHERE l.los_h >= 72),
         bucketed AS (SELECT hadm_id, itemid,
                             CAST(FLOOR(off / 24) AS BIGINT) AS bucket,
                             AVG(val_cents) AS value
                      FROM shifted WHERE off >= 0 AND off < 72
                      GROUP BY 1, 2, 3),
         pairs AS (SELECT DISTINCT hadm_id, itemid FROM bucketed),
         grid AS (SELECT p.hadm_id, p.itemid, r.range AS bucket
                  FROM pairs p CROSS JOIN range(0, 3) r),
         dense AS (SELECT g.hadm_id, g.itemid, g.bucket, b.value
                   FROM grid g
                   LEFT JOIN bucketed b USING (hadm_id, itemid, bucket)),
         ff AS (SELECT *, LAST_VALUE(value IGNORE NULLS) OVER (
                  PARTITION BY hadm_id, itemid ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
                FROM dense),
         fb AS (SELECT *, FIRST_VALUE(f IGNORE NULLS) OVER (
                  PARTITION BY hadm_id, itemid ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fbv
                FROM ff)
         SELECT hadm_id, itemid, bucket,
                ROUND(COALESCE(fbv, AVG(value) OVER (
                  PARTITION BY hadm_id, itemid)) / 100.0, 4) + 0.0 AS val_imputed
         FROM fb""",


    // readmission meds: shift by select_time, stop >= 0 keeps the
    // straddler (start < 0 → 0), then bucket-grid active mask — integer
    // ceil as (stop + 23) // 24, mirroring the Spark `div`
    "e2e_stay_tensors_readmit_meds" ->
      s"""WITH $e2eBaseCtes,
         keep AS (SELECT itemid FROM (
                    SELECT itemid, COUNT(*) AS c FROM ev GROUP BY 1)
                  ORDER BY c DESC, itemid ASC LIMIT 25),
         meds AS (SELECT e.hadm_id, e.itemid,
                         e.event_offset_h % 497 AS start_h,
                         e.event_offset_h % 497 + (e.itemid % 96 + 1)
                           AS stop_h
                  FROM ev e JOIN keep USING (itemid)),
         los AS (SELECT hadm_id,
                        CAST(FLOOR(EPOCH(dischtime - admittime) / 3600)
                          AS BIGINT) AS los_h
                 FROM cohort),
         shifted AS (SELECT m.hadm_id, m.itemid,
                            m.start_h - (l.los_h - 72) AS s0,
                            m.stop_h - (l.los_h - 72) AS e0
                     FROM meds m JOIN los l USING (hadm_id)
                     WHERE l.los_h >= 72),
         clipped AS (SELECT hadm_id, itemid,
                            CASE WHEN s0 < 0 THEN 0 ELSE s0 END AS start_h,
                            e0 AS stop_h
                     FROM shifted WHERE e0 >= 0),
         sparse AS (SELECT hadm_id, itemid,
                           CAST(FLOOR(start_h / 24) AS BIGINT) AS bucket,
                           MAX((stop_h + 23) // 24) AS stop_b
                    FROM clipped WHERE start_h < 72
                    GROUP BY 1, 2, 3),
         pairs AS (SELECT DISTINCT hadm_id, itemid FROM sparse),
         grid AS (SELECT p.hadm_id, p.itemid, r.range AS bucket
                  FROM pairs p CROSS JOIN range(0, 3) r),
         dense AS (SELECT g.hadm_id, g.itemid, g.bucket, s.stop_b
                   FROM grid g
                   LEFT JOIN sparse s USING (hadm_id, itemid, bucket)),
         ff AS (SELECT *, LAST_VALUE(stop_b IGNORE NULLS) OVER (
                  PARTITION BY hadm_id, itemid ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs
                FROM dense)
         SELECT hadm_id, itemid, bucket,
                CASE WHEN fs IS NOT NULL AND fs > bucket THEN 1 ELSE 0 END
                  AS active
         FROM ff""",


    // mortality meds: los >= 72+48 gate, start <= 72 keeps, stop clamps
    // to 72 (the least-clip), same active-mask tail
    "e2e_stay_tensors_mortality_meds" ->
      s"""WITH $e2eBaseCtes,
         keep AS (SELECT itemid FROM (
                    SELECT itemid, COUNT(*) AS c FROM ev GROUP BY 1)
                  ORDER BY c DESC, itemid ASC LIMIT 25),
         meds AS (SELECT e.hadm_id, e.itemid,
                         e.event_offset_h % 497 AS start_h,
                         e.event_offset_h % 497 + (e.itemid % 96 + 1)
                           AS stop_h
                  FROM ev e JOIN keep USING (itemid)),
         los AS (SELECT hadm_id,
                        CAST(FLOOR(EPOCH(dischtime - admittime) / 3600)
                          AS BIGINT) AS los_h
                 FROM cohort),
         gated AS (SELECT m.* FROM meds m JOIN los l USING (hadm_id)
                   WHERE l.los_h >= 120),
         clipped AS (SELECT hadm_id, itemid, start_h,
                            CASE WHEN stop_h > 72 THEN 72 ELSE stop_h END
                              AS stop_h
                     FROM gated WHERE start_h <= 72),
         sparse AS (SELECT hadm_id, itemid,
                           CAST(FLOOR(start_h / 24) AS BIGINT) AS bucket,
                           MAX((stop_h + 23) // 24) AS stop_b
                    FROM clipped WHERE start_h < 72
                    GROUP BY 1, 2, 3),
         pairs AS (SELECT DISTINCT hadm_id, itemid FROM sparse),
         grid AS (SELECT p.hadm_id, p.itemid, r.range AS bucket
                  FROM pairs p CROSS JOIN range(0, 3) r),
         dense AS (SELECT g.hadm_id, g.itemid, g.bucket, s.stop_b
                   FROM grid g
                   LEFT JOIN sparse s USING (hadm_id, itemid, bucket)),
         ff AS (SELECT *, LAST_VALUE(stop_b IGNORE NULLS) OVER (
                  PARTITION BY hadm_id, itemid ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs
                FROM dense)
         SELECT hadm_id, itemid, bucket,
                CASE WHEN fs IS NOT NULL AND fs > bucket THEN 1 ELSE 0 END
                  AS active
         FROM ff""",


    // t05 + t10 + t08 + t09b composed: section explode, scoped ConText
    // regexes, pre-cue severity extract, dictionary-first lemma types —
    // one per-doc summary row
    "e2e_notes_nlp" ->
      s"""WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' data ') AS parts
                     FROM documents),
         s AS (SELECT doc_id, parts[i] AS section
               FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 500))
                                  AS i)
               WHERE i <= LEN(parts)),
         f AS (SELECT doc_id,
                      CASE WHEN REGEXP_MATCHES(section,
                             '(^|\\s)(slow|small)(\\s+\\w+){0,2}\\s+(scan|query)(\\s|$$)')
                             OR REGEXP_MATCHES(section,
                             '(^|\\s)(scan|query)(\\s+\\w+){0,2}\\s+(slow|small)(\\s|$$)')
                           THEN 1 ELSE 0 END AS flag,
                      CASE REGEXP_EXTRACT(section,
                             '(^|\\s)(slow|small)(\\s+\\w+){0,2}\\s+(scan|query)(\\s|$$)',
                             2)
                           WHEN 'slow' THEN 2 WHEN 'small' THEN 1
                           ELSE 0 END AS sev
               FROM s),
         a1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sections,
                       CAST(SUM(flag) AS BIGINT) AS n_flagged,
                       CAST(MAX(sev) AS INTEGER) AS max_severity
                FROM f GROUP BY 1),
         toks AS (SELECT DISTINCT doc_id, tok
                  FROM (SELECT doc_id,
                               UNNEST(STRING_SPLIT_REGEX(TRIM(text),
                                 '\\s+')) AS tok
                        FROM documents)),
         dict(form, lemma) AS (VALUES $lemmaDictSqlValues),
         lem AS (SELECT t.doc_id,
                        COALESCE(d.lemma, REGEXP_REPLACE(t.tok,
                          '(\\w{3,}?)(ing|edly|ied|ies|ier|ed|er|es|s)$$',
                          '\\1')) AS lemma
                 FROM toks t LEFT JOIN dict d ON t.tok = d.form),
         a2 AS (SELECT doc_id, CAST(COUNT(DISTINCT lemma) AS BIGINT)
                         AS n_lemma_types
                FROM lem GROUP BY 1)
         SELECT a1.doc_id, n_sections, n_flagged, max_severity,
                COALESCE(n_lemma_types, 0) AS n_lemma_types
         FROM a1 LEFT JOIN a2 ON a1.doc_id = a2.doc_id""",


    // first-signup cohort → 7-day purchase window → parity cohorts →
    // the a47 pooled-z closing, mirrored op-for-op
    "e2e_ab_test" ->
      """WITH fs AS (SELECT user_id, MIN(ts) AS s_ts FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
         conv AS (SELECT fs.user_id,
                         MAX(CASE WHEN e.event_type = 'purchase'
                                   AND e.ts >= fs.s_ts
                                   AND e.ts <= fs.s_ts + INTERVAL 7 DAY
                                  THEN 1 ELSE 0 END) AS converted
                  FROM fs LEFT JOIN events e ON e.user_id = fs.user_id
                  GROUP BY 1),
         c AS (SELECT
           CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN user_id % 2 = 0 AND converted = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS x1,
           CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN user_id % 2 <> 0 AND converted = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS x2
         FROM conv WHERE user_id IS NOT NULL),
         w AS (SELECT *,
                      CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
                        AS pp
               FROM c)
         SELECT n1, x1, n2, x2,
                CASE WHEN n1 > 0 THEN
                  ROUND(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) + 0.0
                END AS p1,
                CASE WHEN n2 > 0 THEN
                  ROUND(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) + 0.0
                END AS p2,
                CASE WHEN n1 > 0 AND n2 > 0 AND x1 + x2 > 0
                      AND x1 + x2 < n1 + n2 THEN
                  ROUND((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                      - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    / SQRT((pp * (1.0 - pp))
                      * (1.0 / CAST(n1 AS DOUBLE)
                         + 1.0 / CAST(n2 AS DOUBLE))), 6) + 0.0
                END AS z
         FROM w""",


    // the full composed gate: Gopher keep ∧ CCNet non-tail tercile →
    // DSIR weights trained on the SURVIVOR corpus → top-100 by weight
    "e2e_quality_gate" ->
      """WITH t0 AS (SELECT doc_id, lang,
                            STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                     FROM documents WHERE text IS NOT NULL),
         gq AS (SELECT doc_id, LEN(toks) AS n,
                       LIST_SUM(LIST_TRANSFORM(toks, x -> LEN(x))) AS totlen,
                       LEN(LIST_FILTER(toks,
                         x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
                       LEN(LIST_FILTER(toks,
                         x -> CONTAINS(x, '#') OR CONTAINS(x, '...'))) AS sym,
                       LEN(LIST_FILTER(toks,
                         x -> x IN ('the','be','to','of','and','that','have','with')))
                         AS stp
                FROM t0),
         keep_g AS (SELECT doc_id FROM gq
                    WHERE n BETWEEN 50 AND 100000
                      AND ROUND(totlen * 1.0 / n, 6) BETWEEN 3.0 AND 10.0
                      AND ROUND(alpha * 1.0 / n, 6) >= 0.8
                      AND ROUND(sym * 1.0 / n, 6) <= 0.1
                      AND stp >= 2),
         tAll AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                  FROM documents),
         bgp AS (SELECT doc_id,
                        UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                          k -> toks[k] || ' ' || toks[k+1])) AS bg
                 FROM tAll WHERE LEN(toks) >= 2),
         m AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS m
               FROM bgp GROUP BY 1, 2),
         cb AS (SELECT bg, CAST(SUM(m) AS BIGINT) AS cbg FROM m GROUP BY 1),
         uni AS (SELECT UNNEST(toks) AS tok FROM tAll),
         cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
         v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM cu),
         mdl AS (SELECT cb.bg,
                        CAST(ROUND(LN((cb.cbg + 1.0) / (cu.cu + v.v)) * 1e12, 0)
                          AS BIGINT) AS lpq
                 FROM cb JOIN cu ON cu.tok = SPLIT_PART(cb.bg, ' ', 1)
                 CROSS JOIN v),
         sc AS (SELECT m.doc_id, CAST(SUM(m.m) AS BIGINT) AS nb,
                       SUM(CAST(m.m AS HUGEINT) * mdl.lpq) AS llq
                FROM m JOIN mdl USING (bg)
                GROUP BY 1),
         scored AS (SELECT doc_id,
                           ROUND(EXP(-(ROUND(CAST(llq AS DOUBLE) / 1e12 / nb,
                                             6))), 6) + 0.0 AS ppl
                    FROM sc WHERE nb > 0),
         ntot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
         rk AS (SELECT doc_id, ppl,
                       ROW_NUMBER() OVER (ORDER BY ppl ASC, doc_id ASC) AS rk
                FROM scored),
         keep_p AS (SELECT doc_id FROM rk CROSS JOIN ntot
                    WHERE FLOOR((rk - 1) * 3.0 / n) < 2),
         surv AS (SELECT doc_id FROM keep_g INTERSECT SELECT doc_id FROM keep_p),
         sdoc AS (SELECT d.doc_id, d.lang, d.text FROM documents d
                  JOIN surv USING (doc_id)),
         st AS (SELECT doc_id,
                       CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
                       STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                FROM sdoc),
         sbg AS (SELECT doc_id, tgt,
                        UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                          k -> toks[k] || ' ' || toks[k+1])) AS bg
                 FROM st WHERE LEN(toks) >= 2),
         sbb AS (SELECT doc_id,
                        CAST(CAST(('0x' || SUBSTRING(MD5(bg), 1, 4)) AS BIGINT)
                          % 128 AS INT) AS b,
                        tgt
                 FROM sbg),
         scounts AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r,
                            CAST(SUM(tgt) AS BIGINT) AS tc
                     FROM sbb GROUP BY 1),
         stot AS (SELECT CAST(SUM(r) AS BIGINT) AS rt,
                         CAST(SUM(tc) AS BIGINT) AS tt FROM scounts),
         sratio AS (SELECT b,
                           CAST(ROUND(LN((tc + 1.0) / (tt + 128.0)
                                         * (rt + 128.0) / (r + 1.0)) * 1e9, 0)
                             AS BIGINT) AS lrq
                    FROM scounts CROSS JOIN stot),
         sper AS (SELECT sbb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                         CAST(SUM(sratio.lrq) AS BIGINT) AS s
                  FROM sbb JOIN sratio USING (b) GROUP BY 1)
         SELECT doc_id, n_bigrams,
                ROUND(s / n_bigrams / 1e9, 6) + 0.0 AS dsir_w
         FROM sper
         ORDER BY dsir_w DESC, doc_id ASC
         LIMIT 100""",


    // the d22+d24+d25+d26 family joined per doc over ONE shared CTE chain
    // (suffix rank → islands → pairs → recursive closure), mirroring the
    // Spark side's shared SpanProfile — the composed hash gates the
    // member interactions, not just each member alone
    "e2e_span_family" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
               FROM documents),
         tk AS MATERIALIZED (SELECT doc_id, toks, LEN(toks) AS n FROM t),
         gh AS MATERIALIZED (SELECT doc_id, toks, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks, n,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT))) AS pos
                      FROM tk WHERE n >= 5)),
         dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         cand AS MATERIALIZED (SELECT gh.doc_id, gh.pos,
                         toks[gh.pos + 1 : gh.pos + 64] AS sfx
                  FROM gh JOIN dup USING (h)),
         rk AS MATERIALIZED (SELECT doc_id, pos, sfx,
                       ROW_NUMBER() OVER (ORDER BY ARRAY_TO_STRING(sfx, ' '),
                                          doc_id, pos) AS rn
                FROM cand),
         nxd AS MATERIALIZED (SELECT a.rn, a.doc_id AS da, b.doc_id AS db,
                        CAST(COALESCE(
                          LIST_MIN(LIST_FILTER(
                            GENERATE_SERIES(1, GREATEST(LEN(a.sfx), LEN(b.sfx))),
                            i -> NOT COALESCE(a.sfx[i] = b.sfx[i], FALSE))) - 1,
                          LEAST(LEN(a.sfx), LEN(b.sfx))) AS BIGINT) AS lcpn
                 FROM rk a JOIN rk b ON b.rn = a.rn + 1),
         sp AS (SELECT r.doc_id, r.pos,
                       GREATEST(COALESCE(n1.lcpn, 0), COALESCE(n0.lcpn, 0))
                         AS len
                FROM rk r
                LEFT JOIN nxd n1 ON n1.rn = r.rn
                LEFT JOIN nxd n0 ON n0.rn = r.rn - 1
                WHERE GREATEST(COALESCE(n1.lcpn, 0), COALESCE(n0.lcpn, 0)) >= 5),
         il AS (SELECT doc_id, pos, len,
                       MAX(pos + len) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS rmax
                FROM sp),
         ili AS (SELECT doc_id, pos, len,
                        SUM(CASE WHEN rmax IS NULL OR pos >= rmax
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY pos) AS isl
                 FROM il),
         pis AS MATERIALIZED (SELECT doc_id, isl, MIN(pos) AS s,
                        MAX(pos + len) AS e
                 FROM ili GROUP BY 1, 2),
         pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                       CAST(MAX(e - s) AS BIGINT) AS max_span,
                       CAST(SUM(e - s) AS BIGINT) AS covered
                FROM pis GROUP BY 1),
         pr AS MATERIALIZED (SELECT LEAST(da, db) AS doc_a,
                       GREATEST(da, db) AS doc_b
                FROM nxd WHERE lcpn >= 5 AND da <> db
                GROUP BY 1, 2),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pr
                 UNION SELECT doc_b, doc_a FROM pr),
         reach AS (SELECT a, b FROM und
                   UNION
                   SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         cc AS MATERIALIZED (SELECT a AS doc_id, LEAST(a, MIN(b)) AS canon
                FROM reach GROUP BY a),
         cs AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS cluster_size
                FROM cc GROUP BY 1),
         nonrep AS (SELECT doc_id FROM cc WHERE doc_id <> canon),
         pis2 AS MATERIALIZED (SELECT pis.* FROM pis JOIN nonrep USING (doc_id)),
         posn AS (SELECT doc_id,
                         UNNEST(GENERATE_SERIES(0, CAST(n - 1 AS INT))) AS p
                  FROM tk WHERE n >= 1),
         k1 AS (SELECT posn.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
                FROM posn
                WHERE NOT EXISTS (SELECT 1 FROM pis i
                                  WHERE i.doc_id = posn.doc_id
                                    AND posn.p >= i.s AND posn.p < i.e)
                GROUP BY 1),
         k2 AS (SELECT posn.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept
                FROM posn
                WHERE NOT EXISTS (SELECT 1 FROM pis2 i
                                  WHERE i.doc_id = posn.doc_id
                                    AND posn.p >= i.s AND posn.p < i.e)
                GROUP BY 1)
         SELECT tk.doc_id, CAST(tk.n AS INT) AS n_toks,
                COALESCE(pd.n_spans, 0) AS n_spans,
                COALESCE(pd.max_span, 0) AS max_span,
                COALESCE(pd.covered, 0) AS covered_tokens,
                COALESCE(k1.n_kept, 0) AS n_kept_scrub,
                COALESCE(k2.n_kept, 0) AS n_kept_keepone,
                tk.doc_id NOT IN (SELECT DISTINCT doc_id FROM pis2)
                  AS kept_intact,
                CAST(COALESCE(cc.canon, tk.doc_id) AS BIGINT) AS cluster_id,
                COALESCE(cs.cluster_size, 1) AS cluster_size
         FROM tk LEFT JOIN pd USING (doc_id)
         LEFT JOIN k1 USING (doc_id)
         LEFT JOIN k2 USING (doc_id)
         LEFT JOIN cc ON cc.doc_id = tk.doc_id
         LEFT JOIN cs ON cs.canon = cc.canon""",


    // t47 ⋈ t48 ⋈ t49 stitched over shared CTEs (the bigram clipped
    // matches feed both BLEU and ROUGE) — every close identical to the
    // standalone oracles so the joined report hashes the same cells
    "e2e_eval_report" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         p AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id
               FROM documents a JOIN documents b
                 ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0
                    AND a.lang = b.lang),
         g1 AS (SELECT doc_id, tok AS gram, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t) GROUP BY 1, 2),
         g2 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id,
                             UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                               k -> toks[k] || ' ' || toks[k+1])) AS gram
                      FROM t WHERE LEN(toks) >= 2) GROUP BY 1, 2),
         l AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS len FROM t),
         o1 AS (SELECT p.cand_id, p.ref_id,
                       CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS m
                FROM p JOIN g1 c ON c.doc_id = p.cand_id
                       JOIN g1 r ON r.doc_id = p.ref_id AND r.gram = c.gram
                GROUP BY 1, 2),
         o2 AS (SELECT p.cand_id, p.ref_id,
                       CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS m
                FROM p JOIN g2 c ON c.doc_id = p.cand_id
                       JOIN g2 r ON r.doc_id = p.ref_id AND r.gram = c.gram
                GROUP BY 1, 2),
         bb AS (SELECT p.cand_id, p.ref_id,
                       CAST(COALESCE(o1.m, 0) AS BIGINT) AS m1,
                       CAST(COALESCE(o2.m, 0) AS BIGINT) AS m2,
                       lc.len AS len_c, lr.len AS len_r,
                       CASE WHEN lc.len >= lr.len THEN 1.0
                            ELSE EXP(1.0 - lr.len / CAST(lc.len AS DOUBLE))
                       END AS bpr
                FROM p JOIN l lc ON lc.doc_id = p.cand_id
                       JOIN l lr ON lr.doc_id = p.ref_id
                       LEFT JOIN o1 ON o1.cand_id = p.cand_id
                                   AND o1.ref_id = p.ref_id
                       LEFT JOIN o2 ON o2.cand_id = p.cand_id
                                   AND o2.ref_id = p.ref_id),
         bleu AS (SELECT cand_id, ref_id, len_c, len_r,
                         ROUND(bpr, 6) + 0.0 AS bp,
                         CASE WHEN m1 = 0 OR m2 = 0 OR len_c < 2 THEN 0.0
                              ELSE ROUND(bpr * EXP((LN(m1 / CAST(len_c AS DOUBLE))
                                + LN(m2 / CAST(len_c - 1 AS DOUBLE))) / 2), 6)
                         END + 0.0 AS bleu
                  FROM bb),
         rouge AS (SELECT cand_id, ref_id,
                          ROUND(r, 6) + 0.0 AS rouge_r,
                          ROUND(pr, 6) + 0.0 AS rouge_p,
                          ROUND(CASE WHEN r + pr > 0 THEN 2 * r * pr / (r + pr)
                                     ELSE 0.0 END, 6) + 0.0 AS rouge_f1
                   FROM (SELECT bb.cand_id, bb.ref_id,
                                CASE WHEN bb.len_r >= 2
                                     THEN bb.m2 / CAST(bb.len_r - 1 AS DOUBLE)
                                     ELSE 0.0 END AS r,
                                CASE WHEN bb.len_c >= 2
                                     THEN bb.m2 / CAST(bb.len_c - 1 AS DOUBLE)
                                     ELSE 0.0 END AS pr
                         FROM bb)),
         ch AS (SELECT doc_id, REGEXP_REPLACE(text, '\s+', '', 'g') AS cs
                FROM documents),
         cg AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
                  SELECT doc_id, 1 AS n,
                         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cs)),
                           i -> cs[i:i])) AS gram
                  FROM ch WHERE LEN(cs) >= 1
                  UNION ALL
                  SELECT doc_id, 2,
                         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cs) - 1),
                           i -> cs[i:i+1]))
                  FROM ch WHERE LEN(cs) >= 2
                  UNION ALL
                  SELECT doc_id, 3,
                         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cs) - 2),
                           i -> cs[i:i+2]))
                  FROM ch WHERE LEN(cs) >= 3) GROUP BY 1, 2, 3),
         co AS (SELECT p.cand_id, p.ref_id, c.n,
                       CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS m
                FROM p JOIN cg c ON c.doc_id = p.cand_id
                       JOIN cg r ON r.doc_id = p.ref_id AND r.n = c.n
                                   AND r.gram = c.gram
                GROUP BY 1, 2, 3),
         cl AS (SELECT doc_id, CAST(LEN(cs) AS BIGINT) AS len FROM ch),
         cm AS (SELECT p.cand_id, p.ref_id, lc.len AS clen_c, lr.len AS clen_r,
                       COALESCE(MAX(CASE WHEN co.n = 1 THEN co.m END), 0) AS m1,
                       COALESCE(MAX(CASE WHEN co.n = 2 THEN co.m END), 0) AS m2,
                       COALESCE(MAX(CASE WHEN co.n = 3 THEN co.m END), 0) AS m3
                FROM p JOIN cl lc ON lc.doc_id = p.cand_id
                       JOIN cl lr ON lr.doc_id = p.ref_id
                       LEFT JOIN co ON co.cand_id = p.cand_id
                                   AND co.ref_id = p.ref_id
                GROUP BY 1, 2, 3, 4),
         cx AS (SELECT cand_id, ref_id,
                       (CASE WHEN clen_c >= 1 THEN m1 / CAST(clen_c AS DOUBLE) ELSE 0.0 END
                      + CASE WHEN clen_c >= 2 THEN m2 / CAST(clen_c - 1 AS DOUBLE) ELSE 0.0 END
                      + CASE WHEN clen_c >= 3 THEN m3 / CAST(clen_c - 2 AS DOUBLE) ELSE 0.0 END) / 3 AS pp,
                       (CASE WHEN clen_r >= 1 THEN m1 / CAST(clen_r AS DOUBLE) ELSE 0.0 END
                      + CASE WHEN clen_r >= 2 THEN m2 / CAST(clen_r - 1 AS DOUBLE) ELSE 0.0 END
                      + CASE WHEN clen_r >= 3 THEN m3 / CAST(clen_r - 2 AS DOUBLE) ELSE 0.0 END) / 3 AS rr
                FROM cm),
         chrf AS (SELECT cand_id, ref_id,
                         ROUND(pp, 6) + 0.0 AS chrf_p,
                         ROUND(rr, 6) + 0.0 AS chrf_r,
                         ROUND(CASE WHEN pp + rr > 0.0
                                    THEN (5.0 * pp * rr) / (4.0 * pp + rr)
                                    ELSE 0.0 END, 6) + 0.0 AS chrf
                  FROM cx)
         SELECT bleu.cand_id, bleu.ref_id, bleu.len_c, bleu.len_r,
                bleu.bp, bleu.bleu,
                rouge.rouge_r, rouge.rouge_p, rouge.rouge_f1,
                chrf.chrf_p, chrf.chrf_r, chrf.chrf
         FROM bleu JOIN rouge USING (cand_id, ref_id)
                   JOIN chrf USING (cand_id, ref_id)"""
  )
}
