package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - `bruteForceTopK`: exact top-k for a (small, broadcast) query set
  *    against the full corpus — the correctness baseline. Cost O(|Q|·N·d),
  *    distributed over the corpus side; the query side is broadcast so the
  *    corpus is scanned exactly once with no shuffle.
  *  - `clusteredTopK`: IVF-style — restrict each probe to its coarse
  *    cluster (equi-join on the cluster id), turning the N×N cross product
  *    into per-bucket blocks. With balanced clusters this is N²/C work and
  *    one shuffle on the cluster key; at 100 TB the cluster id comes from a
  *    trained coarse quantizer, here any categorical bucket column works.
  *
  * Similarity ties are broken on rounded cosine then neighbor id, so
  * results are deterministic and engine-portable.
  */
object Knn {

  /** Pluggable similarity kernel; default is the composable expression tree,
    * `graft.expressions.CosineSimilarity` (via `call_function("cosine_sim")`)
    * is the fused native path — bit-identical results.
    */
  type Sim = (Column, Column) => Column

  private def simRank(joined: DataFrame, k: Int, simFn: Sim): DataFrame = {
    val sim = round(simFn(col("__qe"), col("__ne")), 6)
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    joined
      .withColumn("sim", sim)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("__rn").as("rank"))
  }

  /** Exact cosine top-k of `queries` against `corpus` (both: id + embedding
    * array<float>). Queries are broadcast; corpus is never shuffled.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
      emb: String, k: Int, simFn: Sim = VectorFns.cosine): DataFrame = {
    val q = queries.select(col(id).as("query_id"),
      VectorFns.toDoubleArr(col(emb)).as("__qe"))
    val c = corpus.select(col(id).as("neighbor_id"),
      VectorFns.toDoubleArr(col(emb)).as("__ne"))
    val joined = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
    simRank(joined, k, simFn)
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998 — the
    * standard RAG diversity pass): greedily pick `k` of the candidate set,
    * each step maximizing λ·rel − (1−λ)·max_sim-to-already-selected.
    * Inputs are BOUNDED BY CONSTRUCTION (a rerank consumes a top-N list,
    * N ≈ 20-100), so the k unrolled steps — an anti-join, a max-sim
    * aggregate over |selected|·N pair rows, and a TakeOrderedAndProject
    * argmax — never touch data-sized frames. The candidate and pair-sim
    * frames ARE materialized once up front (localCheckpoint of ≤N and
    * ≤N² rows), and the growing selection is pinned per step: without
    * that, every step's plan re-embeds the full upstream chain (each
    * `sel` references `c`/`ps` and the previous `sel` multiple times),
    * so a rerank over an expensive retrieval chain re-ran retrieval
    * once per greedy step — 23 s instead of ~1 s on the composed RAG
    * chain at sf0.1.
    *
    * Determinism: `rel` and `sim` arrive 6dp-rounded (the v01 contract),
    * the score is two IEEE ops on identical doubles — note (1−λ) is
    * COMPUTED as `1 - λ` on both engines, never written as a literal
    * (1 − 0.7 ≠ 0.3 in binary64, and the oracle must hold the same
    * double) — and every argmax tie-breaks (score DESC, id ASC). The
    * first pick's diversity term is zero (empty selected set), so its
    * score is λ·rel.
    */
  def mmrRerank(cands: DataFrame, id: String, rel: String,
      pairSims: DataFrame, a: String, b: String, sim: String,
      k: Int, lam: Double): DataFrame = {
    val c = cands.select(col(id).as("__id"), col(rel).as("__rel"))
      .localCheckpoint(false)
    val ps = pairSims.select(col(a).as("__a"), col(b).as("__b"),
      col(sim).as("__s"))
      .localCheckpoint(false)
    var sel = c
      .orderBy(col("__rel").desc, col("__id").asc).limit(1)
      .select(col("__id"), col("__rel"), lit(1).as("rank"),
        (lit(lam) * col("__rel")).as("__score"))
    for (t <- 2 to k) {
      val rem = c.join(sel.select("__id"), Seq("__id"), "left_anti")
      val mx = ps.join(sel.select(col("__id").as("__b")), Seq("__b"))
        .groupBy(col("__a").as("__id")).agg(max(col("__s")).as("__mx"))
      val pick = rem.join(mx, Seq("__id"))
        .withColumn("__score",
          lit(lam) * col("__rel") - (lit(1.0) - lit(lam)) * col("__mx"))
        .orderBy(col("__score").desc, col("__id").asc).limit(1)
        .select(col("__id"), col("__rel"), lit(t).as("rank"), col("__score"))
      sel = sel.unionByName(pick).localCheckpoint(false)
    }
    sel.select(col("__id").as(id), col("rank"),
      round(col("__score"), 6).as("mmr_score"))
  }

  /** IVF-style top-k: every vector probes only its own `bucket` cluster.
    * One equi-join on the bucket id — block-local similarity, cluster-key
    * shuffle, AQE-skew-safe.
    */
  def clusteredTopK(corpus: DataFrame, id: String, emb: String, bucket: String,
      k: Int, simFn: Sim = VectorFns.cosine): DataFrame = {
    val q = corpus.select(col(bucket).as("__b"), col(id).as("query_id"),
      VectorFns.toDoubleArr(col(emb)).as("__qe"))
    val c = corpus.select(col(bucket).as("__b"), col(id).as("neighbor_id"),
      VectorFns.toDoubleArr(col(emb)).as("__ne"))
    val joined = q.join(c, Seq("__b")).filter(col("query_id") =!= col("neighbor_id"))
    simRank(joined, k, simFn)
  }

  /** Squared-L2 cluster assignment against a fixed centroid set: one
    * codegen'd argmin expression per row, ties to the smallest cluster id.
    * The centroid matrix rides as ONE complex-typed literal (k·dim doubles,
    * bounded by construction) looped over with array higher-order functions
    * — the generated code shape is independent of the centroid VALUES, so
    * successive k-means rounds (new centroids every round) reuse the same
    * compiled class instead of re-paying janino per round.
    */
  def assignClusters(corpus: DataFrame, id: String, emb: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    val e = VectorFns.toDoubleArr(col(emb))
    val cs = typedLit(centroids.map(_.toSeq))
    val dists = transform(cs, c =>
      aggregate(zip_with(e, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
    corpus.withColumn("cluster",
      (array_position(dists, array_min(dists)) - 1).cast("int"))
  }

  /** Lloyd's k-means coarse quantizer for the IVF path — the trained
    * counterpart to `clusteredTopK`'s bucket column. Each round is one
    * distributed pass: broadcast-literal argmin assignment + a per-cluster
    * per-dimension mean aggregate. ONLY the centroid matrix (k·dim doubles,
    * bounded by construction, NOT data-sized) crosses to the driver between
    * rounds; empty clusters keep their previous centroid. Deterministic:
    * init picks the k smallest ids, ties go to the smallest cluster.
    */
  def kmeansAssign(corpus: DataFrame, id: String, emb: String,
      k: Int, iters: Int): DataFrame = {
    val e = VectorFns.toDoubleArr(col(emb))
    // the corpus is consumed iters+2 times (init, per-round means, final
    // assignment): project+widen+checkpoint once so every round reads the
    // decoded double vectors instead of replaying the scan+cast
    val base = graft.Tables.spread(corpus.select(col(id), e.as("__e")))
      .localCheckpoint(false)
    var centroids: Seq[Seq[Double]] = base
      .orderBy(col(id))
      .limit(k)
      .select(col("__e"))
      .collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
      .toIndexedSeq
    val dim = centroids.head.length
    // each round's means are QUANTIZED to 6 decimals before they become
    // the next round's centroids: the unrounded mean depends on the
    // engine's (and partition count's) summation order at the ulp level,
    // and Lloyd's iterations AMPLIFY those ulps into different
    // assignments. Rounding re-synchronizes every round's input to an
    // exactly-representable value, which makes the whole iteration
    // engine-portable (v03 carries a full cross-engine oracle because of
    // this) — and costs nothing for a coarse quantizer, where centroid
    // precision beyond 1e-6 is noise.
    (1 to iters).foreach { _ =>
      val means = assignClusters(base, id, "__e", centroids)
        .groupBy("cluster")
        .agg(count(lit(1)).as("__n"),
          (0 until dim).map(i =>
            round(avg(element_at(col("__e"), i + 1)), 6).as(s"__m$i")): _*)
        .collect()
        .map(r => r.getInt(0) -> (0 until dim).map(i => r.getDouble(2 + i)))
        .toMap
      centroids = centroids.indices.map(j => means.getOrElse(j, centroids(j)))
    }
    corpus.join(
      assignClusters(base, id, "__e", centroids).select(col(id), col("cluster")),
      Seq(id))
  }

  /** Multi-probe IVF top-k: each query searches its `nProbe` NEAREST
    * clusters instead of only its own — the standard recall/cost knob of
    * IVF indexes (probing p of C clusters scans ~p/C of the corpus).
    * Probe selection reuses the literal centroid matrix: per-query
    * distances to all C centroids, the p closest cluster ids via an
    * array sort (ties to the smaller id), exploded to (query, probe)
    * rows, then ONE equi-join on the cluster id — the same join shape as
    * `clusteredTopK`, with p rows per query on the probe side. With
    * `nProbe = C` this degrades gracefully to exact brute force
    * (asserted in KnnSpec).
    */
  /** The `nProbe` nearest cluster ids for one embedding, ranked by
    * squared-L2 distance to the literal centroid matrix (ties to the
    * smaller cluster id) — the probe-selection kernel shared by
    * `multiProbeTopK` and `probeSelection`.
    */
  private def probeIdsExpr(e: Column, centroids: Seq[Seq[Double]],
      nProbe: Int): Column = {
    val cs = typedLit(centroids.map(_.toSeq))
    val dists = transform(cs, c =>
      aggregate(zip_with(e, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
    val idxed = zip_with(dists, sequence(lit(0), lit(centroids.size - 1)),
      (dst, i) => struct(dst.as("d"), i.as("i")))
    transform(slice(array_sort(idxed), 1, nProbe), s => s.getField("i"))
  }

  /** The deterministic half of the multi-probe path, in the open:
    * (id, probe_rank, cluster) — each vector's `nProbe` nearest centroids
    * from a FIXED centroid literal. No Lloyd's iteration and no
    * cross-engine float accumulation, so (unlike the final top-k argmin)
    * this frame IS engine-portable and carries a closed-form SQL oracle,
    * the same way `assignClusters` does for the single-probe case.
    */
  def probeSelection(corpus: DataFrame, id: String, emb: String,
      centroids: Seq[Seq[Double]], nProbe: Int): DataFrame =
    corpus
      .select(col(id),
        posexplode(probeIdsExpr(VectorFns.toDoubleArr(col(emb)), centroids, nProbe))
          .as(Seq("__p", "__c")))
      .select(col(id),
        (col("__p") + 1).cast("int").as("probe_rank"),
        col("__c").cast("int").as("cluster"))

  def multiProbeTopK(corpus: DataFrame, id: String, emb: String,
      centroids: Seq[Seq[Double]], nProbe: Int, k: Int,
      simFn: Sim = VectorFns.cosine): DataFrame = {
    val e = VectorFns.toDoubleArr(col(emb))
    val probeIds = probeIdsExpr(e, centroids, nProbe)
    // one distance pass serves both roles: a vector's OWN cluster is its
    // first probe (same argmin + smallest-id tie-break as assignClusters),
    // so the corpus side reuses probes(1) instead of re-ranking centroids
    // checkpointed: both join sides consume it — the centroid ranking runs
    // once per vector, not once per side
    val withProbes = corpus
      .select(col(id), VectorFns.toDoubleArr(col(emb)).as("__e"), probeIds.as("__ps"))
      .localCheckpoint(false)
    val q = withProbes.select(col(id).as("query_id"), col("__e").as("__qe"),
      explode(col("__ps")).as("__b"))
    val c = withProbes.select(element_at(col("__ps"), 1).as("__b"),
      col(id).as("neighbor_id"), col("__e").as("__ne"))
    val joined = q.join(c, Seq("__b")).filter(col("query_id") =!= col("neighbor_id"))
    simRank(joined, k, simFn)
  }

  /** Per-group embedding centroid in tall form (group, pos, mean_v):
    * posexplode + one hash aggregate keyed on (group, dimension). The tall
    * shape is deliberate — per-dimension partial means combine map-side,
    * so the shuffle carries |groups|·d partial rows instead of every
    * vector, and no task ever materializes a whole group (the
    * collect_list-then-fold form does both, and dies first at 100 TB).
    */
  def centroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "__v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(round(avg(col("__v").cast("double")), 6).as("mean_v"))

  /** Recall@k of an approximate neighbor list against the exact one — the
    * standard ANN quality gauge. Both inputs are (query_id, neighbor_id)
    * ranked frames (e.g. `clusteredTopK` vs `bruteForceTopK`); output is
    * per-query (n_hits, k, recall). One left-semi join on the pair key +
    * two small aggregates — cost is |result lists|, never corpus-sized.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame = {
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("__hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__hits"), lit(0L)).as("n_hits"),
        col("k"),
        round(coalesce(col("__hits"), lit(0L)).cast("double") / col("k"), 6)
          .as("recall"))
  }

  /** Rank-aware retrieval quality — MRR and graded nDCG — of an approximate
    * ranked list against the exact one (both from [[bruteForceTopK]]-shaped
    * frames: `query_id, neighbor_id, rank`). The set-blind complement of
    * [[recallAtK]]: recall can't see that an index returns the true #1 at
    * position k.
    *
    * Relevance grades come from the exact list: the true rank-r neighbor of
    * a k-deep list has grade k−r+1, everything else 0. Then per query
    * DCG = Σ grade_i / log2(i+1) over the approx ranks i, IDCG places the
    * same grade multiset in best order — which is exactly the exact list's
    * own order, so IDCG sums (k−r+1)/log2(r+1) over the exact frame with no
    * extra sort. MRR = 1/rank of the first graded hit, 0 when none.
    *
    * Each per-position DCG term is pinned to integer picos before the sum
    * (the repo-wide order-independence convention — per-query lists are
    * tiny, but the contract is bit-stable sums everywhere), and both sides
    * divide out at the close. One hash join on (query, neighbor) + two hash
    * aggregates; nothing scales beyond |Q|·k rows.
    */
  def rankEval(exact: DataFrame, approx: DataFrame): DataFrame = {
    def picoTerm(grade: Column, pos: Column): Column =
      round(grade.cast("double") / log2(pos.cast("double") + 1.0) * 1e12)
        .cast("long")

    val ex = exact.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("__xr"))
    val kq = ex.groupBy("query_id").agg(max(col("__xr")).as("k"))
    val idcg = ex.join(kq, Seq("query_id"))
      .groupBy("query_id")
      .agg(sum(picoTerm(col("k") - col("__xr") + 1, col("__xr"))).as("__idcg"))

    val ap = approx.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("__ar"))
    val graded = ap.join(ex, Seq("query_id", "neighbor_id"), "left")
      .join(kq, Seq("query_id"))
      .withColumn("__rel",
        when(col("__xr").isNotNull, col("k") - col("__xr") + 1)
          .otherwise(lit(0L)))
    val perQ = graded.groupBy("query_id")
      .agg(sum(when(col("__rel") > 0, picoTerm(col("__rel"), col("__ar")))
          .otherwise(lit(0L))).as("__dcg"),
        min(when(col("__rel") > 0, col("__ar"))).as("first_hit_rank"),
        count(when(col("__rel") > 0, lit(1))).as("n_hits"))

    kq.join(idcg, Seq("query_id"))
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"), col("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("first_hit_rank"),
        (round(when(col("first_hit_rank").isNotNull,
          lit(1.0) / col("first_hit_rank")).otherwise(lit(0.0)), 6) + lit(0.0))
          .as("mrr"),
        (round(coalesce(col("__dcg"), lit(0L)).cast("double") /
          col("__idcg").cast("double"), 6) + lit(0.0)).as("ndcg"))
  }

  /** Simplified (centroid-based) silhouette per cluster — the linear-time
    * clustering-quality audit (Hruschka et al. 2004's simplified variant of
    * Rousseeuw 1987): a_i = distance to the own-cluster centroid, b_i = the
    * nearest other centroid, s_i = (b−a)/max(a,b), averaged per cluster.
    * The full silhouette's O(N²) pair distances never appear.
    *
    * Exactness discipline: lanes are micro-quantized longs, centroid lane
    * means are exact DECIMAL sums rounded back to the micro grid, and every
    * squared distance is an exact DECIMAL fold over the bounded dims — so
    * a²/b² and their mins are integers, and the only doubles are two √ and
    * one division per row, pico-pinned before the per-cluster mean (the
    * repo's order-independent-sum convention).
    *
    * The ≤|clusters|·dim centroid frame is collected and re-enters as
    * per-cluster literal arrays (the v03 k×dim-literal precedent), so the
    * corpus is scanned twice with NO distance shuffle: once for centroids,
    * once computing all k distances per row in one codegen'd projection.
    * Rows with a missing cluster from the centroid pass can't exist (the
    * centroids come from the same frame). Single-cluster corpora have no
    * "other" centroid: s_i = 0 by convention.
    */
  def simplifiedSilhouette(df: DataFrame, id: String, emb: String,
      bucket: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val (v, centroids) = microLanesAndCentroids(df, id, emb, bucket)

    // one projection: the exact-integer squared distance to every centroid
    val withD2 = v.select(col("__id") +: col("__cl") +:
      centroids.zipWithIndex.map { case ((_, cq), i) =>
        aggregate(
          zip_with(col("__qv"), array(cq.map(lit(_)): _*),
            (x, c) => dec(x - c) * dec(x - c)),
          dec(lit(0)), (acc, t) => acc + t).as(s"__d2_$i")
      }: _*)
    val own = coalesce(centroids.zipWithIndex.map { case ((cl, _), i) =>
      when(col("__cl") === lit(cl), col(s"__d2_$i"))
    }: _*)
    val others = centroids.zipWithIndex.map { case ((cl, _), i) =>
      when(col("__cl") =!= lit(cl), col(s"__d2_$i"))
    }
    val nearestOther =
      if (others.size == 1) others.head else least(others: _*)

    val a = sqrt(col("__a2").cast("double"))
    val b = sqrt(col("__b2").cast("double"))
    val sPico = when(col("__b2").isNull, lit(0L))
      .when(greatest(a, b) > 0,
        round((b - a) / greatest(a, b) * lit(1e12), 0).cast("long"))
      .otherwise(lit(0L))
    withD2
      .select(col("__id"), col("__cl"), own.as("__a2"),
        nearestOther.as("__b2"))
      .select(col("__cl"), sPico.as("__sp"))
      .groupBy(col("__cl").as("label"))
      .agg(count(lit(1)).as("n"),
        (round(sum(col("__sp")).cast("double") / count(lit(1)).cast("double")
          / lit(1e12), 6) + lit(0.0)).as("mean_silhouette"))
  }

  /** Shared front end of the centroid-based cluster audits: the corpus as
    * micro-quantized integer lane arrays, plus per-cluster centroids —
    * exact DECIMAL lane sums rounded back to the micro grid — collected as
    * a bounded |clusters| × dim literal table (the v03 precedent), sorted
    * by cluster key for deterministic expression construction.
    *
    * Dimension discipline: ragged rows would silently poison the audits —
    * `zip_with` null-pads the short side, the squared distance goes null,
    * silhouette would score it 0 and distortion would drop it from the sum
    * while still counting it in n. So the corpus dimension is fixed to the
    * MODAL embedding length (ties to the smaller — one bounded aggregate)
    * and rows of any other length are excluded from lanes AND centroids; a
    * corpus with no usable vectors (all null/empty) fails fast with
    * IllegalArgumentException instead of a zero-arg-coalesce analysis error.
    */
  private def microLanesAndCentroids(df: DataFrame, id: String, emb: String,
      bucket: String): (DataFrame, Seq[(Any, Array[Long])]) = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val v0 = df.filter(col(emb).isNotNull)
      .select(col(id).as("__id"), col(bucket).as("__cl"),
        transform(VectorFns.toDoubleArr(col(emb)),
          x => round(x * lit(1e6), 0).cast("long")).as("__qv"))
    val dimRows = v0.filter(size(col("__qv")) > 0)
      .groupBy(size(col("__qv")).as("__d")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__d").asc).limit(1).collect()
    require(dimRows.nonEmpty,
      "centroid audit: no non-empty embeddings in the input — nothing to " +
        "cluster-score (all rows null or zero-length)")
    val dim = dimRows(0).getInt(0)
    val v = v0.filter(size(col("__qv")) === dim)
    val centRows = v
      .select(col("__cl"), posexplode(col("__qv")).as(Seq("__lane", "__q")))
      .groupBy("__cl", "__lane")
      .agg(sum(dec(col("__q"))).as("__s"), count(lit(1)).as("__n"))
      .select(col("__cl"), col("__lane"),
        round(col("__s").cast("double") / col("__n").cast("double"), 0)
          .cast("long").as("__cq"))
      .collect() // bounded: |clusters| × dim rows, never data-sized
    val centroids: Seq[(Any, Array[Long])] = centRows
      .groupBy(_.get(0))
      .map { case (cl, rows) =>
        cl -> rows.sortBy(_.getAs[Int]("__lane")).map(_.getAs[Long]("__cq"))
      }
      .toSeq.sortBy(_._1.toString)
    (v, centroids)
  }

  /** Per-cluster quantization distortion — the IVF/k-means index-health
    * report: exact integer squared distance of every vector to its OWN
    * centroid, closed per cluster as n, mean squared error, RMS distance
    * and max distance. A cluster whose RMS rivals the inter-centroid
    * spacing is quantizing badly (probe lists stop pruning); max catches
    * stragglers assigned across a cluster boundary. Same exactness
    * discipline as [[simplifiedSilhouette]]: all integers to the close,
    * then one division and one √ per output cell.
    */
  def quantizationDistortion(df: DataFrame, id: String, emb: String,
      bucket: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val (v, centroids) = microLanesAndCentroids(df, id, emb, bucket)
    val ownD2 = coalesce(centroids.map { case (cl, cq) =>
      when(col("__cl") === lit(cl),
        aggregate(
          zip_with(col("__qv"), array(cq.map(lit(_)): _*),
            (x, c) => dec(x - c) * dec(x - c)),
          dec(lit(0)), (acc, t) => acc + t))
    }: _*)
    v.select(col("__cl"), ownD2.as("__d2"))
      .groupBy(col("__cl").as("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("__d2")).as("__sum"), max(col("__d2")).as("__max"))
      .select(col("label"), col("n"),
        round(col("__sum").cast("double") / col("n").cast("double") / 1e12, 6)
          .as("mean_d2"),
        round(sqrt(col("__sum").cast("double") / col("n").cast("double"))
          / 1e6, 6).as("rms_dist"),
        round(sqrt(col("__max").cast("double")) / 1e6, 6).as("max_dist"))
  }

  /** Sign-bit binarization of a ≤ 64-dim embedding into two 32-bit words
    * (bit i set iff component i > 0) — the 64-byte-vector → 8-byte-code
    * compression behind binary-quantized indexes. Two words rather than
    * one keep every intermediate strictly positive and < 2³², so the
    * packing is exact integer arithmetic on both engines (bit 63 in one
    * signed word would overflow). Powers of two up to 2³¹ are exact
    * doubles, so `pow` is safe here.
    */
  private def signWord(e: Column, lo: Int, hi: Int): Column =
    aggregate(sequence(lit(lo), lit(hi)), lit(0L),
      (acc, i) => acc + when(element_at(e, i + 1) > 0,
        pow(lit(2.0), i - lo).cast("long")).otherwise(lit(0L)))

  def signBits(e: Column): (Column, Column) =
    (signWord(e, 0, 31), signWord(e, 32, 63))

  /** Two-stage binary-quantized search: Hamming distance over the packed
    * sign bits prunes the corpus to `cand` candidates per query (popcount
    * of two XOR words — integer-exact, so the prune is deterministic with
    * (hamming, id) tie-break), then the exact cosine reranks the
    * survivors to top `k`. The scan pays 2 longs per vector instead of
    * 64 floats until the rerank touches the `cand`·|queries| survivors —
    * the classic memory-bandwidth win of binary quantization, here with
    * the full-precision rerank restoring exact ordering on the shortlist.
    * Queries broadcast; the corpus is never shuffled (the v01 contract).
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, id: String,
      emb: String, cand: Int, k: Int,
      simFn: Sim = VectorFns.cosine): DataFrame = {
    def packed(df: DataFrame, idOut: String, embOut: String) = {
      val (w1, w2) = signBits(VectorFns.toDoubleArr(col(emb)))
      df.select(col(id).as(idOut),
        VectorFns.toDoubleArr(col(emb)).as(embOut),
        w1.as(s"${embOut}_w1"), w2.as(s"${embOut}_w2"))
    }
    val c = packed(corpus, "neighbor_id", "__ne")
    val q = packed(queries, "query_id", "__qe")
    val ham = (bit_count(col("__qe_w1").bitwiseXOR(col("__ne_w1"))) +
      bit_count(col("__qe_w2").bitwiseXOR(col("__ne_w2")))).cast("int")
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    val shortlist = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", ham)
      .withColumn("__hr", row_number().over(wHam))
      .filter(col("__hr") <= cand)
    val sim = round(simFn(col("__qe"), col("__ne")), 6)
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .withColumn("sim", sim)
      .withColumn("__rn", row_number().over(wSim))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("sim"), col("__rn").as("rank"))
  }
}
