package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Product quantization (Jégou, Douze, Schmid 2011, public algorithm) —
  * the memory-bound ANN scale path next to [[Knn]]'s brute-force baseline
  * and IVF cluster routing: a d-dim vector compresses to `m` small integer
  * codes (one per subspace), and query↔code distances resolve through a
  * per-query lookup table instead of touching the original floats.
  *
  * At the 100 TB design point this is what makes a billion-vector corpus
  * searchable: the encoded corpus is m bytes/vector (64× smaller at d=64,
  * m=8, 4 codewords), the codebook is a bounded literal (m·k·(d/m) doubles)
  * compiled into the plan exactly like [[Knn.assignClusters]]'s centroid
  * matrix, and the ADC scan is O(m) table lookups per pair — no
  * per-pair float vector math at all.
  *
  * Everything is deterministic and engine-portable by the same argument as
  * `v03b`: encode argmins and distance sums are sequential left-to-right
  * folds over literal-indexed elements, so any engine computing IEEE
  * doubles produces bit-identical codes and ADC values; ranking orders on
  * the 6dp-rounded distance with an id tie-break.
  */
object Pq {

  /** `codebooks(j)(c)` = the `c`-th codeword (d/m doubles) of subspace `j`. */
  type Codebooks = Seq[Seq[Seq[Double]]]

  private def codebookLit(codebooks: Codebooks): Column =
    typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** Squared-L2 between a slice of `v` starting at 1-based `start` and a
    * codeword array — a sequential fold, identical on any engine.
    */
  private def subDist(v: Column, start: Column, sub: Int, cw: Column): Column =
    aggregate(zip_with(slice(v, start, lit(sub)), cw, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)

  /** PQ-encode: adds `codes` (array<int>, length m) — per subspace, the
    * index of the nearest codeword, ties to the smaller index. One
    * codegen'd expression per row; the corpus is scanned once, nothing
    * shuffles.
    */
  def pqEncode(corpus: DataFrame, id: String, emb: String,
      codebooks: Codebooks): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val e = VectorFns.toDoubleArr(col(emb))
    val cbs = codebookLit(codebooks)
    val codes = transform(sequence(lit(0), lit(m - 1)), j => {
      val dists = transform(element_at(cbs, j + 1),
        cw => subDist(e, j * lit(sub) + lit(1), sub, cw))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    })
    corpus.withColumn("codes", codes)
  }

  /** Asymmetric-distance top-k: each (broadcast) query precomputes its
    * m×k distance table ONCE, then every corpus code resolves to an
    * approximate distance via m table lookups — the classic ADC scan.
    * The corpus is scanned once (no shuffle before the per-query top-k
    * window, which partitions on query_id). Output ranks ascend by
    * 6dp-rounded ADC distance, ties to the smaller neighbor id.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, id: String, emb: String,
      codebooks: Codebooks, k: Int): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val cbs = codebookLit(codebooks)
    val enc = pqEncode(corpus, id, emb, codebooks)
      .select(col(id).as("neighbor_id"), col("codes"))
    // per-query lookup table: __tab[j][c] = ||q_sub_j - codebook[j][c]||²
    val q = queries.select(col(id).as("query_id"),
      VectorFns.toDoubleArr(col(emb)).as("__qe"))
      .withColumn("__tab", transform(sequence(lit(0), lit(m - 1)), j =>
        transform(element_at(cbs, j + 1),
          cw => subDist(col("__qe"), j * lit(sub) + lit(1), sub, cw))))
      .drop("__qe")
    val adc = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, j) =>
      acc + element_at(element_at(col("__tab"), j + 1),
        element_at(col("codes"), j + 1) + 1))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    enc.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", round(adc, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
  }

  /** IVF + PQ-ADC — the production ANN composition: the coarse quantizer
    * prunes the corpus to each query's `nProbe` nearest cells, then the
    * ADC table scan ranks ONLY those candidates. Unlike [[pqTopK]]'s flat
    * scan (every query × every code), the probe join is CLUSTER-EQUI — a
    * hash join on the cell id — so per query only ~nProbe/C of the corpus
    * is touched and the corpus never shuffles (the query side, bounded by
    * the caller's contract, broadcasts with its precomputed m×k tables).
    * Both stages reuse the engine-portable argmin constructions the
    * v03b/v06b oracles prove (fixed centroids, rounded-ADC rank, ties to
    * the smaller id).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String,
      emb: String, centroids: Seq[Seq[Double]], codebooks: Codebooks,
      nProbe: Int, k: Int): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val cbs = codebookLit(codebooks)
    val enc = pqEncode(Knn.assignClusters(corpus, id, emb, centroids),
        id, emb, codebooks)
      .select(col(id).as("neighbor_id"), col("codes"), col("cluster"))
    val qTab = queries.select(col(id).as("query_id"),
        VectorFns.toDoubleArr(col(emb)).as("__qe"))
      .withColumn("__tab", transform(sequence(lit(0), lit(m - 1)), j =>
        transform(element_at(cbs, j + 1),
          cw => subDist(col("__qe"), j * lit(sub) + lit(1), sub, cw))))
      .drop("__qe")
    val probes = Knn.probeSelection(queries, id, emb, centroids, nProbe)
      .select(col(id).as("query_id"), col("cluster"))
    val qSide = qTab.join(probes, Seq("query_id"))
    val adc = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, j) =>
      acc + element_at(element_at(col("__tab"), j + 1),
        element_at(col("codes"), j + 1) + 1))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    enc.join(broadcast(qSide), Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", round(adc, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"), col("rank"))
  }

  /** TRAIN the codebooks [[pqEncode]]/[[pqTopK]] consume (Jégou §III.A:
    * independent k-means per subspace) — with every subspace trained
    * JOINTLY: the subspace id is a grouping column, so all `m` codebooks
    * advance in the same `iters` distributed supersteps (one broadcast
    * equi-join + one argmin window + one per-(subspace, codeword, dim)
    * mean aggregate each), never m sequential loops.
    *
    * Round means are quantized to 6dp before seeding the next round —
    * the [[Knn.kmeansAssign]] trajectory-pinning contract that makes the
    * whole training loop engine-portable and lets it carry a full
    * cross-engine oracle (v19). Init follows v03: the k smallest vector
    * ids' subvectors seed codewords 0..k−1 of every subspace; empty
    * codewords keep their previous centroid. The only driver traffic is
    * the k seed ids; centroids live in a ≤ m·k-row frame broadcast per
    * round. Output is the tall trained codebook:
    * (subspace, codeword, n_assigned, pos, c_v).
    */
  def pqTrain(corpus: DataFrame, id: String, emb: String,
      m: Int = 8, subDim: Int = 8, k: Int = 16, iters: Int = 2): DataFrame = {
    val subs = graft.Tables.spread(
        corpus.select(col(id).cast("long").as("__vid"),
          VectorFns.toDoubleArr(col(emb)).as("__e")))
      .select(col("__vid"),
        explode(sequence(lit(0), lit(m - 1))).as("subspace"), col("__e"))
      .select(col("__vid"), col("subspace"),
        slice(col("__e"), col("subspace") * subDim + 1, lit(subDim)).as("__sv"))
      .localCheckpoint(false)
    val seedIds = subs.select(col("__vid")).distinct()
      .orderBy(col("__vid")).limit(k)
      .collect().map(_.getLong(0)).toSeq // bounded: exactly k ids
    val cwOf = typedLit(seedIds.zipWithIndex.toMap)
    var cb = subs
      .filter(col("__vid").isin(seedIds: _*))
      .select(col("subspace"), element_at(cwOf, col("__vid")).as("__cw"),
        col("__sv").as("__cv"))
      .localCheckpoint(false)
    def assign(cbF: DataFrame): DataFrame = {
      val d = aggregate(zip_with(col("__sv"), col("__cv"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)
      val w = Window.partitionBy(col("__vid"), col("subspace"))
        .orderBy(col("__dist").asc, col("__cw").asc)
      subs.join(broadcast(cbF), Seq("subspace"))
        .withColumn("__dist", d)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__vid"), col("subspace"), col("__sv"), col("__cw"))
    }
    for (_ <- 1 to iters) {
      val means = assign(cb)
        .select(col("subspace"), col("__cw"),
          posexplode(col("__sv")).as(Seq("pos", "__x")))
        .groupBy(col("subspace"), col("__cw"), col("pos"))
        .agg(round(avg(col("__x")), 6).as("__mx"))
        .groupBy(col("subspace"), col("__cw"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("__mx")))),
          s => s.getField("__mx")).as("__mv"))
      cb = cb.join(means, Seq("subspace", "__cw"), "left")
        .select(col("subspace"), col("__cw"),
          coalesce(col("__mv"), col("__cv")).as("__cv"))
        .localCheckpoint(false)
    }
    val nAssigned = assign(cb).groupBy(col("subspace"), col("__cw"))
      .agg(count(lit(1)).as("n_assigned"))
    cb.join(nAssigned, Seq("subspace", "__cw"), "left")
      .select(col("subspace"), col("__cw").as("codeword"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"),
        posexplode(col("__cv")).as(Seq("pos", "c_v")))
  }
}
