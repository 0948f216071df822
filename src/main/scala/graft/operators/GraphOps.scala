package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph measures expressed as unrolled relational passes — the
  * companion of `dedup.DedupOps` connected components (min-label
  * propagation). PageRank here is the generic "importance over a
  * transition graph" scorer: event-type flow graphs, citation-ish doc
  * link graphs, code co-occurrence graphs.
  */
object GraphOps {

  /** Weighted PageRank, `iters` unrolled relational iterations.
    *
    * Each iteration is: contribution = rank/out-weight scattered along
    * edges (one equi-join on src, one hash agg on dst), plus the teleport
    * term and the dangling-node mass folded in via two one-row frames
    * (node count, dangling rank sum) — the bounded scalar-side pattern
    * `t20_pmi_bigrams` and `t21_kl_divergence` established (a 1-row
    * cross join is a broadcast of 8 bytes, not a data-sized cartesian).
    *
    * Determinism: per-edge contributions are accumulated in FIXED POINT
    * (each term correctly rounded to integer picos, summed as BIGINT — the
    * `MetricsOps.averagePrecision` argument), so no float sum's ordering is
    * ever observable; ranks are then pinned to 9 decimals after every
    * iteration — the `Knn.kmeansIterate` trajectory-pinning argument — and
    * the final output rounds to 6. Engine- and partition-count-exact.
    *
    * Scale: per iteration one shuffle on src + one on dst, both key-hashed;
    * node/edge frames never visit the driver. The rank frame is referenced
    * THREE times per iteration (scatter, dangling scan, rejoin), so an
    * unrolled lineage grows as 3^iters — `localCheckpoint` therefore
    * truncates it before every superstep after the first, the standard
    * iterative-graph materialization.
    */
  def pageRank(edges: DataFrame, src: String, dst: String, weight: String,
      iters: Int, damping: Double): DataFrame = {
    // the edge list and its out-weights feed EVERY superstep — materialize
    // them once instead of replaying the upstream lineage per iteration
    val e = edges.select(col(src).as("__src"), col(dst).as("__dst"),
      col(weight).cast("double").as("__w")).localCheckpoint()
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct()
    val nCount = nodes.agg(count(lit(1)).cast("double").as("__n"))
    val outW = e.groupBy("__src").agg(sum("__w").as("__outw")).localCheckpoint()

    // rank₀ = 1/N, exact same correctly-rounded double in both engines
    var ranks = nodes.crossJoin(broadcast(nCount))
      .select(col("node"), round(lit(1.0) / col("__n"), 9).as("rank"), col("__n"))

    for (i <- 0 until iters) {
      if (i > 0) ranks = ranks.localCheckpoint(false)
      val withOut = ranks.join(outW, ranks("node") === outW("__src"), "left")
        .drop("__src")
      val contrib = withOut.filter(col("__outw").isNotNull)
        .join(e, col("node") === col("__src"))
        .groupBy(col("__dst").as("cnode"))
        .agg(sum(round(col("rank") / col("__outw") * col("__w") * 1e12, 0)
          .cast("long")).as("__cfp"))
      val dangling = withOut
        .agg(coalesce(sum(when(col("__outw").isNull,
          round(col("rank") * 1e12, 0).cast("long"))), lit(0L)).as("__dfp"))
      ranks = ranks
        .join(contrib, col("node") === col("cnode"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          round(
            (lit(1.0) - damping) / col("__n") +
              lit(damping) * (coalesce(col("__cfp"), lit(0L)) / 1e12 +
                col("__dfp") / 1e12 / col("__n")), 9).as("rank"),
          col("__n"))
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Undirected co-occurrence edge list from a basket frame: one edge per
    * unordered item pair appearing in the same basket, weighted by the
    * number of shared baskets. Edges are canonicalized `src < dst`.
    *
    * Scale: the self-join fan-out is Σ k_b² over basket sizes k_b, so one
    * pathological basket can dominate the whole job — `maxBasket` drops
    * baskets above the cap BEFORE the join (the `DedupOps` LSH-bucket-cap
    * argument: bound the quadratic term, loudly, up front). The join
    * itself is a plain equi-join on the basket key — hash-partitioned,
    * no broadcast needed, no skew beyond the capped basket size.
    */
  def coOccurrenceEdges(baskets: DataFrame, basket: String, item: String,
      maxBasket: Int = 1000): DataFrame = {
    val items = baskets.select(col(basket).as("__b"), col(item).as("__i"))
      .distinct()
    val small = items
      .withColumn("__k", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__b"))))
      .filter(col("__k") <= maxBasket).drop("__k")
    small.alias("a").join(small.alias("b"),
        col("a.__b") === col("b.__b") && col("a.__i") < col("b.__i"))
      .groupBy(col("a.__i").as("src"), col("b.__i").as("dst"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** k-core peel (the classic densest-region decomposition): run `rounds`
    * iterations of "drop every node whose degree among SURVIVORS is < k"
    * and return the survivors with their in-core degree. Peeling is
    * MONOTONE — once the core stabilizes, further rounds are no-ops — so
    * a fixed round count is simultaneously deterministic, convergent for
    * any graph whose peel depth is ≤ `rounds`, and exactly mirrorable by
    * an unrolled-CTE oracle (the v10/BPE pattern; and if a pathological
    * graph needed more rounds, engine and oracle still agree — both stop
    * at the same round). Each round: two semi-joins of the symmetric
    * adjacency against the shrinking survivor frame + one hash agg,
    * survivor frame checkpointed per round (the pageRank lineage
    * argument). No driver-side data ever.
    *
    * Convergence observability: peeling is monotone (alive sets only
    * shrink), so "the last round removed nobody" — survivor COUNT equality
    * of the final two rounds — is exactly set equality, and exactly "the
    * answer is the true k-core, not a superset cut off mid-peel". That
    * boolean rides every output row as `converged`; a pathological graph
    * needing more than `rounds` peels says so in-band instead of silently
    * returning the unconverged frame.
    *
    * Early stop: the same monotonicity means a round that removes nobody
    * proves every later round is a no-op — the loop exits there. The
    * survivor frame and the `converged` flag are bit-identical to the
    * full unroll (a fixed-round oracle's extra rounds are no-ops on a
    * converged frame), so this is pure cost: `rounds − r` dead supersteps
    * never scheduled. The per-round count is a driver SCALAR off the
    * already-materialized checkpoint (loop control, never data), and it
    * replaces the old two-aggregate flag attach outright.
    *
    * Cache lifetime: the partitioned adjacency is `persist`ed and the
    * RETURNED frame still references it, so it cannot be unpersisted
    * here. Long-lived sessions calling this repeatedly should sweep
    * non-shared persistent RDDs between calls (the bench harness does;
    * `spark.sparkContext.getPersistentRDDs` + `unpersist`), or wrap the
    * result in their own checkpoint and unpersist behind it.
    */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"kCore needs at least one peel round, got $rounds")
    val e0 = edges.select(col(src).as("__u"), col(dst).as("__v"))
      .localCheckpoint(false)
    // every peel round ends in a hash aggregate keyed on __z (and starts
    // with a semi-join on it): partition the adjacency on __z once and
    // CACHE it (persist, not localCheckpoint — an InMemoryRelation keeps
    // its outputPartitioning visible to the planner, a checkpointed
    // LogicalRDD degrades to UnknownPartitioning). While the shrinking
    // survivor frame is small enough to broadcast, a peel round runs with
    // ZERO exchanges of the 2|E| adjacency; early rounds at scale, where
    // the survivor set is itself data-sized, the semi-joins degrade to
    // SMJ and re-exchange the survivor side only — the cached adjacency
    // partitioning still feeds the degree aggregate without a re-shuffle.
    // Serialized storage: the 2|E| working set is the biggest cache this
    // module holds, and at scale deserialized row objects are a §5
    // memory/spill hazard — MEMORY_AND_DISK_SER trades a cheap per-round
    // deserialize for a several-fold smaller, spill-friendly footprint.
    val adj = e0.select(col("__u").as("__z"), col("__v").as("__n"))
      .union(e0.select(col("__v").as("__z"), col("__u").as("__n")))
      .repartition(col("__z"))
      .sortWithinPartitions("__z")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    var alive = adj.select(col("__z")).distinct().localCheckpoint()
    var nPrev = alive.count()
    var nCur = nPrev
    var r = 0
    var fixpoint = false
    while (r < rounds && !fixpoint) {
      val deg = adj
        .join(alive, Seq("__z"), "left_semi")
        .join(alive.withColumnRenamed("__z", "__n"), Seq("__n"), "left_semi")
        .groupBy("__z").agg(count(lit(1)).as("__deg"))
      alive = deg.filter(col("__deg") >= k).select("__z").localCheckpoint()
      nPrev = nCur
      nCur = alive.count()
      // monotone shrink ⇒ count equality IS set equality (= fixpoint)
      fixpoint = nPrev == nCur
      r += 1
    }
    adj.join(alive, Seq("__z"), "left_semi")
      .join(alive.withColumnRenamed("__z", "__n"), Seq("__n"), "left_semi")
      .groupBy(col("__z")).agg(count(lit(1)).as("core_deg"))
      .select(col("__z").as("node"), col("core_deg"),
        lit(nPrev == nCur).as("converged"))
  }

  /** Exact triangle count of an undirected graph, degree-ordered.
    *
    * The naive wedge join enumerates Σ deg(v)² wedges — a single hub node
    * ruins it. The standard fix (forward / compact-forward counting):
    * orient every edge from the endpoint with the smaller `(degree, id)`
    * to the larger, so out-degrees are bounded by O(√m) regardless of how
    * skewed the raw degrees are, and each triangle is counted exactly
    * once. Three hash joins, exact integer output, one row.
    *
    * Input edges must be canonical undirected (`src < dst`, one row per
    * edge) — [[coOccurrenceEdges]] output qualifies directly.
    */
  def triangleCount(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(col(src).as("__u"), col(dst).as("__v"))
    val deg = e.select(col("__u").as("__n"))
      .union(e.select(col("__v").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__deg"))
    // orient by (degree, id): u→v iff (deg u, u) < (deg v, v)
    val oriented = e
      .join(deg.withColumnRenamed("__n", "__u")
        .withColumnRenamed("__deg", "__du"), Seq("__u"))
      .join(deg.withColumnRenamed("__n", "__v")
        .withColumnRenamed("__deg", "__dv"), Seq("__v"))
      .select(
        when(struct(col("__du"), col("__u")) < struct(col("__dv"), col("__v")),
          col("__u")).otherwise(col("__v")).as("s"),
        when(struct(col("__du"), col("__u")) < struct(col("__dv"), col("__v")),
          col("__v")).otherwise(col("__u")).as("t"))
    // wedge endpoints are emitted id-ordered (a < b), so the closing edge
    // is looked up in the CANONICAL list with one hash equi-join — an
    // either-orientation OR-join against the degree-ordered list would
    // degenerate to a nested-loop product
    val wedges = oriented.alias("e1").join(oriented.alias("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.t").as("a"), col("e2.t").as("b"))
    wedges.join(e, col("a") === col("__u") && col("b") === col("__v"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** Degree histogram of an undirected edge list: how many nodes have each
    * degree — the one-glance shape check (hub detection, power-law sanity)
    * for any graph this module consumes. Two hash aggregations, both on
    * bounded-cardinality keys.
    */
  def degreeHistogram(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(col(src).as("__n"))
      .union(edges.select(col(dst).as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__deg"))
      .groupBy(col("__deg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))

  /** Link-prediction features per candidate node pair: common-neighbor
    * count and the Adamic-Adar index Σ_z 1/ln(deg(z)) over shared
    * neighbors z — the classic "which unlinked pairs are likely related"
    * score (entity-resolution candidate ranking, recommendation recall).
    *
    * The pair generator is the wedge join (adjacency ⋈ adjacency on the
    * shared endpoint), whose cost is Σ deg(z)² — so hubs above `maxDeg`
    * are dropped from the SHARED-endpoint side first (the same
    * bound-the-quadratic-term-up-front argument as the LSH bucket cap; a
    * hub shared by everything carries no discriminative signal anyway,
    * exactly like a stopword in the PMI query). A shared neighbor has
    * deg ≥ 2 by construction, so ln(deg) > 0 and the reciprocal is
    * always finite.
    *
    * Input must be canonical undirected (`src < dst`); output pairs are
    * id-ordered with `common ≥ minCommon`.
    */
  /** Degree assortativity — Pearson correlation of endpoint degrees over
    * the undirected edge list ("do hubs link to hubs?"; positive = social
    * network, negative = hub-and-spoke). Each undirected edge contributes
    * BOTH orientations (the standard symmetrized form). Degrees are exact
    * integers, so all six Pearson sufficient statistics sum exactly in
    * DECIMAL(38,0) — the [[graft.operators.RegressionOps.groupOls]]
    * argument; null when every degree is equal (zero variance).
    *
    * Scale: one degree aggregate, two equi-joins back to the edges, one
    * scalar aggregate — all keyed on node ids.
    */
  def assortativity(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(col(src).as("__u"), col(dst).as("__v"))
    val deg = e.select(col("__u").as("__n"))
      .union(e.select(col("__v").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__deg"))
    val both = e.union(e.select(col("__v").as("__u"), col("__u").as("__v")))
      .join(deg.select(col("__n").as("__u"), col("__deg").as("__du")), Seq("__u"))
      .join(deg.select(col("__n").as("__v"), col("__deg").as("__dv")), Seq("__v"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    both.agg(
        count(lit(1)).as("m2"),
        sum(dec(col("__du"))).as("__sx"),
        sum(dec(col("__dv"))).as("__sy"),
        sum(dec(col("__du")) * col("__dv")).as("__sxy"),
        sum(dec(col("__du")) * col("__du")).as("__sxx"),
        sum(dec(col("__dv")) * col("__dv")).as("__syy"))
      .select(col("m2"),
        when((col("m2") * col("__sxx") - col("__sx") * col("__sx")) *
          (col("m2") * col("__syy") - col("__sy") * col("__sy")) > 0,
          round(
            (col("m2") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
              sqrt((col("m2") * col("__sxx") - col("__sx") * col("__sx")).cast("double") *
                (col("m2") * col("__syy") - col("__sy") * col("__sy")).cast("double")),
            6)).as("assortativity"))
  }

  /** Synchronous label propagation communities (Raghavan et al. 2007),
    * made fully deterministic: every node starts labeled with its own id;
    * each round, every node adopts the label most frequent among its
    * NEIGHBORS, ties broken by the smallest label (no randomized visit
    * order — the classic async LPA is run-dependent, this one is a pure
    * function of the graph). A fixed `rounds` count keeps it both
    * deterministic and mirrorable as unrolled oracle CTEs (the
    * kCore/pageRank argument; extra rounds past convergence oscillate or
    * no-op identically in both engines).
    *
    * Scale shape per round: one hash equi-join (symmetric adjacency ×
    * current labels, partitioned on the node key), one (node, label)
    * count aggregate, one argmax-by-struct-min aggregate — no windows, no
    * broadcasts of data-sized frames; the label frame is checkpointed per
    * round to keep lineage flat. Isolated nodes never appear in the
    * adjacency and keep their own label by construction of the final
    * union. Cache lifetime: same caller contract as [[kCore]] — the
    * returned frame references the persisted adjacency; sweep non-shared
    * persistent RDDs between repeated calls.
    *
    * Convergence observability (the kCore convention): `converged` is true
    * iff the final two rounds assigned IDENTICAL labels — one equi-join of
    * the last two bounded label frames counting disagreements, attached as
    * a 1-row broadcast scalar. False covers both "needs more rounds" and
    * the classic synchronous-LPA 2-cycle oscillation; either way the
    * caller knows the frame is not a fixpoint.
    */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1,
      s"labelPropagation needs at least one round, got $rounds")
    val e0 = edges.select(col(src).as("__u"), col(dst).as("__v"))
      .localCheckpoint(false)
    // the adjacency is the big side of EVERY round's neighbor join and
    // the join key is always __n: partition AND sort it on __n once, then
    // CACHE it (persist, not localCheckpoint — an InMemoryRelation keeps
    // outputPartitioning/outputOrdering visible to the planner, a
    // checkpointed LogicalRDD degrades to UnknownPartitioning). Each
    // round's sort-merge join then exchanges and sorts only the
    // one-row-per-node label frame; the 2|E| adjacency is never
    // re-shuffled or re-sorted after the build. Serialized storage for
    // the same §5 reason as kCore: the 2|E| cache must be compact and
    // spill-friendly at scale, not deserialized row objects.
    val adj = e0.select(col("__u").as("__z"), col("__v").as("__n"))
      .union(e0.select(col("__v").as("__z"), col("__u").as("__n")))
      .repartition(col("__n"))
      .sortWithinPartitions("__n")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    var labels = adj.select(col("__z")).distinct()
      .select(col("__z"), col("__z").as("__lbl")).localCheckpoint(false)
    var prevLabels = labels
    for (_ <- 0 until rounds) {
      prevLabels = labels
      // ONE data-sized exchange per round: repartition the joined
      // (z, neighbor-label) stream by __z once — hash(__z) satisfies the
      // clustered distribution of BOTH downstream aggregates (grouping
      // keys {__z,__lbl} ⊇ {__z} and {__z}), so the (z,lbl) count AND the
      // argmax run exchange-free on top of it. The old shape exchanged
      // twice (partial counts on (z,lbl), then (z,lbl,c) rows on z); in
      // the diverse-label early rounds both carried ~|2E| rows each,
      // so this halves the per-round shuffle where it is largest.
      val neigh = adj
        .join(labels.withColumnRenamed("__z", "__n"), Seq("__n"))
        .select(col("__z"), col("__lbl"))
        .repartition(col("__z"))
        .groupBy(col("__z"), col("__lbl"))
        .agg(count(lit(1)).as("__c"))
      // argmax count, ties to the smallest label: lexicographic struct
      // min over (−count, label) — one hash aggregate, no window
      labels = neigh.groupBy(col("__z"))
        .agg(min(struct((-col("__c")).as("nc"), col("__lbl").as("l")))
          .getField("l").as("__lbl"))
        .localCheckpoint(false)
    }
    // every adjacency node carries a label each round (each has ≥1
    // neighbor), so the node sets of the two frames coincide — inner join
    val flag = labels
      .join(prevLabels.withColumnRenamed("__lbl", "__plbl"), Seq("__z"))
      .agg(sum(when(col("__lbl") =!= col("__plbl"), 1L).otherwise(0L))
        .as("__nd"))
      .select((coalesce(col("__nd"), lit(0L)) === 0L).as("converged"))
    labels.select(col("__z").as("node"), col("__lbl").as("label"))
      .crossJoin(broadcast(flag))
  }

  def adamicAdar(edges: DataFrame, src: String, dst: String,
      maxDeg: Int = 1000, minCommon: Long = 2L): DataFrame = {
    val e = edges.select(col(src).as("__u"), col(dst).as("__v"))
    val adj = e.select(col("__u").as("__z"), col("__v").as("__n"))
      .union(e.select(col("__v").as("__z"), col("__u").as("__n")))
    // 1/ln(deg) pico-quantized once per NODE (the bounded degree frame),
    // so the per-pair score is an exact-integer sum — shuffle-order
    // independent. A node generates wedges only with deg ≥ 2 (it needs
    // two neighbors), so the deg-1 guard never reaches an aggregate; it
    // only keeps ln(1)=0 from minting an infinity in the projection.
    val deg = adj.groupBy("__z").agg(count(lit(1)).as("__deg"))
      .withColumn("__rq", when(col("__deg") >= 2L,
        round(lit(1.0) / log(col("__deg")) * 1e12, 0).cast("long"))
        .otherwise(lit(0L)))
    val small = adj.join(deg.filter(col("__deg") <= maxDeg), Seq("__z"))
    small.alias("a").join(small.alias("b"),
        col("a.__z") === col("b.__z") && col("a.__n") < col("b.__n"))
      .groupBy(col("a.__n").as("node_a"), col("b.__n").as("node_b"))
      .agg(count(lit(1)).as("common"),
        round(sum(col("a.__rq")).cast("double") / lit(1e12), 6)
          .as("adamic_adar"))
      .filter(col("common") >= minCommon)
  }

  /** Neighborhood Jaccard similarity — [[adamicAdar]]'s unweighted
    * sibling, |Γ(a)∩Γ(b)| / |Γ(a)∪Γ(b)|: the structural-equivalence
    * score link-prediction and entity-resolution pipelines rank on.
    * Same wedge enumeration through shared neighbors with the `maxDeg`
    * hub cap bounding the quadratic fan-out (shared neighbors above the
    * cap don't generate pairs — the adamicAdar discipline); denominators
    * use FULL degrees, so the score itself is exact: one division of
    * exact integers (common / (deg_a + deg_b − common)), rounded to 6.
    */
  def neighborJaccard(edges: DataFrame, src: String, dst: String,
      maxDeg: Int = 1000, minCommon: Long = 2L): DataFrame = {
    val e = edges.select(col(src).as("__u"), col(dst).as("__v"))
    val adj = e.select(col("__u").as("__z"), col("__v").as("__n"))
      .union(e.select(col("__v").as("__z"), col("__u").as("__n")))
    val deg = adj.groupBy("__z").agg(count(lit(1)).as("__deg"))
    val small = adj.join(deg.filter(col("__deg") <= maxDeg), Seq("__z"))
    val pairs = small.alias("a").join(small.alias("b"),
        col("a.__z") === col("b.__z") && col("a.__n") < col("b.__n"))
      .groupBy(col("a.__n").as("node_a"), col("b.__n").as("node_b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    pairs
      .join(deg.select(col("__z").as("node_a"), col("__deg").as("__da")),
        Seq("node_a"))
      .join(deg.select(col("__z").as("node_b"), col("__deg").as("__db")),
        Seq("node_b"))
      .select(col("node_a"), col("node_b"), col("common"),
        round(col("common").cast("double") /
          (col("__da") + col("__db") - col("common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** HITS hubs/authorities (Kleinberg 1999), `iters` unrolled relational
    * supersteps over a DIRECTED edge list — [[pageRank]]'s bipartite-score
    * sibling (query-flow graphs, citation graphs, the "good pointer vs
    * good content" split PageRank can't express).
    *
    * Superstep (classic order, weighted form): authority
    * a'(v) = Σ_{u→v} w·h(u), then hub h'(u) = Σ_{u→v} w·a'(v), each
    * followed by an L1 normalization.
    * Determinism is the pageRank fixed-point contract taken one step
    * further: per-edge contributions are correctly rounded to integer
    * picos (×1e12, BIGINT) BEFORE summation, and the L1 total is the sum
    * of those same integers — so the normalizing division is a ratio of
    * two exact integers and no float accumulation order is ever
    * observable. The quantized quantity is BOUNDED: weights are first
    * normalized by the global max (a 1-row broadcast), so hub·w ≤ 1 and
    * the pico value always fits a Long exactly — no 2^53 precision loss
    * and no silent-wrap-vs-raise cast divergence at any weight scale.
    * Per-node and L1 accumulations are exact DECIMAL. Scores are pinned
    * to 9 decimals per superstep (the kmeansIterate trajectory-pinning
    * argument) and 6 on output. Requires `iters >= 1` and positive
    * weights; an empty edge list yields all-zero scores (guarded L1
    * division) rather than a divide-by-zero.
    *
    * Scale: per superstep one equi-join on each edge endpoint plus one
    * hash agg — all key-partitioned; the L1 total is a one-row frame
    * (8 bytes broadcast). Score frames are checkpointed per superstep to
    * keep the unrolled lineage flat. Nodes with no in-edges hold
    * authority 0, no out-edges hub 0 (left joins, coalesce).
    */
  def hits(edges: DataFrame, src: String, dst: String, weight: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "hits requires iters >= 1")
    val eRaw = edges.select(col(src).as("__src"), col(dst).as("__dst"),
      col(weight).cast("double").as("__w"))
    val wMax = eRaw.agg(max(col("__w")).as("__wm"))
    val e = eRaw.crossJoin(broadcast(wMax))
      .select(col("__src"), col("__dst"),
        (col("__w") / col("__wm")).as("__w"))
      .localCheckpoint()
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct().localCheckpoint()
    // h₀ = 1/N: the same correctly-rounded double in both engines
    val nCount = nodes.agg(count(lit(1)).cast("double").as("__n"))
    var hub = nodes.crossJoin(broadcast(nCount))
      .select(col("node"), round(lit(1.0) / col("__n"), 9).as("hub"))
    var auth: DataFrame = null
    for (i <- 0 until iters) {
      if (i > 0) hub = hub.localCheckpoint(false)
      // a'(v) = Σ h(u) over in-edges, integer-pico accumulated
      val afp = e.join(hub, col("__src") === col("node"))
        .groupBy(col("__dst").as("anode"))
        .agg(sum(round(col("hub") * col("__w") * 1e12, 0).cast("long")
          .cast("decimal(18,0)")).as("__afp"))
      val aTot = afp.agg(sum(col("__afp")).cast("double").as("__at"))
      auth = nodes.join(afp, col("node") === col("anode"), "left")
        .crossJoin(broadcast(aTot))
        .select(col("node"),
          round(when(col("__at") > 0,
            coalesce(col("__afp").cast("double"), lit(0.0)) / col("__at"))
            .otherwise(lit(0.0)), 9).as("authority"))
        .localCheckpoint(false)
      // h'(u) = Σ a'(v) over out-edges, same fixed-point contract
      val hfp = e.join(auth, col("__dst") === col("node"))
        .groupBy(col("__src").as("hnode"))
        .agg(sum(round(col("authority") * col("__w") * 1e12, 0).cast("long")
          .cast("decimal(18,0)")).as("__hfp"))
      val hTot = hfp.agg(sum(col("__hfp")).cast("double").as("__ht"))
      hub = nodes.join(hfp, col("node") === col("hnode"), "left")
        .crossJoin(broadcast(hTot))
        .select(col("node"),
          round(when(col("__ht") > 0,
            coalesce(col("__hfp").cast("double"), lit(0.0)) / col("__ht"))
            .otherwise(lit(0.0)), 9).as("hub"))
    }
    hub.join(auth, Seq("node"))
      .select(col("node"), round(col("authority"), 6).as("authority"),
        round(col("hub"), 6).as("hub"))
  }

  /** Local clustering coefficient per node: 2·T(v) / (deg(v)·(deg(v)−1)),
    * T(v) = triangles through v — the per-node refinement of
    * [[triangleCount]] ("how club-like is this node's neighborhood").
    *
    * Triangle enumeration reuses the degree-ordered forward-counting
    * orientation (out-degrees O(√m) regardless of hub skew), but each
    * closed triangle (s, a, b) is scattered back to ALL THREE corners
    * before the per-node count — a 3-row explode of an already-bounded
    * triangle stream, not a wider join. The coefficient is one division
    * of exact integers; deg < 2 surfaces as coefficient 0 by the usual
    * convention. Input edges must be canonical undirected (`src < dst`).
    */
  def localClusteringCoeff(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(col(src).as("__u"), col(dst).as("__v"))
      .localCheckpoint()
    val deg = e.select(col("__u").as("__n"))
      .union(e.select(col("__v").as("__n")))
      .groupBy("__n").agg(count(lit(1)).as("__deg"))
    val oriented = e
      .join(deg.withColumnRenamed("__n", "__u")
        .withColumnRenamed("__deg", "__du"), Seq("__u"))
      .join(deg.withColumnRenamed("__n", "__v")
        .withColumnRenamed("__deg", "__dv"), Seq("__v"))
      .select(
        when(struct(col("__du"), col("__u")) < struct(col("__dv"), col("__v")),
          col("__u")).otherwise(col("__v")).as("s"),
        when(struct(col("__du"), col("__u")) < struct(col("__dv"), col("__v")),
          col("__v")).otherwise(col("__u")).as("t"))
    val tris = oriented.alias("e1").join(oriented.alias("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("w"), col("e1.t").as("a"), col("e2.t").as("b"))
      .join(e, col("a") === col("__u") && col("b") === col("__v"))
      .select(explode(array(col("w"), col("a"), col("b"))).as("__n"))
      .groupBy("__n").agg(count(lit(1)).as("__tri"))
    deg.join(tris, Seq("__n"), "left")
      .select(col("__n").as("node"), col("__deg").as("degree"),
        coalesce(col("__tri"), lit(0L)).as("triangles"),
        when(col("__deg") < 2, lit(0.0)).otherwise(
          round(coalesce(col("__tri"), lit(0L)).cast("double") * 2.0 /
            (col("__deg") * (col("__deg") - 1)).cast("double"), 6))
          .as("clustering_coeff"))
  }

  /** Edge reciprocity of a DIRECTED graph — the share of non-loop edges
    * whose reverse edge also exists ("is this flow conversational or
    * one-way?"; ~1 for mutual-follow social graphs, ~0 for strict
    * pipelines). One left-semi self-join of the distinct edge list
    * against its own transpose + two counts; exact integer division,
    * one row out.
    */
  def reciprocity(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges.select(col(src).as("__u"), col(dst).as("__v"))
      .filter(col("__u") =!= col("__v")).distinct().localCheckpoint()
    val mutual = e.join(
      e.select(col("__v").as("__u"), col("__u").as("__v")),
      Seq("__u", "__v"), "left_semi")
    e.agg(count(lit(1)).as("m"))
      .crossJoin(broadcast(mutual.agg(count(lit(1)).as("reciprocal"))))
      .select(col("m"), col("reciprocal"),
        round(col("reciprocal").cast("double") / col("m").cast("double"), 6)
          .as("reciprocity"))
  }
}
