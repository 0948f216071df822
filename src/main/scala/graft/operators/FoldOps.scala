package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** ML-prep relational operators (reference stage 5: k-fold carving and
  * class oversampling, `ml_models.py:66-76`, `dl_train.py:117-127`).
  *
  * Fold assignment is a pure deterministic function of the row key — a
  * Knuth multiplicative hash in exact 64-bit arithmetic — so it is stable
  * across runs, engines, partitionings, and cluster sizes (the reference's
  * `random.sample` folds are none of these). No shuffle: assignment is a
  * projection; a fold filter is a pushdown predicate.
  */
object FoldOps {

  private val KnuthPrime = 2654435761L
  private val Mod = 1000000007L

  /** Deterministic fold in [0, k) from an integer key column. */
  def foldOf(key: Column, k: Int): Column =
    pmod(pmod(key * lit(KnuthPrime), lit(Mod)), lit(k.toLong))

  def assignFolds(df: DataFrame, key: String, k: Int, name: String = "fold"): DataFrame =
    df.withColumn(name, foldOf(col(key), k).cast("int"))

  /** Train/test split for fold `i`: (train, test). */
  def split(df: DataFrame, key: String, k: Int, i: Int): (DataFrame, DataFrame) = {
    val f = foldOf(col(key), k)
    (df.filter(f =!= i), df.filter(f === i))
  }

  /** Minority-class oversampling by integer replication: rows where
    * `isMinority` holds are emitted `factor` times (copy_id 1..factor),
    * others once. Distributed: explode of a per-row sequence, no driver
    * sampling loop.
    */
  def oversample(df: DataFrame, isMinority: Column, factor: Int,
      copyCol: String = "copy_id"): DataFrame = {
    // factor 0 would make sequence(1, 0) walk BACKWARDS (two copies, ids
    // 1 and 0) instead of dropping the row — reject it at the API edge
    require(factor >= 1, s"oversample factor must be >= 1, got $factor")
    df.withColumn(copyCol,
      explode(sequence(lit(1), when(isMinority, factor).otherwise(1))))
  }

  /** Hash bucket in [0, 16) from the last md5 nibble of the key's string
    * form. Engine-portable (md5 of the decimal rendering is identical
    * everywhere) and a pure projection — no RNG, no shuffle, same survivors
    * on any cluster size or partitioning.
    */
  def hashBucket16(key: Column): Column =
    conv(substring(md5(key.cast("string")), 32, 1), 16, 10).cast("int")

  /** Deterministic stratified downsampling: a row survives iff its hash
    * bucket is below the stratum's keep-threshold (in sixteenths;
    * `default` applies to unlisted strata). The filter is a pushdown
    * predicate over a projection — sampling 1% of 100 TB reads the scan
    * once and shuffles nothing, unlike `df.sampleBy` whose per-partition
    * RNG changes membership under repartitioning.
    */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
      sixteenths: Map[String, Int], default: Int,
      bucketCol: String = "h16"): DataFrame = {
    val thr = sixteenths.foldLeft(lit(default)) { case (acc, (s, v)) =>
      when(stratum === s, v).otherwise(acc)
    }
    df.withColumn(bucketCol, hashBucket16(key)).filter(col(bucketCol) < thr)
  }

  /** Deterministic weighted source interleaving (stride scheduling, the
    * public lottery-scheduling variant): source `s` emits its `r`-th row at
    * virtual time `(r − 0.5) / w(s)`, and the interleaved order is the
    * ascending virtual-time merge — over any prefix the share of source `s`
    * approaches `w(s)/Σw` with no RNG, and membership of the first-N batch
    * is a pure function of (source, in-source rank, weights): the batch
    * sampler that materializes `ml07`-style mixture weights into one
    * global training order.
    *
    * Scale shape: sources are FEW and HUGE (languages, domains), so the
    * in-source rank is NOT a per-source window (that sorts a whole source
    * in one task — the exact hazard [[perStratumTopN]] documents). It is
    * the [[RankOps.prefixSums]] kernel's running count with `partKeys` =
    * [source]; the final position is a [[RankOps.globalRowNumber]] over
    * virtual time. Nothing funnels through one task at any size. A null
    * source is a source of its own (default weight), never dropped.
    *
    * `orderCols` must totally order rows WITHIN each source. Sources
    * missing from `weights` get weight `defaultWeight`. Virtual-time ties
    * across sources break on (source, in-source rank).
    */
  def interleaveByWeight(df: DataFrame, source: Column, orderCols: Seq[Column],
      weights: Map[String, Double], defaultWeight: Double = 1.0,
      posName: String = "pos"): DataFrame = {
    val wl = typedLit(weights)
    val ranked = RankOps.prefixSums(df, Seq(source), orderCols, Seq(lit(1L) -> "src_rank"))
      .withColumn("__il_vt", (col("src_rank").cast("double") - 0.5) /
        coalesce(element_at(wl, source.cast("string")), lit(defaultWeight)))
    RankOps.globalRowNumber(ranked,
        Seq(col("__il_vt").asc, source.asc, col("src_rank").asc), posName)
      .drop("__il_vt")
  }

  /** Exact-n deterministic sample per stratum: rank rows inside each
    * stratum by the md5 of their key (plus the key itself as tie-break)
    * and keep the first `n`. The reservoir-sampling answer with none of
    * its order-dependence — same `n` rows per stratum on any cluster.
    * It is [[perStratumTopNBy]] ordered by that hash, so strata that are
    * FEW and HUGE (languages, sources) never sort in one task. For
    * fraction-based sampling prefer `stratifiedHashSample`, which needs no
    * sort at all.
    */
  def perStratumTopN(df: DataFrame, stratum: Column, key: Column, n: Int,
      rankCol: String = "rk"): DataFrame =
    perStratumTopNBy(df, stratum, Seq(md5(key.cast("string")).asc), key, n, rankCol)

  /** Exact value-ordered top-n per stratum ("top 3 items per region by
    * revenue"). Strata are often FEW and HUGE, so the naive per-stratum
    * window would sort a whole stratum in one task. Two phases instead:
    * phase 1 takes the local top-n inside each (stratum, salt) slice, one
    * of [[TopNSlices]] uniform portions — the global top-n is necessarily a
    * subset of the ≤ TopNSlices·n survivors — and phase 2 ranks that
    * bounded set exactly.
    *
    * `orderCols` + `tieBreak` must form a total order per stratum (tie
    * ambiguity would make the kept set nondeterministic); `tieBreak` also
    * seeds the salt, so slices are uniform regardless of the value
    * distribution.
    */
  def perStratumTopNBy(df: DataFrame, stratum: Column, orderCols: Seq[Column],
      tieBreak: Column, n: Int, rankCol: String = "rk"): DataFrame = {
    val fullOrder = orderCols :+ tieBreak.asc
    // the salt only has to SCATTER, not rank: any deterministic function of
    // the tie-break gives the same final top-n (every global top-n row is
    // top-n of whichever slice holds it)
    val salt = pmod(xxhash64(tieBreak), lit(TopNSlices.toLong))
    val wLocal = Window.partitionBy(stratum, salt).orderBy(fullOrder: _*)
    val survivors = df.withColumn("__tb_lr", row_number().over(wLocal))
      .filter(col("__tb_lr") <= n).drop("__tb_lr")
    val w = Window.partitionBy(stratum).orderBy(fullOrder: _*)
    survivors.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= n)
  }

  /** Phase-1 slices per stratum in [[perStratumTopNBy]]. */
  private final val TopNSlices = 64

  /** Global budget prefix: keep rows, in `sortCols` order (highest-priority
    * first; must be a total order), while the running total of `size` stays
    * within `budget` — the "sample the best N-token subset" primitive of a
    * training-data pipeline (token budgets, storage quotas, labeling
    * budgets). A row survives iff the budget covers it AND every row ranked
    * ahead of it, so membership is independent of partitioning and cluster
    * size. The prefix sum is [[RankOps.globalCumsum]] — two-phase,
    * range-partitioned, no single-partition exchange anywhere.
    */
  def takeByBudget(df: DataFrame, sortCols: Seq[Column], size: Column,
      budget: Long, cumName: String = "cum_size"): DataFrame =
    RankOps.globalCumsum(df, sortCols, size, cumName)
      .filter(col(cumName) <= budget)

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009, public
    * algorithm): tokens map to a FIXED-dimension bucket via a hash, so the
    * featurizer needs no vocabulary pass, no vocabulary broadcast, and no
    * id-assignment shuffle — the classic scale answer when `vocabIds`'
    * distinct-frame ranking is overkill. Output is the tall sparse form
    * (id, bucket, cnt); collisions are the accepted trade-off. The bucket
    * comes from md5 (first 4 nibbles mod `dim`) so the SAME features come
    * out on any engine, partitioning, or cluster — xxhash/murmur seeds are
    * engine-private, md5 of the token string is portable.
    */
  def featureHash(df: DataFrame, id: String, toks: Column, dim: Int): DataFrame =
    df.select(col(id), explode(toks).as("__tok"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("__tok")), 1, 4), 16, 10).cast("int"),
          lit(dim)))
      .groupBy(col(id), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006, public algorithm): each row gets priority ln(u)/w —
    * equivalent to ranking by u^(1/w) — where u is a uniform derived from
    * the md5 of the row key (first 8 hex nibbles, +0.5 so u is never 0)
    * and `w` is the row's weight; the top-`n` priorities are the sample.
    * Inclusion probability is proportional to weight; membership is a pure
    * function of (key, weight), so the same rows survive on any cluster
    * size, partitioning, or engine.
    *
    * Plan: a projection plus `orderBy().limit(n)` —
    * TakeOrderedAndProject, per-partition heaps, no global sort.
    */
  def weightedPriority(key: Column, weight: Column): Column = {
    val u = (conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    log(u) / weight.cast("double")
  }

  def weightedSample(df: DataFrame, key: Column, weight: Column, n: Int,
      priCol: String = "__ws_pri"): DataFrame =
    df.withColumn(priCol, weightedPriority(key, weight))
      .orderBy(col(priCol).desc, key.asc)
      .limit(n)
      .drop(priCol)

  /** Deterministic hard-negative sampling for contrastive training pairs:
    * for each user, `k` items the user did NOT interact with, drawn from
    * the user's own interaction BLOCKS (same `block` value — the
    * "hard" in hard negatives: candidates resemble the positives),
    * ranked by a content hash of (user, item) so membership is a pure
    * function of the pair — reproducible across runs, clusters, engines.
    *
    * Scale shape: distinct positives → (user, block) frame → equi-join
    * on `block` against the bounded catalog (never user × catalog), one
    * anti-join removes positives, and the per-user top-k is a window
    * keyed on the user (state bounded by the user's candidate set, which
    * the block join already bounded).
    */
  def hardNegatives(interactions: DataFrame, user: String, item: String,
      block: String, catalog: DataFrame, k: Int): DataFrame = {
    val pos = interactions.select(col(user), col(item)).distinct()
    val userBlocks = interactions.select(col(user), col(block)).distinct()
    val h = conv(substring(md5(concat_ws("#", col(user), col(item))), 1, 15),
      16, 10).cast("long")
    val cand = userBlocks
      .join(catalog.select(col(item), col(block)), Seq(block))
      .join(pos, Seq(user, item), "left_anti")
      .withColumn("__hn_h", h)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(user)).orderBy(col("__hn_h").asc, col(item).asc)
    cand.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col(user), col(item), col("neg_rank"))
  }

  /** Greedy-by-order sequence packing: rows are laid end-to-end in
    * (`partKeys`, `orderCols`) order and cut into fixed-`capacity` bins by
    * the running size prefix-sum (a row starts the next bin when its
    * predecessor total crosses a capacity boundary). Oversized rows
    * (> capacity) get a bin of their own, as in standard packing practice.
    *
    * The prefix sum is the [[RankOps.prefixSums]] kernel with `partKeys`
    * as its strata — strata are typically few and huge, so a plain
    * per-stratum window would funnel a whole stratum through one task. A
    * null stratum is packed as a stratum of its own, never dropped.
    */
  def packByCumsum(df: DataFrame, partKeys: Seq[String], orderCols: Seq[String],
      size: Column, capacity: Int, name: String = "bin_id"): DataFrame = {
    val packed = RankOps.prefixSums(df, partKeys.map(col), orderCols.map(col),
        Seq(size -> "__pb_cum"))
      .withColumn(name, floor((col("__pb_cum") - size) / lit(capacity.toDouble)).cast("int"))
      .drop("__pb_cum")
    // output contract: the partition keys lead
    packed.select((partKeys ++ packed.columns.filterNot(partKeys.contains)).map(col): _*)
  }

  /** Inverse-frequency class weights — `n_total / (k · n_class)` per label,
    * the standard imbalance correction fed to weighted loss functions (a
    * balanced dataset yields weight 1.0 for every class). One hash
    * aggregate to |classes| rows plus a 1-row totals broadcast; the weight
    * is a single correctly-rounded division over exact integer operands,
    * engine-exact.
    */
  def classWeights(df: DataFrame, label: String): DataFrame = {
    val counts = df.groupBy(label).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("__tot"), count(lit(1)).as("__k"))
    counts.crossJoin(broadcast(tot))
      .select(col(label), col("n"),
        round(col("__tot").cast("double") / (col("__k") * col("n")), 6)
          .as("weight"))
  }

  /** Leakage-free chronological train/test split per entity: each
    * entity's FIRST ceil((1−testFrac)·n) rows (in `orderCols` order) are
    * "train", the tail is "test" — the split every sequential-model
    * pipeline needs (random row splits leak future→past). `row_number`
    * and the partition count share ONE window spec, so the whole
    * operator is a single partition-keyed sort exchange; no per-entity
    * count join, no global sort.
    */
  def temporalSplit(df: DataFrame, partKeys: Seq[String],
      orderCols: Seq[Column], testFrac: Double,
      name: String = "split"): DataFrame = {
    val w = Window.partitionBy(partKeys.map(col): _*).orderBy(orderCols: _*)
    val wAll = Window.partitionBy(partKeys.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn(name,
        when(col("__rn") <= ceil(col("__n") * (1.0 - testFrac)), "train")
          .otherwise("test"))
      .drop("__rn", "__n")
  }

  /** GRPO-style group-relative advantages (Shao et al. 2024,
    * arXiv:2402.03300 §4.1): for each sample in a prompt group, the
    * advantage is its reward minus the group mean, and the normalized
    * advantage divides by the group's population std — the per-prompt
    * baseline that replaces a learned critic in group-relative RLHF.
    *
    * Exact-arithmetic discipline (the Welch/Kruskal pattern): rewards are
    * integers, so with n, S = Σr, Q = Σr² as DECIMAL(38,0) group sums,
    *   advantage = (n·r − S) / n            and
    *   z = (n·r − S) / √(n·Q − S²)
    * have EXACT integer numerators/radicands — each engine performs one
    * correctly-rounded cast, one √, one division, so results are
    * bit-portable. A zero-variance group (n·Q = S²) yields null z; a
    * singleton group yields advantage 0 and null z. DECIMAL(38,0)
    * headroom holds whenever n·Q < 10³⁸ — GRPO groups are a bounded
    * rollout batch (G ≈ 64) by construction, so this is a config bound,
    * not a data bound.
    *
    * Scale shape: one hash aggregate to |groups| rows, re-attached with a
    * hash equi-join on the group key — the frame never sorts and no
    * window runs; group count is data-sized but each group's stats are
    * three decimals.
    */
  def groupAdvantage(df: DataFrame, group: String, id: String,
      reward: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df.select(col(group), col(id),
      reward.cast("long").as("reward"))
    val stats = base.groupBy(col(group)).agg(
      count(lit(1)).cast(dec).as("__n"),
      sum(col("reward").cast(dec)).as("__s"),
      sum((col("reward").cast(dec) * col("reward")).cast(dec)).as("__q"))
    val num = (col("__n") * col("reward") - col("__s")).cast("double")
    val rad = (col("__n") * col("__q") - col("__s") * col("__s"))
      .cast("double")
    base.join(stats, Seq(group))
      .select(col(group), col(id), col("reward"),
        round(num / col("__n").cast("double"), 6).as("advantage"),
        when(rad > 0.0, round(num / sqrt(rad), 6)).as("z"))
  }

  /** Bradley–Terry strength fit over pairwise preference outcomes — the
    * aggregation that turns arena-style "A beat B" judgments into per-item
    * scores (Bradley & Terry 1952; Hunter 2004's MM iteration), the
    * model-ranking half of a preference-data pipeline whose pair-building
    * half is ml20's DPO construction.
    *
    * `matches` has one row per comparison (`winCol` beat `loseCol`). Items
    * are BOUNDED BY CONSTRUCTION (policies/models/sources — a categorical
    * key), so after two corpus-sized hash aggregates (win totals W_i and
    * directed pair counts n_ij ≤ |items|² rows) every iteration runs on
    * broadcast-sized frames.
    *
    * MM update: p_i ← W_i / Σ_j n_ij/(p_i + p_j), then sum-normalized.
    * Every cross-row sum is exact integer arithmetic in the repo's
    * pinned convention, and the quantized quantity is BOUNDED: the
    * per-pair term pins the reciprocal 1/(p_i+p_j) to picos (≤ 5·10¹⁷
    * at the 10⁻⁶ floor) and multiplies by n_ij in DECIMAL(38,0) — never
    * round(n·10¹²/(p_i+p_j)) as a long, which wraps once n_ij ≥ 19
    * against two floored opponents (the HITS lesson: quantize a bounded
    * quantity or accumulate in DECIMAL). The normalizer sums
    * micro-quantized raw scores and the new p is 6dp-pinned, so each
    * iteration is a pure function of the previous 6dp frame — bit-stable
    * on any engine or partitioning, mirrorable as unrolled SQL CTEs. A
    * 10⁻⁶ floor keeps never-winning items from zeroing a later pair
    * denominator (BT needs comparison-graph connectivity; the floor is
    * the standard regularization stand-in). The iterations themselves run
    * on the DRIVER over the collected (bounded) pair/win state — the
    * guide-§5 "bounded state on the driver" pattern the PQ codebook and
    * covariance paths established — with every rounding and cast
    * replicated to Spark's own semantics (see the inline notes), so the
    * trajectory is bit-identical to the unrolled relational form.
    */
  def bradleyTerry(matches: DataFrame, winCol: String, loseCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1, "bradleyTerry requires iters >= 1")
    val m = matches.select(col(winCol).as("__w"), col(loseCol).as("__l"))
    val wins = m.groupBy(col("__w").as("item")).agg(count(lit(1)).as("wins"))
    val directed = m.select(col("__w").as("i"), col("__l").as("j"))
      .unionByName(m.select(col("__l").as("i"), col("__w").as("j")))
    val nij = directed.groupBy("i", "j").agg(count(lit(1)).as("n"))
      .localCheckpoint(false)
    val base = nij.groupBy(col("i").as("item"))
      .agg(sum("n").as("n_matches"))
      .join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"),
        col("n_matches"))
      .localCheckpoint(false)

    // The MM iterations run ON THE DRIVER over the collected bounded state
    // (guide §5 "the driver as a compute resource for bounded state" — the
    // PQ-codebook / covariance-collect precedent): unrolled as relational
    // passes, 4 iterations cost ~25 scheduler-floor jobs over frames of at
    // most |items|² rows, pure fixed overhead. Bit-exactness vs the
    // unrolled-CTE oracle (and the previous relational form) is held
    // operation by operation:
    //  - round(x) / round(x, 6) on DOUBLE is replicated with
    //    java.math.BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue()
    //    — literally the expression Spark's Round codegen emits;
    //  - the DECIMAL(38,0) denominator sum is a BigInt sum (both exact
    //    integers, order-free), and its cast-to-double goes through
    //    java.math.BigDecimal.doubleValue(), same as Spark's
    //    Decimal.toDouble;
    //  - long division q/tot promotes both sides to double, as Spark's
    //    Divide does. Each iteration is therefore the same pure function
    //    of the previous 6dp-pinned p as before, value for value.
    //  - the state is bounded BEFORE it is collected: the count runs over
    //    the checkpointed pair frame (and materializes it for the collect),
    //    so an unbounded item key fails here, not with a driver OOM.
    val nPairs = nij.count()
    require(nPairs <= 2000000,
      s"bradleyTerry: $nPairs directed item pairs — items must " +
        "be a bounded categorical key (models/policies/sources)")
    val nijRows = nij.collect()
    val baseRows = base.collect()
    def r(x: Double, s: Int): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    val winsOf = baseRows.map(row => row.get(0) -> row.getLong(1)).toMap
    val pairs = nijRows.map(row => (row.get(0), row.get(1), row.getLong(2)))
    var p: Map[Any, Double] = baseRows.map(row => row.get(0) -> 1.0).toMap
    for (_ <- 1 to iters) {
      val den = scala.collection.mutable.Map[Any, BigInt]()
      for ((i, j, n) <- pairs) {
        val recip = r(1e12 / (p(i) + p(j)), 0).toLong
        den(i) = den.getOrElse(i, BigInt(0)) + BigInt(n) * BigInt(recip)
      }
      val q = baseRows.map { row =>
        val item = row.get(0)
        val d = new java.math.BigDecimal(den(item).bigInteger).doubleValue()
        item -> r(winsOf(item).toDouble * 1e12 / d * 1e6, 0).toLong
      }.toMap
      val tot = q.valuesIterator.sum
      // no item has a positive q (every win sits on a key the wins join
      // cannot match, e.g. a null winner): each strength takes the 1e-6
      // floor a never-winning item gets, instead of 0/0
      p = q.map { case (item, qi) =>
        item -> (if (tot == 0L) 1e-6 else math.max(r(qi.toDouble / tot.toDouble, 6), 1e-6))
      }
    }
    val itemField = base.schema("item")
    val pDf = matches.sparkSession.createDataFrame(
      matches.sparkSession.sparkContext.parallelize(
        baseRows.toSeq.map(row =>
          org.apache.spark.sql.Row(row.get(0), p(row.get(0)))), 1),
      org.apache.spark.sql.types.StructType(Seq(itemField.copy(name = "item"),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.DoubleType))))
    base.join(broadcast(pDf), Seq("item"))
      .select(col("item"), col("wins"), col("n_matches"),
        (col("p") + lit(0.0)).as("strength"))
  }

  /** Fill-in-middle (FIM) training transform (Bavarian et al. 2022,
    * "Efficient Training of Language Models to Fill in the Middle"): each
    * document is split at two token cuts and re-emitted in SPM order
    * (suffix, prefix, middle) behind sentinel tokens, teaching infilling
    * from a plain-causal objective.
    *
    * The cuts are a DETERMINISTIC function of the row id (no RNG) —
    * reproducible across runs, engines, partitionings, and cluster sizes,
    * the property every other sampler here (foldOf, hashBucket16,
    * weightedPriority) is built around. The id is mixed through md5 BEFORE
    * the mod (two 16-bit nibble slices of the digest, the hashBucket16
    * idiom): a bare `pmod(doc_id * 7, n − 1)` only reaches multiples of
    * gcd(7, n−1), so every 8-token doc would get cut1 = 1 — the hash mix
    * makes cut coverage independent of the length class. With n tokens:
    * cut1 ∈ [1, n-1] (0 when n < 2), cut2 ∈ [cut1, n], so
    * prefix = toks[1..cut1], middle = toks[cut1+1..cut2], suffix =
    * toks[cut2+1..n] partition the document; any segment may be empty.
    *
    * Pure projection — no shuffle, no UDF; the cuts are two `pmod`s over
    * md5 slices, the segments array slices, all inside whole-stage codegen.
    */
  def fimSplit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
        graft.functions.TextFns.tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
    val n = col("n_tokens")
    // engine-portable 16-bit hash slices of md5(doc_id): digest chars 1-4
    // drive cut1, chars 5-8 cut2 — independent residues per doc
    val h1 = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long")
    val h2 = conv(substring(md5(col("doc_id").cast("string")), 5, 4), 16, 10)
      .cast("long")
    val withCuts = base
      .withColumn("cut1",
        when(n > 1, pmod(h1, n - 1) + 1).otherwise(lit(0L)))
      .withColumn("cut2",
        col("cut1") + pmod(h2, n - col("cut1") + 1))
    val prefix = array_join(slice(col("__toks"), lit(1), col("cut1").cast("int")), " ")
    val middle = array_join(slice(col("__toks"), (col("cut1") + 1).cast("int"),
      (col("cut2") - col("cut1")).cast("int")), " ")
    val suffix = array_join(slice(col("__toks"), (col("cut2") + 1).cast("int"),
      (n - col("cut2")).cast("int")), " ")
    withCuts.select(col("doc_id"), col("n_tokens"), col("cut1"), col("cut2"),
      prefix.as("prefix"), middle.as("middle"), suffix.as("suffix"),
      concat_ws(" ", lit("<SUF>"), suffix, lit("<PRE>"), prefix,
        lit("<MID>"), middle).as("fim"))
  }
}
