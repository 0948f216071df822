package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact Harrell's concordance index (C-index) with right-censoring — the
  * survival-analysis companion to `a15_auroc` (the reference evaluates
  * AUROC/AUPRC in `evaluation.py`; the C-index is the same rank statistic
  * generalized to censored time-to-event labels, the standard headline
  * metric for clinical risk models).
  *
  * Definition (the classic permissible-pair form): over pairs (i, j) with
  * `t_i < t_j` and `event_i = 1`,
  * `C = (#[r_i > r_j] + 0.5·#[r_i = r_j]) / #pairs`.
  *
  * Exactness at scale without the O(n²) pair join:
  *   - pairs are partitioned by RISK-bucket relation under a range
  *     partitioning on the risk value (ties co-located, so bucket order
  *     implies strict risk order across buckets);
  *   - same-bucket concordant pairs: an in-memory sweep per bucket
  *     (descending time groups over a Fenwick tree of local risk ranks —
  *     O(m log m), state bounded by the bucket, i.e. ~n/P rows);
  *   - cross-bucket concordant pairs: for an event in bucket b at time t,
  *     every j in a lower bucket with `t_j > t` counts — the 2-D dominance
  *     count factors into two 1-D cumsums over a sparse tall cell frame
  *     (a lex-order [[RankOps.globalCumsum]] + a per-bucket window), plus
  *     the ≤P-row bucket totals (the only driver-side collect); plan
  *     width stays constant however many shuffle partitions exist;
  *   - permissible and risk-tied pair totals are window/aggregate
  *     arithmetic over distinct-time and (risk, time) frames.
  * Every count is an exact integer; the final division is the only float.
  */
object ConcordanceOps {

  /** Fenwick (binary-indexed) tree over 1..size: point add, prefix query. */
  private final class Bit(size: Int) {
    private val a = new Array[Long](size + 1)
    def add(i: Int): Unit = { var x = i; while (x <= size) { a(x) += 1; x += x & -x } }
    def query(i: Int): Long = { var x = i; var s = 0L; while (x > 0) { s += a(x); x -= x & -x }; s }
  }

  /** One output row: `(n, permissible, concordant, tied_risk, c_index)`.
    * The risk buckets number `spark.sql.shuffle.partitions`.
    */
  def cIndex(df: DataFrame, time: Column, event: Column, risk: Column): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val rows = df.select(time.cast("long").as("__t"),
        event.cast("int").as("__e"), risk.cast("double").as("__r"))
      .filter(col("__t").isNotNull && col("__e").isNotNull && col("__r").isNotNull)
    // risk ties must share a bucket (cross-bucket order must imply STRICT
    // risk order), so the range key is the risk alone; pinned because the
    // local sweep, the per-bucket counts and the totals must see ONE
    // bucketing
    val ranged = rows.repartitionByRange(p, col("__r"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val nBuckets = ranged.rdd.getNumPartitions

    // ---- same-bucket concordant pairs: Fenwick sweep per bucket --------
    val localD = ranged.select("__t", "__e", "__r").mapPartitions { it =>
      val arr = it.toArray
      if (arr.length < 2) Iterator.single(0L)
      else {
        val byT = arr.sortBy(r => r.getLong(0))
        val risks = arr.map(_.getDouble(2)).distinct.sorted
        def rank(r: Double) = java.util.Arrays.binarySearch(risks, r) + 1
        val bit = new Bit(risks.length)
        var d = 0L
        var hi = byT.length - 1
        while (hi >= 0) {
          var lo = hi
          while (lo > 0 && byT(lo - 1).getLong(0) == byT(hi).getLong(0)) lo -= 1
          var k = lo
          while (k <= hi) { // query each event before inserting its t-group
            if (byT(k).getInt(1) == 1) d += bit.query(rank(byT(k).getDouble(2)) - 1)
            k += 1
          }
          k = lo
          while (k <= hi) { bit.add(rank(byT(k).getDouble(2))); k += 1 }
          hi = lo - 1
        }
        Iterator.single(d)
      }
    }(org.apache.spark.sql.Encoders.scalaLong).toDF("__d")
      .agg(sum("__d").as("__dlocal"))

    // ---- bucket totals (≤ P rows — the only driver-side collect) -------
    val totals = ranged.groupBy("__pid").agg(count(lit(1)).as("__bn"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prefTot = (0 until nBuckets).scanLeft(0L)((acc, a) =>
      acc + totals.getOrElse(a, 0L)).init // prefTot(b) = Σ_{a<b} n_a
    val n = (0 until nBuckets).map(a => totals.getOrElse(a, 0L)).sum

    // ---- cross-bucket concordant pairs: time-slice decomposition -------
    // A cross-bucket pair (event i, partner j) has r_j < r_i ⟺
    // pid_j < pid_i (strict risk order across buckets) and needs
    // t_j > t_i. Range-partition the SAME rows by time (equal times
    // co-located, so slice order implies strict time order):
    //   (a) same time slice → in-memory descending-time sweep per slice
    //       with a Fenwick over bucket ids (state ≤ slice rows + P);
    //   (b) later time slice → t_j > t_i is automatic; pairs count from
    //       the (time-slice × bucket) matrix — a P² cell frame BOUNDED BY
    //       CONFIG, not data — via two cascaded keyed windows
    //       (later-slices cumsum within bucket, then lower-bucket prefix
    //       within slice).
    // Plan width stays CONSTANT however many shuffle partitions exist
    // (the r7 a31 caveat: the former formulation carried one aggregate
    // column per partition and a P-wide array per distinct time).
    val tRanged = ranged.repartitionByRange(p, col("__t"))
      .withColumn("__tsid", spark_partition_id())
      .localCheckpoint(false)

    // (a) same-slice, lower-bucket: Fenwick over pid, descending t-groups
    val sameSlice = tRanged.select("__t", "__e", "__pid")
      .mapPartitions { it =>
        val arr = it.toArray
        if (arr.length < 2) Iterator.single(0L)
        else {
          val byT = arr.sortBy(r => r.getLong(0))
          val maxPid = arr.iterator.map(_.getInt(2)).max
          val bit = new Bit(maxPid + 1)
          var d = 0L
          var hi = byT.length - 1
          while (hi >= 0) {
            var lo = hi
            while (lo > 0 && byT(lo - 1).getLong(0) == byT(hi).getLong(0)) lo -= 1
            var k = lo
            while (k <= hi) { // prefix of ranks ≤ pid = buckets < pid
              if (byT(k).getInt(1) == 1) d += bit.query(byT(k).getInt(2))
              k += 1
            }
            k = lo
            while (k <= hi) { bit.add(byT(k).getInt(2) + 1); k += 1 }
            hi = lo - 1
          }
          Iterator.single(d)
        }
      }(org.apache.spark.sql.Encoders.scalaLong).toDF("__d")
      .agg(sum("__d").as("__dsame"))

    // (b) later-slice, lower-bucket: dense P×P matrix (bounded-by-config
    // cross of the ≤P distinct slice ids × ≤P distinct bucket ids — the
    // BroadcastNestedLoopJoin is on provably bounded sides)
    val mcells = tRanged.groupBy(col("__tsid"), col("__pid"))
      .agg(count(lit(1)).as("__m"))
    val grid = tRanged.select(col("__tsid")).distinct()
      .crossJoin(broadcast(ranged.select(col("__pid")).distinct()))
    val wLater = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("__tsid"))
      .rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wLowerB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__tsid")).orderBy(col("__pid"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val t2 = grid.join(mcells, Seq("__tsid", "__pid"), "left")
      .withColumn("__m", coalesce(col("__m"), lit(0L)))
      .withColumn("__later", coalesce(sum(col("__m")).over(wLater), lit(0L)))
      .withColumn("__t2", coalesce(sum(col("__later")).over(wLowerB), lit(0L)))
      .select(col("__tsid"), col("__pid"), col("__t2"))
    val laterSlice = tRanged.filter(col("__e") === 1)
      .groupBy(col("__tsid"), col("__pid")).agg(count(lit(1)).as("__ne"))
      .join(t2, Seq("__tsid", "__pid"))
      .select((col("__ne") * col("__t2")).as("__c"))
      .agg(sum("__c").as("__dlater"))
    val dcross = sameSlice.crossJoin(laterSlice)
      .select((coalesce(col("__dsame"), lit(0L)) +
        coalesce(col("__dlater"), lit(0L))).as("__dcross"))

    // ---- permissible pairs: single-column global time cumsum -----------
    val tcounts = ranged.groupBy(col("__t")).agg(count(lit(1)).as("__n"))
    val cums = RankOps.globalCumsum(tcounts, Seq(col("__t")),
      col("__n"), "__cumN")
    val crossAndPerm = ranged.filter(col("__e") === 1)
      .groupBy(col("__t")).agg(count(lit(1)).as("__net"))
      .join(cums.select("__t", "__cumN"), Seq("__t"))
      .select((col("__net") * (lit(n) - col("__cumN"))).as("__perm"))
      .agg(sum("__perm").as("__perm"))
      .crossJoin(dcross)

    // ---- risk-tied permissible pairs: per-risk-group later-time counts -
    val rt = rows.groupBy(col("__r"), col("__t"))
      .agg(count(lit(1)).as("__n"), sum(col("__e").cast("long")).as("__nev"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__r")).orderBy(col("__t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("__r"))
    val tied = rt
      .withColumn("__cumLe", sum(col("__n")).over(wCum))
      .withColumn("__tot", sum(col("__n")).over(wAll))
      .select((col("__nev") * (col("__tot") - col("__cumLe"))).as("__tp"))
      .agg(sum("__tp").as("__tied"))

    localD.crossJoin(crossAndPerm).crossJoin(tied)
      .select(lit(n).as("n"),
        coalesce(col("__perm"), lit(0L)).as("permissible"),
        coalesce(col("__dlocal") + col("__dcross"), lit(0L)).as("concordant"),
        coalesce(col("__tied"), lit(0L)).as("tied_risk"),
        // null when no pair is permissible (C undefined, not 0)
        when(coalesce(col("__perm"), lit(0L)) > 0,
          round((col("__dlocal") + col("__dcross") +
            lit(0.5) * coalesce(col("__tied"), lit(0L))) /
            col("__perm"), 6)).as("c_index"))
  }
}
