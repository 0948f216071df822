package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness test tables (TESTDATA.md).
  *
  * All tables are plain parquet. The `events` table carries a
  * nanosecond-precision parquet timestamp, which Spark's vectorized reader
  * rejects outright; we read it as raw Long nanos
  * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to microseconds —
  * exactly what DuckDB does when it casts TIMESTAMP_NS to its native
  * microsecond timestamp, so oracle comparisons line up.
  */
object Tables {

  // Re-reading the same path builds a fresh relation each time: file
  // listing, footer read, schema resolution — ~100ms of fixed cost per
  // query that DuckDB's catalog never pays. Cache the DataFrame per
  // (session, path); the logical relation (and its cached FileIndex) is
  // then shared by every query in the session.
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  /** Adaptive scan widening. Parquet splits only at row-group boundaries,
    * so a mid-sized single-row-group file scans as ONE task no matter what
    * `maxPartitionBytes` says — and every downstream map-side kernel
    * (parquet decode, hash/regex expressions, aggregate partials)
    * serializes on one core. For such frames a round-robin repartition to
    * the default parallelism costs one tiny shuffle and unlocks the whole
    * machine.
    *
    * The decision reads the frame's PLANNED partition count
    * ([[plannedPartitions]]): a frame narrower than the default
    * parallelism is widened, one already at least that wide passes
    * through untouched, and so does a frame whose width is only decided
    * at run time (it ends in a shuffle). Size statistics are NOT used: a
    * checkpointed 0.3 MB frame under an explode and a join estimates at
    * tens of GB. No job is triggered.
    */
  def spread(df: DataFrame): DataFrame = {
    val width = df.sparkSession.sparkContext.defaultParallelism
    if (plannedPartitions(df).exists(_ < width)) df.repartition(width) else df
  }

  /** The number of partitions `df` will have, when the physical plan fixes
    * it without running anything: a narrow pipeline (project / filter /
    * generate) over a checkpointed or in-memory RDD, a local table, a file
    * scan, or an explicit `repartition(n)`. `None` when the count is only
    * known at run time — the output of a join, an aggregate or a
    * by-column repartition, which AQE may coalesce. Planning only: file
    * splits come from the already-listed file index, so no job runs.
    */
  private[graft] def plannedPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    def walk(p: SparkPlan): Option[Int] = p match {
      case s: RDDScanExec => Some(s.rdd.getNumPartitions)
      case s: ExternalRDDScanExec[_] => Some(s.rdd.getNumPartitions)
      case s: LocalTableScanExec => Some(s.inputRDD.getNumPartitions)
      case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        Some(e.numPartitions)
      case n @ (_: ProjectExec | _: FilterExec | _: GenerateExec) =>
        walk(n.children.head)
      case _ => None
    }
    walk(df.queryExecution.sparkPlan)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate((System.identityHashCode(spark), s"$dir/$name.parquet"),
      spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events` with `ts` as a proper TimestampType (µs). Harness data has
    * shipped `ts` both as TIMESTAMP_NS (early rounds) and TIMESTAMP(µs)
    * (current), so the loader adapts to the file instead of assuming
    * (`EventStreams.withEventTime`): with `nanosAsLong` set, a ns column
    * surfaces as LongType and is truncated to µs by integer division (a
    * Double intermediate would corrupt epoch-nanos > 2^53 — and DuckDB
    * truncates identically when casting TIMESTAMP_NS, so oracles line up);
    * a native µs column passes through untouched.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    cache.getOrElseUpdate((System.identityHashCode(spark), s"$dir/events.parquet#ts"), {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.streaming.EventStreams.withEventTime(spark.read.parquet(s"$dir/events.parquet"))
    })
}
