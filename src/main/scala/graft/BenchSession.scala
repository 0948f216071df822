package graft

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** The ONE SparkSession recipe for the bench, `Verify` and the dev tools
  * (PlanDump, StageProfile): each previously hand-copied the config
  * block and they had already drifted (committer settings present in some,
  * absent in others), weakening the claim that dumped plans/profiles are
  * exactly the ones the bench executes. Core count comes from
  * `SPARK_GRAFT_CPUS` (driver contract), AQE from `SPARK_GRAFT_AQE`.
  */
object BenchSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def build(): SparkSession = {
    val n = cpus
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      // load-bearing plan lint: no single-partition global windows anywhere
      // in the suite — fail, don't warn
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.graft.failOnGlobalWindow", "true")
      // the whole-suite working set is hundreds of codegen units; the
      // default 100-entry cache thrashes between warmup and the timed pass
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // InferFiltersFromGenerate clones the whole generator expression into
      // a scan-side size()>0 filter (pure double-compute here) — excluded
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // v2 task-commit + no _SUCCESS markers: the file-sink roundtrip
      // queries otherwise pay a committer floor per query
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // shuffle/spill blocks on tmpfs: the harness box shows multi-second
      // disk stalls on /tmp that randomize per-query timings
      .config("spark.local.dir", "/dev/shm/graft-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** The timed action of the bench and the dev tools: `bit_xor(xxhash64(*))`
    * over every output column (xor, so ANSI mode can't overflow; variadic
    * hash, so no per-row struct allocation). Unlike `.count()`, which lets
    * Catalyst prune unreferenced projections, it makes every projected
    * column materialize while keeping the result one row per partition.
    */
  private[graft] def force(df: DataFrame): Long = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(col): _*))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Untimed warm-up (JIT, codegen, parquet footers): forces each named
    * query once on the sf0.001 tables beside `sfDir`, ignoring failures.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String, names: Iterable[String]): Unit = {
    val small = Paths.get(sfDir).resolveSibling("sf0.001").toString
    names.foreach(n =>
      try force(SparkEntry.queries(n)(spark, small)) catch { case _: Throwable => () })
  }

  /** Drops a finished query's leftover localCheckpoint blocks; the shared
    * (pinned) frames are exempt — they are the cross-query reuse.
    */
  private[graft] def releaseQueryBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => SparkEntry.isSharedRdd(id) }
      .values.foreach(_.unpersist(false))
}
