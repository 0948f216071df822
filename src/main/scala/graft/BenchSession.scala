package graft

import org.apache.spark.sql.SparkSession

/** The ONE SparkSession recipe for the bench, `Verify` and the dev tools
  * (PlanDump, StageProfile, QueryProfile): each previously hand-copied the config
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
}
