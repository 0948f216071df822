package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File sources beyond parquet (SURVEY.md §2.1 S1-S4, S9-S10).
  *
  * Schemas are always explicit (`StructType`), never inferred — the
  * reference pins dtypes per read (`hosp_preprocess_util.py:279-288`); we
  * fail fast on drift instead. Compression codecs (gzip etc.) are detected
  * from the file extension by Spark. Projection/predicate pushdown into the
  * CSV scan is automatic once the schema is declared.
  */
object Readers {

  /** S1 — CSV with explicit schema; handles `.csv` and `.csv.gz` alike.
    * FAILFAST: a value that does not parse as its declared type, or a line
    * with the wrong number of fields, fails the read instead of turning
    * into nulls ([[permissiveCsv]] is the counted alternative).
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, sep: String = ",", encoding: String = "UTF-8",
      multiLine: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("sep", sep)
      .option("encoding", encoding)
      .option("multiLine", multiLine.toString)
      .option("escape", "\"")
      .option("mode", "FAILFAST")
      .csv(path)

  /** S3 — tab-separated mapping tables (ICD9→10 map style). */
  def tsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    csv(spark, path, schema, header = header, sep = "\t")

  /** S4 — latin-1 encoded TSV (NDC product table style). */
  def tsvLatin1(spark: SparkSession, path: String, schema: StructType): DataFrame =
    csv(spark, path, schema, sep = "\t", encoding = "ISO-8859-1")

  /** S10 — notes-style CSV: quoted multi-line text fields. */
  def multiLineCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    csv(spark, path, schema, multiLine = true)

  /** S9 — glob scan + implicit union over many files of one schema. */
  def glob(spark: SparkSession, pattern: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(pattern)

  /** S16 — dirty-feed recovery scan: PERMISSIVE CSV parse that KEEPS
    * malformed lines as a `_corrupt_record` column instead of failing
    * the job or silently dropping them — the ingestion contract for
    * web-scale feeds where some fraction of lines is always broken.
    * Clean rows parse into the declared schema (corrupt column null);
    * malformed rows surface all-null fields plus the raw line, so the
    * caller can count/quarantine/route them. (FAILFAST is the loud
    * sibling; DROPMALFORMED is the silent one this explicitly avoids —
    * dropped rows are invisible to monitoring.)
    */
  def permissiveCsv(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** S11 — JSON-lines corpus scan (the interchange format of LLM training
    * corpora: one JSON object per line, newline-delimited, gzip-splittable
    * per file). Schema is explicit as everywhere else — inference would
    * scan the corpus twice, unacceptable at 100 TB.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S12 — schema-evolution scan: union parquet files written under
    * DIFFERENT schema versions (columns added over time) into the merged
    * superset schema, older files padding the missing columns with null.
    * `mergeSchema` reconciles footers at planning time — no rewrite of old
    * data, the standard additive-evolution path for append-only corpora.
    */
  def mergedParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}

/** Sinks (S5-S7): parquet for every intermediate (types preserved — the
  * reference's csv.gz round-trips erase them, SURVEY.md §1.3), CSV only at
  * export edges, `partitionBy` instead of per-entity file loops.
  */
object Sinks {

  /** S5 — gzip CSV export edge. */
  def csvGz(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true").option("compression", "gzip").csv(path)

  /** S6 — per-entity output as ONE partitioned parquet dataset, not N files
    * (the reference writes one directory per stay_id,
    * `data_generation_icu.py:461-463`; at scale that is a small-files
    * explosion — partition pruning gives the same per-entity access).
    */
  def partitionedParquet(df: DataFrame, path: String, keys: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(keys: _*).parquet(path)

  /** S7 — records + vocab/meta as parquet (replaces pickle). */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S13 — bucketed table: hash-bucket (and sort) on the join key at WRITE
    * time, so every later equi-join or aggregation on that key reads
    * co-located buckets and SKIPS its shuffle — the storage-level answer
    * for a 100 TB fact table that is joined on the same key by every
    * pipeline run (pay the shuffle once at ingest, never again). Spark ties
    * bucketing metadata to the catalog, hence `saveAsTable`; files land
    * under `spark.sql.warehouse.dir`. Two tables bucketed on their join
    * key with the same bucket count sort-merge-join with ZERO exchanges
    * (asserted in PlanQualitySpec).
    */
  def bucketedTable(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // refuse identifiers that could escape the derived warehouse path (the
    // fallback delete below is a recursive rm — a name like "../x" must
    // never reach it)
    require(table.matches("[A-Za-z][A-Za-z0-9_]*"),
      s"bucketedTable: unsafe table identifier '$table'")
    if (spark.catalog.tableExists(table)) {
      // a MANAGED table's files are removed by the drop itself; resolving
      // through the catalog (instead of string-deriving the path) means an
      // external table's or non-default-database table's files are left
      // alone
      spark.sql(s"DROP TABLE `$table`")
    } else {
      // no catalog entry, but managed-table files can outlive the
      // in-memory catalog that created them (a previous session's
      // warehouse leftovers make saveAsTable refuse the name with
      // LOCATION_ALREADY_EXISTS) — clear the default-database derived
      // path, which nothing else can legitimately own for this name
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
  }

  /** S11 — JSON-lines export edge (one object per line; field order follows
    * the schema, so round-trips are stable).
    */
  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S8 — human-readable summary report (reference cohort report,
    * `day_intervals_cohort.py:355-365`): formatted lines from a computed
    * one-or-few-row frame, written as a single text file.
    */
  def textReport(df: DataFrame, format: org.apache.spark.sql.Row => String,
      path: String): Unit = {
    val lines = df.collect().map(format) // summary frames are tiny by contract
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
