package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ReadersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir() = Files.createTempDirectory("graft-io").toString

  test("jsonl roundtrip preserves rows and types with explicit schema") {
    val dir = tmpDir()
    val src = Seq((1L, "en", "a b c"), (2L, "zh", "x \"quoted\" y"), (3L, "de", ""))
      .toDF("doc_id", "lang", "text")
    Sinks.jsonl(src, dir)
    val back = Readers.jsonl(spark, dir, src.schema)
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect().toSet
    assert(back === Set((1L, "en", "a b c"), (2L, "zh", "x \"quoted\" y"), (3L, "de", "")))
  }

  test("csv.gz roundtrip preserves rows with explicit schema") {
    val dir = tmpDir()
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.0)).toDF("id", "name", "v")
    Sinks.csvGz(df, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val back = Readers.csv(spark, dir, schema)
    assert(back.as[(Long, String, Double)].collect().toSet ===
      Set((1L, "alpha", 1.5), (2L, "beta", -2.0)))
    // codec really was gzip
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".csv.gz")))
  }

  test("tsv mapping-table read (ICD map shape)") {
    val f = Files.createTempFile("map", ".tsv")
    Files.write(f, "code\ttarget\n4280\tI50\n4150\tI26\n".getBytes(StandardCharsets.UTF_8))
    val schema = StructType(Seq(StructField("code", StringType), StructField("target", StringType)))
    val got = Readers.tsv(spark, f.toString, schema).as[(String, String)].collect().toMap
    assert(got === Map("4280" -> "I50", "4150" -> "I26"))
  }

  test("latin-1 TSV decodes non-UTF8 bytes") {
    val f = Files.createTempFile("ndc", ".tsv")
    // 0xE9 = é in latin-1 (invalid as standalone UTF-8)
    Files.write(f, ("name\tcls\ncafé\tepc\n").getBytes(StandardCharsets.ISO_8859_1))
    val schema = StructType(Seq(StructField("name", StringType), StructField("cls", StringType)))
    val got = Readers.tsvLatin1(spark, f.toString, schema).as[(String, String)].collect()
    assert(got.toSeq === Seq(("café", "epc")))
  }

  test("multiLine CSV keeps embedded newlines in quoted fields (notes shape)") {
    val f = Files.createTempFile("notes", ".csv")
    Files.write(f,
      "note_id,text\nn1,\"Section: HPI\nfollow-up line\"\n".getBytes(StandardCharsets.UTF_8))
    val schema = StructType(Seq(StructField("note_id", StringType), StructField("text", StringType)))
    val got = Readers.multiLineCsv(spark, f.toString, schema).as[(String, String)].collect()
    assert(got.toSeq === Seq(("n1", "Section: HPI\nfollow-up line")))
  }

  test("textReport writes formatted summary lines") {
    val f = Files.createTempFile("report", ".txt").toString
    val df = Seq(("cohort", 42L)).toDF("name", "n")
    Sinks.textReport(df, r => s"${r.getString(0)}: ${r.getLong(1)} rows", f)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(f))) === "cohort: 42 rows")
  }

  test("partitionedParquet writes a prunable per-entity layout") {
    val dir = tmpDir()
    val df = Seq((1L, 10.0), (1L, 11.0), (2L, 20.0)).toDF("stay_id", "v")
    Sinks.partitionedParquet(df, dir, Seq("stay_id"))
    assert(new java.io.File(dir).listFiles().exists(_.getName == "stay_id=1"))
    val one = spark.read.parquet(dir).filter($"stay_id" === 2L)
    assert(one.select("v").as[Double].collect().toSeq === Seq(20.0))
  }

  test("permissiveCsv keeps malformed lines as corrupt records, never drops") {
    val dir = tmpDir()
    Files.write(java.nio.file.Paths.get(dir, "feed.csv"),
      "1,ok,10\n2,broken,xx\n3,ok,30\n".getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("size",
        org.apache.spark.sql.types.IntegerType)))
    val got = Readers.permissiveCsv(spark, dir, schema)
      .localCheckpoint(false)
    assert(got.count() === 3L) // the broken line is KEPT
    val bad = got.filter($"_corrupt_record".isNotNull).collect()
    assert(bad.length === 1 && bad(0).getAs[String]("_corrupt_record")
      === "2,broken,xx")
    assert(got.filter($"_corrupt_record".isNull)
      .agg(org.apache.spark.sql.functions.sum($"size")).head.getLong(0) === 40L)
  }

  test("csv fails fast on a value of the wrong type and on a short line") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    def read(body: String) = {
      val dir = tmpDir()
      Files.write(java.nio.file.Paths.get(dir, "feed.csv"),
        ("id,name,v\n1,alpha,1.5\n" + body).getBytes(StandardCharsets.UTF_8))
      Readers.csv(spark, dir, schema).collect()
    }
    assert(read("2,beta,2.5\n").length === 2) // clean input reads as before
    def causes(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
    for (bad <- Seq("x2,beta,2.5\n", "2,beta\n")) {
      val e = intercept[Exception](read(bad))
      assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("FAILFAST")),
        s"no FAILFAST parse error for ${bad.trim}: $e")
    }
  }
}
