package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, Tables, TestSpark}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming med-active mask revises across batches and lands on the batch mask") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-medact")
    // batch 1: key (101,7) active in b1 only; key (202,9) active everywhere
    val b1 = Seq(
      EventStreams.MedInterval(101L, 7L, 30L, 40L), // b1, stop_b 2
      EventStreams.MedInterval(202L, 9L, 0L, 70L))  // b0, stop_b 3
    // batch 2: (101,7) gains an EARLIER long infusion (revises b0 0→1);
    // (202,9) gets a short refill at b1 whose stop_b=2 positionally
    // ffills over the long infusion — b2 goes ACTIVE→INACTIVE (the
    // pandas stop_time ffill, not a running max)
    val b2 = Seq(
      EventStreams.MedInterval(101L, 7L, 0L, 80L),  // b0, stop_b 4
      EventStreams.MedInterval(202L, 9L, 26L, 30L)) // b1, stop_b 2
    def drop(rows: Seq[EventStreams.MedInterval], name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-medact-w")
      rows.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    drop(b1, "f1.parquet")
    val ivs = spark.readStream
      .schema(spark.read.parquet(dir.toString).schema)
      .parquet(dir.toString)
      .as[EventStreams.MedInterval]
    val q = EventStreams.medActiveStream(ivs, includeH = 72, bucketH = 24)
      .writeStream.format("memory").queryName("medactive")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      drop(b2, "f2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("medactive")
      .select("stay_id", "itemid", "bucket", "active")
      .as[(Long, Long, Long, Int)].collect().toSet

    // the final mask (what a latest-row-wins sink keeps) must equal the
    // batch operator over ALL intervals, however they were batched
    val batch = graft.api.TimeSeriesGenerator.activeMedSignal(
        (b1 ++ b2).toDF(), "stay_id", "itemid", "start_h", "stop_h",
        includeH = 72, bucketH = 24)
      .select("stay_id", "itemid", "bucket", "active")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(batch === Set(
      (101L, 7L, 0L, 1), (101L, 7L, 1L, 1), (101L, 7L, 2L, 0),
      (202L, 9L, 0L, 1), (202L, 9L, 1L, 1), (202L, 9L, 2L, 0)))
    assert(batch.subsetOf(streamed), "final revision missing from the stream")
    // the full emission set is exactly batch-1's interim mask plus the
    // batch-2 revision — nothing else
    val interim = Set(
      (101L, 7L, 0L, 0), (101L, 7L, 1L, 1), (101L, 7L, 2L, 0),
      (202L, 9L, 0L, 1), (202L, 9L, 1L, 1), (202L, 9L, 2L, 1))
    assert(streamed === interim ++ batch)
  }

  test("stateful streaming sessionization equals the batch window form") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sess")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema
    val evs = EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString))
      .select($"user_id", $"event_id", $"ts")
      .as[EventStreams.SessionEvent]
    val q = EventStreams.sessionizeStream(evs, gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sessions")
      .select("event_id", "session_no").as[(Long, Int)].collect().toMap

    val batch = graft.operators.TimeSeriesOps.sessionize(
        graft.Tables.events(spark, "/root/testdata/sf0.001"),
        "user_id", "ts", "event_id", expr("INTERVAL 30 MINUTES"), "session_no")
      .select("event_id", "session_no").as[(Long, Int)].collect().toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }

  test("stateful streaming transitions equal the batch lead-window counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-trans")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema
    val evs = EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString))
      .select($"user_id", $"event_id", $"ts", $"event_type".as("state"))
      .as[EventStreams.StateEvent]
    val q = EventStreams.transitionStream(evs)
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("transitions")
      .groupBy("from_state", "to_state").count()
      .as[(String, String, Long)].collect().map { case (f, t, c) => (f, t) -> c }.toMap

    val batch = graft.operators.TimeSeriesOps.transitionCounts(
        graft.Tables.events(spark, "/root/testdata/sf0.001"),
        "user_id", "ts", "event_id", "event_type")
      .as[(String, String, Long)].collect().map { case (f, t, c) => (f, t) -> c }.toMap
    assert(streamed === batch)
  }

  test("stateful streaming as-of backward join equals the batch j21 union-LOCF") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-asof")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema
    val evs = EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString))
      .filter($"event_type".isin("signup", "purchase"))
      .select($"user_id", $"event_id", $"ts",
        ($"event_type" === "signup").as("is_ref"))
      .as[EventStreams.AsOfEvent]
    val q = EventStreams.asOfBackwardStream(evs)
      .writeStream.format("memory").queryName("asof")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("asof")
      .as[EventStreams.AsOfAssignment].collect()
      .map(a => a.event_id -> a.asof_ref_ms).toMap

    val batch = SparkEntry.queries("j21_asof_backward")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) ->
        Option(r.getTimestamp(1)).map(_.getTime)).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }

  test("stateful streaming SCD2 intervals equal the batch u12 closed set") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-scd2")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema
    val evs = EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString))
      .select($"user_id", $"event_id", $"ts", $"event_type".as("state"))
      .as[EventStreams.ScdEvent]
    val q = EventStreams.scd2Stream(evs)
      .writeStream.format("memory").queryName("scd2")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("scd2")
      .as[EventStreams.ScdInterval].collect()
      .map(i => (i.user_id, i.state, i.valid_from_ms, i.valid_to_ms)).toSet

    // batch closed set: u12 rows whose valid_to is non-null
    val batch = SparkEntry.queries("u12_scd2_build")(
        spark, "/root/testdata/sf0.001")
      .filter(col("valid_to").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getTimestamp(3).getTime)).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stateful streaming EWMA equals the batch w12 8-tap window form") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ewma")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema
    val evs = EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString))
      .select($"user_id", $"event_id", $"ts", $"value")
      .as[EventStreams.EwmaEvent]
    val q = EventStreams.ewmaStream(evs)
      .writeStream.format("memory").queryName("ewma")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // compare raw bits so a NaN (all-taps-null 0/0) matches itself
    val streamed = spark.table("ewma")
      .as[EventStreams.EwmaOut].collect()
      .map(a => a.event_id ->
        java.lang.Double.doubleToLongBits(a.ewma8)).toMap

    val batch = SparkEntry.queries("w12_ewma")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) ->
        java.lang.Double.doubleToLongBits(r.getDouble(2))).toMap
    assert(streamed.nonEmpty)
    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }

  test("stateful streaming Holt fold equals the batch ts18 final state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-holt")
    // materialize the daily-count frame the batch query folds over
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy($"user_id", to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val daily = spark.readStream.schema(schema).parquet(dir.toString)
      .as[EventStreams.DailyCount]
    val q = EventStreams.holtStream(daily)
      .writeStream.format("memory").queryName("holt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("holt")
      .as[EventStreams.HoltOut].collect()
      .groupBy(_.user_id)
      .map { case (u, rows) =>
        val last = rows.maxBy(_.day.getTime)
        u -> (java.lang.Double.doubleToLongBits(last.level),
          java.lang.Double.doubleToLongBits(last.trend),
          java.lang.Double.doubleToLongBits(last.forecast_1))
      }
    val batch = SparkEntry.queries("ts18_holt")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) ->
        (java.lang.Double.doubleToLongBits(r.getDouble(2)),
          java.lang.Double.doubleToLongBits(r.getDouble(3)),
          java.lang.Double.doubleToLongBits(r.getDouble(4))))
      .toMap
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stateful streaming rolling z-score equals the batch w19 window form") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-zroll")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema
    val evs = EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString))
      .filter($"value".isNotNull)
      .select($"user_id", $"event_id", $"ts",
        round($"value" * 100, 0).cast("long").as("cents"))
      .as[EventStreams.ZEvent]
    val q = EventStreams.rollingZStream(evs)
      .writeStream.format("memory").queryName("zroll")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("zroll")
      .as[EventStreams.ZScore].collect()
      .map(a => a.event_id -> a.z).toMap

    val batch = SparkEntry.queries("w19_rolling_zscore")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }

  test("stateful streaming MASE backtest equals the batch ts19 final state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mase")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .filter(col("ts").isNotNull)
      .groupBy($"user_id", to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val daily = spark.readStream.schema(schema).parquet(dir.toString)
      .as[EventStreams.DailyCount]
    val q = EventStreams.maseStream(daily)
      .writeStream.format("memory").queryName("masetwin")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("masetwin")
      .as[EventStreams.MaseOut].collect()
      .groupBy(_.user_id)
      .map { case (u, rows) =>
        val last = rows.maxBy(_.day.getTime)
        u -> (last.n, last.mae_naive, last.mae_seasonal, last.mase)
      }
    val batch = SparkEntry.queries("ts19_mase")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
        r.getLong(0) -> (r.getLong(1), opt(2), opt(3), opt(4))
      }
      .toMap
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stateful streaming rolling median equals the batch w15 window form") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-medroll")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema
    val evs = EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString))
      .select($"user_id", $"event_id", $"ts", $"value")
      .as[EventStreams.MedEvent]
    val q = EventStreams.rollingMedianStream(evs)
      .writeStream.format("memory").queryName("medroll")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("medroll")
      .as[EventStreams.MedOut].collect()
      .map(a => a.event_id -> a.roll_med).toMap

    val batch = SparkEntry.queries("w15_rolling_median")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }

  test("streaming hourly rollup equals the batch rollup (kappa invariant)") {
    // file source needs a directory of one schema → stage events alone
    val dir = Files.createTempDirectory("graft-stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema

    val stream = EventStreams.hourlyRollup(
      EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString)))

    val q = stream.writeStream
      .format("memory").queryName("rollup").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("rollup")
      .select("hour_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet

    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .collect().map(_.toSeq).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming sliding rollup equals the batch sliding-window query") {
    val dir = Files.createTempDirectory("graft-slide")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema

    val stream = EventStreams.slidingRollup(
      EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString)))

    val q = stream.writeStream
      .format("memory").queryName("sliding").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("sliding")
      .select("win_start", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet

    val batch = SparkEntry.queries("w10_sliding_window")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stateful streaming sliding distinct (WAU) equals the batch islands form") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-wau")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema
    val evs = EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString))
      .select($"user_id",
        datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("long").as("day_num"))
      .as[EventStreams.DayEvent]
    val q = EventStreams.slidingDistinctStream(evs, window = 7)
      .writeStream.format("memory").queryName("wau_cover")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // per-user cover rows must be unique (islands never overlap), and the
    // per-day count is exactly the batch WAU
    val cover = spark.table("wau_cover")
    assert(cover.count() === cover.distinct().count())
    val streamed = cover.groupBy("day_num").count()
      .as[(Long, Long)].collect().toMap
    val batch = SparkEntry.queries("q09_wau")(spark, "/root/testdata/sf0.001")
      .select("day_num", "wau").as[(Long, Long)].collect().toMap
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stream-static cohort semi-join equals the batch semi filter") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-semi")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema

    val cohort = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id") % 5 === 0).select("user_id").distinct()

    val stream = EventStreams.cohortFilterStream(
      spark.readStream.schema(rawSchema).parquet(dir.toString),
      cohort, Seq("user_id"))
      .select("event_id")

    val q = stream.writeStream
      .format("memory").queryName("semi").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("semi").as[Long].collect().toSet
    val batch = Tables.events(spark, "/root/testdata/sf0.001")
      .join(cohort, Seq("user_id"), "left_semi")
      .select("event_id").as[Long].collect().toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stream-stream point-in-interval join equals the batch interval join") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ssjoin")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema
    def src() = EventStreams.withEventTime(
      spark.readStream.schema(rawSchema).parquet(dir.toString))

    val clicks = src().filter($"event_type" === "click")
      .select("event_id", "user_id", "ts")
    val signups = src().filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("session_start"))
    val joined = EventStreams.pointInIntervalStream(
      clicks, signups, "user_id", "ts", "session_start",
      expr("INTERVAL 2 HOURS"), horizon = "4 hours")
    val q = joined.select("event_id", "session_start").writeStream
      .format("memory").queryName("ssjoin").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssjoin")
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq

    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val bc = ev.filter($"event_type" === "click").select($"event_id", $"user_id", $"ts")
    val bs = ev.filter($"event_type" === "signup")
      .select($"user_id".as("su"), $"ts".as("session_start"))
    val batch = bc.join(bs,
        $"user_id" === $"su" && $"ts" >= $"session_start" &&
          $"ts" <= $"session_start" + expr("INTERVAL 2 HOURS"))
      .select("event_id", "session_start")
      .as[(Long, java.sql.Timestamp)].collect().sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming exact dedup emits one row per distinct fingerprint (batch parity)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dedup")
    // duplicate-heavy corpus staged as parquet for the file source
    val docs = Seq(
      (1L, "alpha beta gamma", "2024-01-01 00:00:00"),
      (2L, "alpha beta gamma", "2024-01-01 00:10:00"),  // dup of 1 within horizon
      (3L, "delta epsilon zeta", "2024-01-01 00:20:00"),
      (4L, "ALPHA   beta GAMMA", "2024-01-01 00:30:00") // fingerprint-equal dup
    ).toDF("doc_id", "text", "ts_s")
      .withColumn("arrival", col("ts_s").cast("timestamp")).drop("ts_s")
    docs.coalesce(1).write.mode("overwrite").parquet(dir.toString + "/docs")
    val schema = docs.schema
    val streamed = EventStreams.dedupStream(
      spark.readStream.schema(schema).parquet(dir.toString + "/docs"),
      "doc_id", "text", "arrival", "1 hour")
    val q = streamed.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup").select("fp").as[String].collect()
    assert(got.length === 2, "one emission per distinct fingerprint")
    assert(got.distinct.length === 2)
    // parity with the batch dedup's group count
    val batchGroups = graft.dedup.DedupOps.exactGroups(
      docs, "doc_id", "text").count()
    assert(batchGroups === 2)
  }

  test("streaming PSI drift monitor equals the batch computation per window") {
    val dir = Files.createTempDirectory("graft-psi")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // infer the stream schema from the batch footer of the same file: the
    // harness has shipped ts as both TIMESTAMP_NS and TIMESTAMP(µs), and a
    // hardcoded type would silently misread the other format
    val rawSchema = spark.read.parquet(dir.toString).schema

    val batchEvents = Tables.events(spark, "/root/testdata/sf0.001")
    // baseline profile from the even-user segment; live stream = all events
    val baseline = EventStreams.fixedBinShares(
      batchEvents.filter(col("user_id") % 2 === 0), col("value"),
      lo = 0.0, hi = 100.0, bins = 10)
    assert(baseline.length === 10)
    assert(math.abs(baseline.sum - 1.0) < 1e-9)

    val stream = EventStreams.psiStream(
      EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString)),
      baseline, lo = 0.0, hi = 100.0)
    val q = stream.writeStream
      .format("memory").queryName("psi").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("psi").collect().map(_.toSeq).toSet

    val batch = EventStreams.psiStream(batchEvents, baseline,
      lo = 0.0, hi = 100.0).collect().map(_.toSeq).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
    // every (window, bin) present and finite
    val byWin = spark.table("psi").groupBy("win_start").count().collect()
    assert(byWin.forall(_.getLong(1) === 10))
  }

  test("streaming seasonal anomalies equal the batch op (shared scoring core)") {
    val dir = Files.createTempDirectory("graft-seasonal")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema

    val batchEvents = Tables.events(spark, "/root/testdata/sf0.001")
    val profile = graft.operators.TimeSeriesOps.seasonalProfile(
      batchEvents, "event_type", "ts", col("value"))

    val stream = EventStreams.seasonalAnomalyStream(
      EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString)),
      profile, "event_type", "ts", "event_id", col("value"),
      zThresh = 1.5, minN = 5)
    val q = stream.writeStream
      .format("memory").queryName("seasonal").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("seasonal").collect().map(_.toSeq).toSet

    val batch = graft.operators.TimeSeriesOps.seasonalAnomalies(
      batchEvents, "event_type", "ts", "event_id", col("value"),
      zThresh = 1.5, minN = 5).collect().map(_.toSeq).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming control chart equals the batch dq09 daily flags") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ctl")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema

    // batch-computed baseline from exact integer sums (the dq09 algebra)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val daily = ev.groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n"))
    val baseline = daily.agg(count(lit(1)).as("__k0"),
        sum($"n").as("__s"), sum($"n" * $"n").as("__ss"))
      .select(
        ($"__s".cast("double") / $"__k0").as("mu"),
        sqrt(($"__k0" * $"__ss" - $"__s" * $"__s").cast("double") /
          ($"__k0" * ($"__k0" - 1))).as("sigma"))

    val stream = EventStreams.controlChartStream(
      EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString)), baseline)
    val q = stream.writeStream
      .format("memory").queryName("ctl").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ctl")
      .select($"day", $"n", $"out_of_control")
      .collect().map(_.toSeq).toSet

    val batch = daily.crossJoin(broadcast(baseline))
      .select($"day", $"n",
        (abs($"n" - $"mu") > lit(3.0) * $"sigma").as("out_of_control"))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming 24h conversion funnel equals the batch q06 converted-view set") {
    import spark.implicits._
    // the funnel is pointInIntervalStream with the roles flipped: the VIEW
    // opens a [view, view+24h] interval, PURCHASES are the points; a view
    // is converted iff at least one purchase point lands in its interval —
    // dedup on the view id collapses multi-purchase matches, mirroring the
    // batch query's "min purchase in frame is not null" predicate
    val dir = Files.createTempDirectory("graft-funnel")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema
    def src() = EventStreams.withEventTime(
      spark.readStream.schema(rawSchema).parquet(dir.toString))

    val purchases = src().filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts")
    val views = src().filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
    val joined = EventStreams.pointInIntervalStream(
      purchases, views, "user_id", "ts", "view_ts",
      expr("INTERVAL 24 HOURS"), horizon = "48 hours")
    val q = joined.select("view_id").writeStream
      .format("memory").queryName("funnel").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("funnel").as[Long].collect().toSet

    // batch q06 predicate, kept at the per-view grain: min purchase µs in
    // [view, view+24h] not null
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts").as("us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us")
      .rangeBetween(org.apache.spark.sql.expressions.Window.currentRow,
        24L * 3600 * 1000000)
    val batch = ev
      .withColumn("p",
        min(when($"event_type" === "purchase", $"us")).over(w))
      .filter($"event_type" === "view" && $"p".isNotNull)
      .select("event_id").as[Long].collect().toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming Count-Min sketch equals the batch sketch per window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cms")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema

    val stream = EventStreams.countMinStream(
      EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString)),
      col("event_type"), "ts", horizon = "48 hours", windowDur = "1 day",
      depth = 4, width = 64)
    val q = stream.writeStream
      .format("memory").queryName("cms").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cms")
      .as[(java.sql.Timestamp, Int, Int, Long)].collect().toSet

    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val batch = ev
      .select(col("ts"), col("event_type").cast("string").as("__k"))
      .filter(col("__k").isNotNull)
      .select(col("ts"),
        explode(sequence(lit(0), lit(3))).as("row"), col("__k"))
      .select(col("ts"), col("row"),
        pmod(conv(substring(md5(concat(col("row").cast("string"), lit(":"),
          col("__k"))), 1, 8), 16, 10).cast("long"), lit(64L))
          .cast("int").as("bucket"))
      .groupBy(window(col("ts"), "1 day"), col("row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("row"),
        col("bucket"), col("cnt"))
      .as[(java.sql.Timestamp, Int, Int, Long)].collect().toSet

    assert(streamed.nonEmpty)
    // state boundedness: never more than depth x width cells per window
    val perWin = streamed.groupBy(_._1).view.mapValues(_.size)
    assert(perWin.values.forall(_ <= 4 * 64))
    assert(streamed === batch)
  }

  test("streaming quality gate (Gopher + frozen DSIR) equals the batch stages") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-qgate")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    // the FROZEN model: batch-trained bucket ratios, bounded collect
    val p = graft.operators.SummaryOps.gramProfile(docs, "doc_id", "text")
    val markers = docs.select(col("doc_id"), (col("lang") === "en").as("__tgt"))
    val model = graft.operators.QualityOps.dsirBucketRatios(p, markers)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(model.nonEmpty && model.size <= graft.operators.QualityOps.DsirDim)

    val stream = EventStreams.qualityGateStream(
      spark.readStream.schema(rawSchema).parquet(dir.toString),
      "doc_id", "text", model)
    val q = stream.writeStream
      .format("memory").queryName("qgate").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("qgate")
      .as[(Long, Int, Long, Option[Double])].collect().toSet

    val batch = graft.operators.QualityOps
      .gopherRules(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep"))
      .join(graft.operators.QualityOps.dsirWeights(p, markers), Seq("doc_id"))
      .select(col("doc_id"), col("keep"), col("n_bigrams"), col("dsir_w"))
      .as[(Long, Int, Long, Option[Double])].collect().toSet

    assert(streamed.nonEmpty)
    assert(streamed.exists(_._2 == 1) && streamed.exists(_._2 == 0))
    assert(streamed === batch)
  }

  test("streaming conformal coverage (frozen per-group tau) equals batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-conformal")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val rawSchema = spark.read.parquet(dir.toString).schema
    val ev = Tables.events(spark, "/root/testdata/sf0.001")

    // FROZEN thresholds from the batch Mondrian calibration (even ids)
    val taus = graft.operators.MetricsOps
      .groupConformal(ev, "event_type", col("value"), col("event_id"),
        col("event_id") % 2 === 0, alpha = 0.1)
      .select(col("event_type"), col("tau")).collect()
      .flatMap(r => Option(r.get(1)).map(t =>
        r.getString(0) -> t.asInstanceOf[Double])).toMap
    assert(taus.nonEmpty)

    val stream = EventStreams.conformalCoverageStream(
      EventStreams.withEventTime(
        spark.readStream.schema(rawSchema).parquet(dir.toString)),
      col("event_type"), col("value"), "ts", taus,
      horizon = "48 hours", windowDur = "1 day")
    val q = stream.writeStream
      .format("memory").queryName("conf").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("conf")
      .as[(java.sql.Timestamp, String, Long, Long, Double)].collect().toSet

    val tmap = typedLit(taus)
    val batch = ev.filter(col("value").isNotNull)
      .select(col("ts"), col("event_type").cast("string").as("grp"),
        col("value").cast("double").as("__s"))
      .withColumn("__tau", try_element_at(tmap, col("grp")))
      .filter(col("__tau").isNotNull)
      .groupBy(window(col("ts"), "1 day"), col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__s") <= col("__tau"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("window.start").as("win_start"), col("grp"), col("n"),
        col("n_covered"),
        round(col("n_covered").cast("double") / col("n").cast("double"), 6)
          .as("coverage"))
      .as[(java.sql.Timestamp, String, Long, Long, Double)].collect().toSet

    assert(streamed.nonEmpty)
    // state boundedness: one cell per (window, calibrated group)
    val perWin = streamed.groupBy(_._1).view.mapValues(_.size)
    assert(perWin.values.forall(_ <= taus.size))
    assert(streamed === batch)
  }
}
