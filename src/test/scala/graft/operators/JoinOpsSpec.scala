package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class JoinOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOfPointInInterval: enclosing interval, latest-start tie-break, left nulls") {
    // intervals per the reference's hadm_id imputation (labs_preprocess_util.py:50-59)
    val intervals = Seq(
      (1L, ts("2020-01-01 00:00:00"), ts("2020-01-01 10:00:00")),
      (1L, ts("2020-01-01 04:00:00"), ts("2020-01-01 12:00:00")), // overlaps; later start
      (2L, ts("2020-01-01 00:00:00"), ts("2020-01-01 01:00:00"))
    ).toDF("k", "start", "end")
    val points = Seq(
      (100L, 1L, ts("2020-01-01 05:00:00")), // in both → pick start 04:00 (closest)
      (101L, 1L, ts("2020-01-01 02:00:00")), // only first
      (102L, 1L, ts("2020-01-01 23:00:00")), // none → null
      (103L, 2L, ts("2020-01-01 00:30:00")), // exactly one
      (104L, 3L, ts("2020-01-01 00:30:00"))  // no intervals for key → null
    ).toDF("pid", "k", "t")
    val got = JoinOps.asOfPointInInterval(points, intervals, "k", "t", "start", "end", "asof")
      .select("pid", "asof").as[(Long, Option[Timestamp])].collect().toMap
    assert(got(100L).contains(ts("2020-01-01 04:00:00")))
    assert(got(101L).contains(ts("2020-01-01 00:00:00")))
    assert(got(102L).isEmpty)
    assert(got(103L).contains(ts("2020-01-01 00:00:00")))
    assert(got(104L).isEmpty)
    assert(got.size === 5) // exactly one output row per point
  }

  test("asOfPointInInterval: duplicates survive, nulls match nothing, one join and no window") {
    val intervals = Seq(
      (Option(1L), Option(ts("2020-01-01 00:00:00")), ts("2020-01-01 10:00:00")),
      (Option(1L), Option(ts("2020-01-01 00:00:00")), ts("2020-01-01 06:00:00")), // same start
      (Option(2L), Option.empty[Timestamp], ts("2020-01-01 10:00:00")), // null start
      (Option.empty[Long], Option(ts("2020-01-01 00:00:00")), ts("2020-01-01 10:00:00"))
    ).toDF("k", "start", "end")
    val at5 = Option(ts("2020-01-01 05:00:00"))
    val points = Seq(
      (100L, Option(1L), at5), // in both intervals that share a start
      (100L, Option(1L), at5), // exact duplicate of the row above
      (101L, Option.empty[Long], at5), // null key
      (102L, Option(1L), Option.empty[Timestamp]), // null ts
      (103L, Option(2L), at5) // only a null-start interval
    ).toDF("pid", "k", "t")
    val df = JoinOps.asOfPointInInterval(points, intervals, "k", "t", "start", "end", "asof")
    assert(df.columns.toSeq === Seq("pid", "k", "t", "asof"))
    val got = df.select("pid", "asof").as[(Long, Option[Timestamp])].collect().sortBy(_._1)
    val start = Option(ts("2020-01-01 00:00:00"))
    assert(got.toSeq === Seq(100L -> start, 100L -> start, 101L -> None, 102L -> None,
      103L -> None))
    val plan = df.queryExecution.sparkPlan
    val nodes = plan.collect { case p => p.nodeName }
    assert(!nodes.contains("Window"), plan.toString)
    assert(nodes.count(_.contains("Join")) === 1, plan.toString)
  }

  test("firstMatchLookup keeps the first row per key by order column") {
    val mapping = Seq(
      ("k1", "v-late", 5L), ("k1", "v-first", 1L), ("k1", "v-mid", 3L),
      ("k2", "only", 9L)
    ).toDF("key", "value", "ord")
    val got = JoinOps.firstMatchLookup(mapping, "key", "value", "ord")
      .as[(String, String)].collect().toMap
    assert(got === Map("k1" -> "v-first", "k2" -> "only"))
  }

  test("topKByCount: deterministic tie-break count desc then key asc") {
    val df = Seq("a", "a", "b", "b", "c").toDF("k")
    val got = JoinOps.topKByCount(df, "k", 2).as[String].collect().toSet
    assert(got === Set("a", "b")) // c loses; a/b tie broken by key (both kept at k=2)
    val got1 = JoinOps.topKByCount(df, "k", 1).as[String].collect().toSet
    assert(got1 === Set("a")) // tie at count=2 → smaller key wins
  }

  test("semiFilter / antiFilter partition rows exactly") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
    val keep = Seq(Tuple1(1L), Tuple1(3L)).toDF("id")
    val semi = JoinOps.semiFilter(df, Seq("id"), keep).select("id").as[Long].collect().toSet
    val anti = JoinOps.antiFilter(df, Seq("id"), keep).select("id").as[Long].collect().toSet
    assert(semi === Set(1L, 3L) && anti === Set(2L))
  }

  test("intervalOverlapPairs: banded equi-join equals the naive non-equi join, no dup pairs") {
    // deterministic pseudo-random intervals spanning many buckets; every
    // 7th row is degenerate (empty or negative) and must pair with nothing
    val rows = (1L to 120L).map { i =>
      val k = (i % 5).toString
      val s = (i * 37 % 200)
      val e =
        if (i % 7 == 0) s - (i % 3) // empty (len 0) or negative
        else s + 1 + (i * 13 % 50)
      (k, i, s, e)
    }
    val df = rows.toDF("k", "id", "s", "e")
    val banded = JoinOps.intervalOverlapPairs(df, "k", "id", "s", "e", bucketWidth = 16L)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(banded.length === banded.distinct.length, "ownership rule must emit each pair once")
    // the naive reference must ALSO encode the half-open contract: an empty
    // interval strictly inside another satisfies the raw range predicate
    // but overlaps nothing by definition
    val naive = df.as("a").join(df.as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id") &&
          col("a.s") < col("a.e") && col("b.s") < col("b.e") &&
          col("a.s") < col("b.e") && col("b.s") < col("a.e"))
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect()
    assert(banded.toSet === naive.toSet)
    // bucket width must not change the answer, only the plan's fan-out
    val wide = JoinOps.intervalOverlapPairs(df, "k", "id", "s", "e", bucketWidth = 1000L)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(wide.toSet === naive.toSet)
  }

  test("intervalOverlapPairs: degenerate intervals (end <= start) register in no bucket") {
    val df = Seq(
      ("k", 1L, 10L, 20L), // real interval
      ("k", 2L, 15L, 15L), // empty — a point would "overlap" id 1 if registered
      ("k", 3L, 18L, 12L), // negative — sequence() would walk a DESCENDING bucket range
      ("k", 4L, 12L, 19L)  // real, overlaps id 1
    ).toDF("k", "id", "s", "e")
    val got = JoinOps.intervalOverlapPairs(df, "k", "id", "s", "e", bucketWidth = 16L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 4L)))
  }

  test("snapshotDiff classifies insert/delete/update/unchanged, null-safe") {
    val old = Seq((1L, Some("A")), (2L, Some("B")), (3L, Option.empty[String]),
      (5L, Some("E"))).toDF("id", "v")
    val neu = Seq((2L, Some("B2")), (3L, Option.empty[String]), (4L, Some("D")),
      (5L, Some("E"))).toDF("id", "v")
    val got = JoinOps.snapshotDiff(old, neu, "id", Seq("v"))
      .select("id", "op").as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "delete",     // only in old
      2L -> "update",     // value changed
      3L -> "unchanged",  // null <=> null
      4L -> "insert",     // only in new
      5L -> "unchanged")) // equal values
  }

  test("applyChangelog: upsert replaces, delete removes, insert appends, rest untouched") {
    val cur = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changes = Seq((2L, "B", "upsert"), (3L, "c", "delete"), (9L, "z", "upsert"))
      .toDF("id", "v", "op")
    val got = JoinOps.applyChangelog(cur, changes, "id", "op")
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "B"), (9L, "z")))
    // diff of (current, applied) replays exactly the change set
    val applied = JoinOps.applyChangelog(cur, changes, "id", "op")
    val diff = JoinOps.snapshotDiff(cur, applied, "id", Seq("v"))
      .filter(col("op") =!= "unchanged")
      .select("id", "op").as[(Long, String)].collect().toMap
    assert(diff === Map(2L -> "update", 3L -> "delete", 9L -> "insert"))
  }
}
