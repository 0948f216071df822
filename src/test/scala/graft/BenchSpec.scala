package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.previousRun`: the previous BENCH_FULL.json is compared against,
  * or the bench fails naming what the file lacks.
  */
class BenchSpec extends AnyFunSuite {

  test("previousRun reads the per-query map and the total") {
    val txt = """{"metric":"total","value":3.500,"unit":"sec",""" +
      """"families":{"span":{"n":1,"spark":1.000}},""" +
      """"queries":{"a01":1.250,"b02":2.250},"duck_queries":{"a01":9.0}}"""
    assert(Bench.previousRun(txt) === (Map("a01" -> 1.25, "b02" -> 2.25), 3.5))
  }

  test("previousRun fails naming the key a malformed file lacks") {
    val noQueries = intercept[IllegalArgumentException](
      Bench.previousRun("""{"metric":"total","value":3.5}"""))
    assert(noQueries.getMessage.contains("\"queries\":{"))
    val noValue = intercept[IllegalArgumentException](
      Bench.previousRun("""{"metric":"total","queries":{"a01":1.0}}"""))
    assert(noValue.getMessage.contains("\"value\":"))
  }
}
