package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set up `setups` times (session build,
  * table registration, one warm-up pass) keeping the last session, then
  * run timed passes until `seconds` have elapsed. With `trace 1` the timed
  * passes alternate untraced and traced in U-T-T-U blocks. Writes a JSON
  * result; the caller checks the outputs and reports the metrics.
  *
  * Usage: Main --workload W --data DIR --out DIR --result FILE --seconds S
  *             --trace 0|1 --setups N --cpus N --local DIR [--planted FILE]
  */
object Main {
  def session(cpus: Int, localDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.local.dir", s"$localDir/spark")
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private val probeData = new Array[Long](1 << 21)

  /** Host-speed probe, independent of the program and of the heap's
    * contents: refills a preallocated array from a fixed generator and
    * sorts it on one thread. Its wall time rises when other load on the
    * host slows the cores, which CPU-steal time does not always show.
    */
  def hostProbe(): Double = {
    val t0 = System.nanoTime
    var x = 88172645463325252L
    var i = 0
    while (i < probeData.length) {
      x = x * 6364136223846793005L + 1442695040888963407L
      probeData(i) = x
      i += 1
    }
    java.util.Arrays.sort(probeData)
    (System.nanoTime - t0) / 1e9
  }

  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val planted = a.get("planted").toSeq.flatMap { f =>
      new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8)
        .stripPrefix("[").stripSuffix("]").split(",").map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSeq
    }
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    var spark: SparkSession = null
    var tables: Map[String, DataFrame] = Map.empty
    val setupS = mutable.ArrayBuffer[Double]()
    val probeS = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()

    def pass(label: String, traced: Boolean): Map[String, Any] = {
      val out = s"${a("out")}/$label"
      val untraced = new Untraced(spark)
      val tracer: Tracer = if (trace) new Traced(spark, spans = traced) else untraced
      val res = try {
        val r = Workloads.run(workload, spark, tables, a("data"), out, tracer, planted)
        untraced.sampleStorage()
        Map[String, Any]("configs" -> r.configs.map { case (n, s) => Map("name" -> n, "s" -> s) },
          "digests" -> r.digests.map { case (k, (n, h)) => k -> Seq(n, h) },
          "report" -> r.report)
      } catch {
        case e: Throwable =>
          Map[String, Any]("error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      // no type test on the tracer: untraced runs never load the collector
      val layers = if (trace) Map("layers" -> tracer.finish()) else Map.empty
      release(spark)
      res ++ layers ++ Map("label" -> label, "traced" -> traced, "out" -> out,
        "storage_peak_bytes" -> untraced.storagePeakBytes)
    }

    for (i <- 1 to a("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime
      spark = session(cpus, a("local"))
      tables = Workloads.register(spark, workload, a("data"))
      val warm = pass(s"setup_$i", traced = false)
      setupS += (System.nanoTime - t0) / 1e9
      warm.get("error").foreach(e => passes += warm)
      (1 to 3).foreach(_ => hostProbe()) // warms the probe's code
    }

    val deadline = System.nanoTime + (seconds * 1e9).toLong
    var k = 0
    // a traced run goes in whole untraced-traced-traced-untraced blocks, so
    // JIT warm-up during the run favours neither kind of pass
    while (System.nanoTime < deadline || k == 0 || (trace && k % 4 != 0)) {
      val traced = trace && (k % 4 == 1 || k % 4 == 2)
      passes += pass(f"pass_$k%02d", traced)
      probeS ++= (1 to 3).map(_ => hostProbe())
      k += 1
    }

    val conf = spark.conf.getAll.filter { case (key, _) =>
      !key.contains("host") && !key.contains("port") && !key.contains(".id") &&
        !key.endsWith("Time")
    }
    val result = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS.toSeq,
      "host_probe_s" -> probeS.toSeq,
      "passes" -> passes.toSeq,
      "spark_conf" -> conf,
      "spark_version" -> spark.version,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory)
    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.write(Paths.get(a("result")), json.getBytes(StandardCharsets.UTF_8))
  }
}
