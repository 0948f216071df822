package graft

import BenchSession.{force, releaseQueryBlocks, warmUp}

/** Driver-run benchmark: times every SparkEntry query on
  * `SPARK_GRAFT_SF_DIR`, printing ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * A warmup pass at sf0.001 runs first (untimed) so JIT/codegen compilation
  * and parquet footer caching don't land on whichever query happens to run
  * first. The suite is then timed THREE times and each query reports its
  * minimum — steady-state measurement: the harness host shows intermittent
  * multi-second CPU-steal windows (sometimes spanning minutes), and a
  * single-shot pass randomly attributes those stalls to whichever query
  * they land on.
  *
  * The timed action is [[BenchSession.force]], which hashes every output
  * column — the closest cheap analogue of "the user actually consumed the
  * frame".
  */
object Bench {
  /** A previous BENCH_FULL.json's per-query seconds and its total. Fails
    * with the name of the key it lacks (`"queries":{` or `"value":`)
    * rather than comparing against nothing.
    */
  private[graft] def previousRun(txt: String): (Map[String, Double], Double) = {
    def missing(key: String) =
      new IllegalArgumentException(s"BENCH_FULL.json has no $key — cannot compare with it")
    val key = "\"queries\":{"
    val qStart = txt.indexOf(key)
    val qEnd = if (qStart < 0) -1 else txt.indexOf("}", qStart)
    if (qEnd < 0) throw missing(key)
    val qRe = """"([A-Za-z0-9_]+)":(-?[0-9.eE+]+)""".r
    val queries = qRe.findAllMatchIn(txt.substring(qStart + key.length, qEnd))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val total = """"value":(-?[0-9.eE+]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toDouble).getOrElse(throw missing("\"value\":"))
    (queries, total)
  }

  def main(args: Array[String]): Unit = {
    // protocol knobs: `--passes 5 --report min` (or SPARK_GRAFT_PASSES /
    // SPARK_GRAFT_REPORT). The artifact records both, so round-over-round
    // comparisons can demand the same protocol instead of comparing a
    // min-of-3 against a single-shot taken during a CPU-steal wave.
    def argOf(flag: String): Option[String] =
      args.indexOf(flag) match {
        case i if i >= 0 && i + 1 < args.length => Some(args(i + 1))
        case _ => None
      }
    val nPasses = argOf("--passes")
      .orElse(sys.env.get("SPARK_GRAFT_PASSES")).map(_.toInt).getOrElse(3)
    val report = argOf("--report")
      .orElse(sys.env.get("SPARK_GRAFT_REPORT")).getOrElse("min")
    require(nPasses >= 1, "--passes must be >= 1")
    require(Set("min", "median").contains(report),
      s"--report must be min or median, got $report")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the previous run, parsed before any query runs so a malformed file
    // fails the bench at once; an absent file means no comparison
    val prevPath = java.nio.file.Paths.get("BENCH_FULL.json")
    val prev =
      if (!java.nio.file.Files.exists(prevPath)) None
      else Some(previousRun(java.nio.file.Files.readString(prevPath)))
    // session recipe (master local[$SPARK_GRAFT_CPUS], AQE, plan lint,
    // committer, tmpfs local dir) lives in BenchSession so PlanDump /
    // StageProfile profile EXACTLY the bench's settings
    val spark = BenchSession.build()
    spark.sparkContext.setLogLevel("WARN")

    warmUp(spark, sfDir, SparkEntry.queries.keys)

    // prime the file-relation cache at the timed scale so listing/footer
    // costs don't land on whichever query runs first. Wrapped: a
    // malformed/missing table must cost its own queries, not the whole
    // bench artifact (round 6 lost its bench line to an unwrapped prime)
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings")
      .foreach(t => try Tables.load(spark, sfDir, t).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] prime $t failed: ${e.getMessage}") })
    try Tables.events(spark, sfDir).count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] prime events failed: ${e.getMessage}") }

    val failed = scala.collection.mutable.SortedSet.empty[String]
    def timedPass(): Seq[(String, Double)] = {
      // drop the memoized shared frames (the ExactSubstr span profile) at
      // the pass boundary: every timed pass then pays the shared build
      // exactly ONCE, attributed to the first family member that runs —
      // the honest amortized cost of the one-front-end design
      SparkEntry.resetShared(spark)
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { force(fn(spark, sfDir)) } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val t = (System.nanoTime() - t0) / 1e9
        // outside the timed window: without this every checkpointed
        // intermediate in the suite stays pinned in the block manager until
        // the run ends, and the accumulated dead blocks degrade later queries
        releaseQueryBlocks(spark)
        name -> t
      }
    }
    val passes = (1 to nPasses).map(_ => timedPass().toMap)
    def reduce(ts: Seq[Double]): Double = report match {
      case "min" => ts.min
      case "median" =>
        val s = ts.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = passes.head.keys.toSeq.sorted
      .map(k => k -> reduce(passes.map(_(k))))
    val total = results.map(_._2).sum

    // ---- same-window DuckDB pairing ---------------------------------------
    // A lone Spark total is uninterpretable under this host's CPU-steal
    // swings — every artifact therefore carries a back-to-back warmed
    // DuckDB run over the identical oracle SQL (tools/bench_duck.py) plus
    // the ratio and the window's load average, so round-over-round
    // comparisons never pair numbers from different windows. Opt out with
    // SPARK_GRAFT_PAIR=false; a missing python/duckdb degrades to a
    // spark-only artifact rather than failing the bench.
    val duck: Option[(Double, Map[String, Double])] =
      if (sys.env.get("SPARK_GRAFT_PAIR").contains("false")) None
      else try {
        def esc(s: String): String = "\"" + s.flatMap {
          case '"'  => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        val oraclePath = java.nio.file.Files.createTempFile("graft-oracle", ".json")
        java.nio.file.Files.writeString(oraclePath,
          SparkEntry.oracleSql.map { case (k, v) => s"${esc(k)}: ${esc(v)}" }
            .mkString("{", ",", "}"))
        val out = scala.sys.process.Process(
          Seq("python3", "tools/bench_duck.py", sfDir, oraclePath.toString)).!!
        val totalRe = """"total":\s*(-?[0-9.eE+]+)""".r
        val qRe = """"([A-Za-z0-9_]+)":\s*(-?[0-9.eE+]+)""".r
        val dTotal = totalRe.findFirstMatchIn(out).map(_.group(1).toDouble)
        val dQueries = qRe.findAllMatchIn(out)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._1 != "total").toMap
        dTotal.map(t => (t, dQueries))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] duck pairing failed: ${e.getMessage}")
        None
      }
    val loadavg =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim.split(" ")(0)
      catch { case _: Throwable => "?" }
    // the ratio pairs only queries BOTH engines timed successfully
    val pairStats = duck.map { case (_, dq) =>
      val shared = results.filter { case (k, _) => dq.getOrElse(k, -1.0) > 0 }
      (shared.map(_._2).sum, shared.map(k => dq(k._1)).sum, shared.size)
    }
    val pairJson = pairStats.map { case (sSum, dSum, n) =>
      s""","duck_total":${f"$dSum%.3f"},"spark_paired":${f"$sSum%.3f"},""" +
        s""""ratio":${f"${sSum / dSum}%.3f"},"paired":$n"""
    }.getOrElse(""","duck_total":null,"ratio":null""")

    // ---- shared-front-end family rollups ----------------------------------
    // The pinned shared profiles (span suffix-rank, LM gram model, char-gram
    // counts, eval overlap frames, graph edge lists, embedding covariance)
    // charge their build to the FIRST family member that runs in a pass, so
    // per-query times within a family swing whenever membership or run
    // order shifts. The artifact therefore carries per-family subtotals —
    // the stable unit of round-over-round comparison — alongside the
    // per-query map, for both engines.
    val familyDefs: Seq[(String, String => Boolean)] = Seq(
      "span" -> Set("d22_exactsubstr_spans", "d23_dupspan_pairs",
        "d24_span_scrub", "d25_dupspan_clusters", "d26_span_scrub_keepone",
        "d27_span_decontaminate", "e2e_span_family"),
      "lm" -> Set("t28_bigram_lm", "t39_ppl_buckets", "t42_domain_lm_delta",
        "t46_kneser_ney", "ml24_dsir_weights", "ml25_dsir_resample",
        "e2e_quality_gate"),
      "chargram" -> Set("t43_charngram_langid"),
      "neardup" -> Set("d02_minhash_sig", "d03_lsh_neardup",
        "d05_jaccard_pairs", "d08_dedup_components", "d10_dedup_keep",
        "d14_containment_pairs", "d16_lsh_recall", "d18_cluster_sizes",
        "d20_minhash_estimate", "ml23_dedup_split"),
      "eval" -> Set("t47_bleu", "t48_rouge2", "t49_chrf", "e2e_eval_report"),
      "png" -> Set("m02_decode_png", "m05_phash", "m07_resize",
        "m09_luma_hist", "m10_phash_pairs"),
      "cohort" -> Set("e2e_cohort_mortality", "e2e_features_clean",
        "e2e_stay_tensors", "e2e_stay_tensors_mortality",
        "e2e_stay_tensors_readmit", "e2e_stay_tensors_readmit_meds",
        "e2e_stay_tensors_mortality_meds"),
      "graph" -> ((n: String) => n.matches("g\\d\\d_.*") || n == "pr01_pagerank"),
      "embcov" -> Set("v09_embed_cov", "v10_pca_project"))
    val famJson = familyDefs.map { case (fam, member) =>
      val rs = results.filter { case (k, _) => member(k) }
      val sSum = rs.map(_._2).sum
      val dPart = duck.map { case (_, dq) =>
        f""","duck":${rs.flatMap(k => dq.get(k._1)).sum}%.3f"""
      }.getOrElse("")
      s""""$fam":{"n":${rs.size},"spark":${f"$sSum%.3f"}$dPart}"""
    }.mkString("{", ",", "}")

    def entries(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")

    // ---- round-over-round self-comparison ---------------------------------
    // The harness captures only ~2 KB of output tail, so the full 367-entry
    // per-query map can never ride the printed line. The comparison
    // therefore rides the line itself: computed against the previous run's
    // BENCH_FULL.json (read at start-up, before this run overwrites it),
    // keyed per query, reduced to common-query count, previous total,
    // geomean speedup (prev/now), regression/improvement counts at the ±10%
    // noise threshold, and the worst five now/prev ratios by name.
    val vsPrev: String = prev match {
      case None => """"vs_prev":null"""
      case Some((prevQueries, prevTotal)) =>
        val ratios = results
          .filter { case (k, v) => prevQueries.getOrElse(k, 0.0) > 0 && v > 0 }
          .map { case (k, v) => k -> v / prevQueries(k) } // now/prev: >1 regressed
        if (ratios.isEmpty) """"vs_prev":null"""
        else {
          val geo = math.exp(ratios.map(r => -math.log(r._2)).sum / ratios.size)
          val worst = ratios.sortBy(-_._2).take(5)
            .map { case (k, r) => "\"" + k + "\":" + f"$r%.2f" }
            .mkString("{", ",", "}")
          s""""vs_prev":{"n":${ratios.size},""" +
            s""""prev_total":${f"$prevTotal%.3f"},""" +
            s""""geomean_speedup":${f"$geo%.3f"},""" +
            s""""n_regressed":${ratios.count(_._2 > 1.10)},""" +
            s""""n_improved":${ratios.count(_._2 < 0.90)},""" +
            s""""worst":$worst}"""
        }
    }
    // The harness captures only the last ~2000 bytes of output, so the
    // printed line must stay well under that: rounded values, and only the
    // 20 slowest queries inline. The complete per-query map (both engines)
    // goes to BENCH_FULL.json alongside the repo for offline comparison.
    val slowest = results.sortBy(-_._2).take(20).sortBy(_._1)
    val proto = s""""passes":$nPasses,"report":"$report","loadavg":"$loadavg""""
    val line = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",""" +
      s""""n":${results.size},"failed":${failed.size},$proto$pairJson,""" +
      s"""$vsPrev,"families":$famJson,"queries":${entries(slowest)},""" +
      s""""sf":"$sfDir"}"""
    val duckFull = duck.map { case (_, dq) =>
      s""","duck_queries":${entries(dq.toSeq.sortBy(_._1))}"""
    }.getOrElse("")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      (s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",""" +
        s"""$proto$pairJson,$vsPrev,"families":$famJson,""" +
        s""""queries":${entries(results)}$duckFull,"sf":"$sfDir"}""" + "\n")
        .getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
