package graft

/** Dev tool: sequential timing of the heavy-tail queries at two scale
  * factors, for the sf0.1 → sf1 scaling curve in SCALE.md (the per-round
  * Bench runs 4-way concurrent, which is honest for wall-clock but noisy
  * for per-query scaling ratios). `runMain graft.ScaleProbe <dir> [names…]`
  * prints one JSON line of per-query seconds (best of 2, sequential).
  */
object ScaleProbe {
  val DefaultQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_cand", "dedup_simhash", "dedup_jaccard",
    "dedup_components", "dedup_embedding", "text_repetition", "search_bm25",
    "a4_term_stats", "a5_dict_scalable", "ann_brute_topk", "ann_ivf_topk",
    "ann_lsh_topk", "w4_asof_join", "w5_range_join", "s8_sampler_events",
    "sketch_kmv", "curate_docs")

  def main(args: Array[String]): Unit = {
    Scratch.sweepStale() // reclaim temp-dir debris from dead runs
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    // ×100 probes of build-side-heavy joins (ktruss's shuffle-hash
    // closure) need MORE shuffle partitions than cores so each build
    // map fits in task memory — AQE coalesces the small stages back,
    // so raising this does not distort light queries' plans
    val parts = sys.env.get("SPARK_GRAFT_PROBE_PARTS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(GraftSession.cpus)
    val spark = GraftSession.build(shufflePartitions = parts)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warmup
    // one row per query, PRINTED AS IT COMPLETES, and a failed query
    // records its error instead of killing the run — a 50-minute ×100
    // probe must not lose its finished measurements to the last row
    // (the r17 ktruss disk-fill lost triangles+scc numbers that way)
    // SPARK_GRAFT_PROBE_RUNS=1 for multi-ten-minute ×100 rows where
    // best-of-2 would double an hour-long measurement (recorded as-is;
    // a single run reads HIGH if anything, never flatters)
    // defensive parse (r17 ADVICE): a malformed value must not throw
    // before any row runs, and 0/negative must not make runs.min throw
    // per query — clamp to >= 1, fall back to best-of-2
    val nRuns = sys.env.get("SPARK_GRAFT_PROBE_RUNS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(2)
    def time(name: String): Either[String, Double] = try {
      val runs = (1 to nRuns).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      Right(runs.min)
    } catch {
      case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
    }
    val results = names.map { n =>
      val r = time(n)
      r match {
        case Right(v) => println(s"""{"scale_probe_row":{"$n":$v}}""")
        case Left(e)  => println(
          s"""{"scale_probe_row":{"$n":-1},"error":${JsonUtil.jstr(e)}}""")
      }
      n -> r
    }
    val js = results.collect { case (k, Right(v)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) =>
      s"\"" + k + "\":" + JsonUtil.jstr(e) }
      .mkString("{", ",", "}")
    println(s"""{"scale_probe":$js,"errors":$errs,"dir":"$dir"}""")
    spark.stop()
  }
}
