package graft

import org.apache.spark.sql.DataFrame

/** Dev tool: throughput / state-size probe for the stateful streaming
  * tier (r17 judge item 4 — every batch family has ×10 datapoints,
  * the 21 st_* rows were golden-trace-gated for semantics only).
  *
  * Replays the corpus documents of `<dir>` as a timestamped DocEvent
  * stream (doc i at T0 + i·tick ms, so the 1-minute watermark horizon
  * holds ~60000/tick docs regardless of corpus size — state must stay
  * O(horizon), never O(corpus)) through the SAME operator chains the
  * golden-trace gates pin, in `batch`-sized micro-batches against the
  * noop sink, and records per query: input docs, wall seconds,
  * docs/sec, micro-batches, and the MAX total state rows any batch
  * held (the StreamingQueryProgress numbers st_watermark_lag reads).
  *
  * `runMain graft.StreamProbe <dir> [names…]`; knobs:
  * SPARK_GRAFT_STREAM_BATCH (docs per micro-batch, default 5000),
  * SPARK_GRAFT_STREAM_TICK_MS (event-time spacing, default 10),
  * SPARK_GRAFT_PROBE_PARTS (shuffle partitions, default 8 — the
  * golden traces run at 1, a throughput probe wants the state shuffle
  * parallel). One JSON line per query as it completes (the ScaleProbe
  * streaming-results discipline), then a summary line. */
object StreamProbe {
  val DefaultQueries: Seq[String] =
    Seq("st_neardup", "st_substring", "st_curate")

  def main(args: Array[String]): Unit = {
    Scratch.sweepStale()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    def envInt(k: String, d: Int): Int = sys.env.get(k)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(d)
    val batch = envInt("SPARK_GRAFT_STREAM_BATCH", 5000)
    val tickMs = envInt("SPARK_GRAFT_STREAM_TICK_MS", 10)
    val parts = envInt("SPARK_GRAFT_PROBE_PARTS", 8)
    val spark = GraftSession.build(shufflePartitions = parts)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // streaming: AQE off
    spark.sparkContext.setLogLevel("ERROR")
    import graft.streaming.EventStreamOps

    // the replay feed: corpus docs in doc_id order with synthetic
    // monotone event times (MemoryStream feeds from the driver, so the
    // collect is the harness, not the operator under test)
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .zipWithIndex.map { case (r, i) =>
        EventStreamOps.DocEvent(r.getLong(0), r.getString(1),
          new java.sql.Timestamp(1700000000000L + i.toLong * tickMs))
      }

    def chain(name: String, df: DataFrame): DataFrame = name match {
      case "st_neardup" =>
        EventStreamOps.neardupWithinWatermark(df, "text", "ts", "1 minute")
      case "st_substring" =>
        // the BATCH tier's production parameters (dedup_substring_approx:
        // w=16/stride=8/k=4), not the disjoint-window trace fixture
        EventStreamOps.substringNovelWindows(df, "text", "ts", "1 minute",
          w = 16, stride = 8, shingleK = 4)
      case "st_curate" =>
        EventStreamOps.curateStream(df, "text", "ts", "1 minute",
          minChars = 20)
      case other => sys.error(s"unknown streaming probe query: $other")
    }

    val results = names.map { name =>
      val r: Either[String, String] = try {
        implicit val sq = spark.sqlContext
        implicit val enc =
          org.apache.spark.sql.Encoders.product[EventStreamOps.DocEvent]
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[EventStreamOps.DocEvent]
        val q = chain(name, mem.toDF())
          .writeStream.format("noop").queryName(s"probe_$name")
          .outputMode("append").start()
        try {
          val t0 = System.nanoTime()
          docs.grouped(batch).foreach { chunk =>
            mem.addData(chunk.toSeq)
            q.processAllAvailable()
          }
          val wall = (System.nanoTime() - t0) / 1e9
          val progress = q.recentProgress.toSeq
          val maxState = progress
            .map(p => Option(p.stateOperators).map(_.map(_.numRowsTotal)
              .sum).getOrElse(0L))
            .foldLeft(0L)(math.max)
          val nBatches = progress.count(_.numInputRows > 0)
          Right(
            s"""{"rows":${docs.length},"wall_sec":${f"$wall%.2f"},""" +
            s""""docs_per_sec":${f"${docs.length / wall}%.0f"},""" +
            s""""micro_batches":$nBatches,"max_state_rows":$maxState,""" +
            s""""batch_size":$batch,"tick_ms":$tickMs}""")
        } finally q.stop()
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
      r match {
        case Right(j) => println(s"""{"stream_probe_row":{"$name":$j}}""")
        case Left(e)  => println(
          s"""{"stream_probe_row":{"$name":null},"error":${JsonUtil.jstr(e)}}""")
      }
      name -> r
    }
    val ok = results.collect { case (k, Right(j)) => s"\"$k\":$j" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, Left(e)) =>
      s"\"$k\":${JsonUtil.jstr(e)}" }.mkString("{", ",", "}")
    println(s"""{"stream_probe":$ok,"errors":$errs,"dir":"$dir"}""")
    spark.stop()
  }
}
