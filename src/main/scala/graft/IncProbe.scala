package graft

import org.apache.spark.sql.functions._

/** Dev tool: time the INCREMENTAL leg of connected-component
  * maintenance in isolation — the production claim is that folding a
  * new edge batch into an existing labeling costs O(old nodes + new
  * edges), independent of the old EDGE set. The registered
  * `graph_cc_incremental` query times warm labeling + fold together
  * (it must, to replay its oracle), which blurs that claim; here the
  * warm labeling and the pair relation are built and checkpointed
  * UNTIMED, and only `incrementalComponents(prevLabels, newPairs)` is
  * measured (best of 2). `runMain graft.IncProbe <dir> [<dir> ...]`
  * prints one JSON line of seconds per dir.
  */
object IncProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warmup
    import graft.operators.DedupOps
    val results = dirs.map { dir =>
      // setup (untimed): the same 2/3-warm / 1/3-fresh split the
      // registered query uses, with warm labels fully materialized
      val pairs = DedupOps.jaccardPairs(
        Tables.table(spark, dir, "documents"), "doc_id", "text",
        threshold = 0.5).localCheckpoint(eager = true)
      val warm = pairs
        .filter(pmod(col("id_a") + col("id_b"), lit(3)) =!= 0)
      val fresh = pairs
        .filter(pmod(col("id_a") + col("id_b"), lit(3)) === 0)
        .localCheckpoint(eager = true)
      val labels = DedupOps.connectedComponents(warm)
        .localCheckpoint(eager = true)
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        DedupOps.incrementalComponents(labels, fresh)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      dir -> secs
    }
    val js = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"inc_probe":$js}""")
    spark.stop()
  }
}
