package graft

import org.apache.spark.sql.functions._

/** Dev tool: measures how `DedupOps.semanticDedup` cost responds to the
  * cluster-count knob at a fixed corpus — the empirical closure for the
  * SCALE.md claim that the within-cluster pair stage is O(Σ cᵢ²) and k
  * must scale with the corpus (the SemDeDup contract; the paper's k=50k
  * at web scale). `runMain graft.SemProbe <dir> [k…]` prints one JSON
  * line of per-k seconds (best of 2, sequential), default k = 8, 80.
  */
object SemProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-sf1")
    val ks = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(8, 80)
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .localCheckpoint()
    def time(k: Int): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      operators.DedupOps.semanticDedup(emb, k = k, iters = 2, threshold = 0.99)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val js = ks.map(k => s""""k$k":${time(k)}""").mkString("{", ",", "}")
    println(s"""{"sem_probe":$js,"dir":"$dir"}""")
    spark.stop()
  }
}
