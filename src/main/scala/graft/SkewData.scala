package graft

import org.apache.spark.sql.functions._

/** Dev tool: derive a deliberately SKEWED sibling of the uniform ×10
  * replica ([[ScaleData]]) — same rows, same scale, pathological key
  * distribution — for the SCALE.md skew probes. Uniform ×10 ratios
  * prove the plans scale; these prove they survive the 100 TB killer,
  * hot keys:
  *
  *  - documents: a fixed three-token phrase appended to ~50% of docs
  *    (hash-chosen) → one 3-shingle family with df ≈ half the corpus,
  *    the worst case for shingle inverted indexes (df-cap must cut it)
  *    and a fat-bucket stressor for minhash band buckets (maxBucket);
  *  - events: ~50% of rows (hash-chosen) reassigned to ONE hot user →
  *    the per-key sorted passes (sampler, pair windows) see a single
  *    group holding half the table;
  *  - lineitem: ~50% of rows reassigned to ONE hot supplier → the
  *    supplier→part graph gets a degree-(≈half the edges) hub, the
  *    stressor for wedge/similarity/propagation ops.
  *
  * Reads the ScaleData output so the two replicas differ ONLY in skew:
  * `runMain graft.SkewData [inDir] [outDir]`
  * (defaults /tmp/graft-sf1 → /tmp/graft-sf1skew).
  */
object SkewData {
  def main(args: Array[String]): Unit = {
    val in = args.headOption.getOrElse("/tmp/graft-sf1")
    val out = if (args.length > 1) args(1) else "/tmp/graft-sf1skew"
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.table(spark, in, "documents")
      .withColumn("text",
        when(pmod(xxhash64(col("doc_id")), lit(2L)) === 0L,
          concat(col("text"), lit(" zqhota zqhotb zqhotc")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(8).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val events = Tables.table(spark, in, "events")
      .withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(2L)) === 0L,
          lit(77777777L)).otherwise(col("user_id")))
      .withColumn("ts", unix_micros(col("ts")) * lit(1000L)) // int64 nanos
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.repartition(8).write.mode("overwrite")
      .parquet(s"$out/events.parquet")

    val li = spark.read.parquet(s"$in/lineitem.parquet")
    li.withColumn("l_suppkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(2L))
          === 0L, lit(1L)).otherwise(col("l_suppkey")))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "embeddings").foreach { t =>
      spark.read.parquet(s"$in/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"""{"skew_data":"$out","from":"$in"}""")
    spark.stop()
  }
}
