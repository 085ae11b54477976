package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** End-to-end regression for the LEGACY events layout: since the driver
  * regenerated testdata as µs timestamps, the nanos branch of
  * `Tables.table` (LongType raw → timestamp_micros(ts div 1000)) no
  * longer runs against any real testdata query — this spec synthesizes
  * a nanos-layout events dir and pins that (a) the adaptive loader
  * yields the same TimestampType schema, (b) an events-family
  * aggregation returns IDENTICAL results on both layouts, and (c) the
  * NanosFilterRule restores scan-level pushdown on the legacy path. */
class LegacyLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One logical dataset, two physical layouts. */
  private lazy val (nanosDir, microsDir): (String, String) = {
    val base = graft.Scratch.dir("legacy")
    val rows = (0L until 5000L).map { i =>
      (i, 1700000000000000L + i * 61000000L, i % 37,
        s"t${i % 5}", (i % 101).toDouble / 4.0, "{}")
    }
    val nd = base.resolve("nanos").toString
    val md = base.resolve("micros").toString
    // legacy: ts as raw int64 NANOS (what nanosAsLong surfaces)
    rows.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$nd/events.parquet")
    // modern: ts as a real µs timestamp
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$md/events.parquet")
    (nd, md)
  }

  test("the adaptive loader yields TimestampType on both layouts and " +
    "identical aggregation results") {
    val a = Tables.table(spark, nanosDir, "events")
    val b = Tables.table(spark, microsDir, "events")
    assert(a.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // the layout confs come with the session build, so a clone holds
    // them and reads the legacy layout the same way
    val clone = spark.newSession()
    assert(clone.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(Tables.table(clone, nanosDir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(Tables.eventsIsNanos(spark, nanosDir))
    assert(!Tables.eventsIsNanos(spark, microsDir))
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"),
        expr("CAST(ts AS LONG) div 86400").as("day"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("su"),
        round(sum(col("value")), 2).as("sv"))
      .collect().map(_.toString).sorted.toSeq
    assert(agg(a) == agg(b))
  }

  test("NanosFilterRule pushes derived raw bounds to the legacy scan; " +
    "the filtered results agree across layouts") {
    val lo = lit("2023-11-15 00:00:00").cast("timestamp")
    val hi = lit("2023-11-16 00:00:00").cast("timestamp")
    def filtered(dir: String) = Tables.table(spark, dir, "events")
      .filter(col("ts") >= lo && col("ts") < hi)
    val legacyPlan = filtered(nanosDir)
      .queryExecution.executedPlan.toString
    // the derived nanos bounds reach PushedFilters on the raw column
    assert(legacyPlan.contains("GreaterThanOrEqual(ts,") &&
      legacyPlan.contains("LessThan(ts,"), legacyPlan)
    val a = filtered(nanosDir).agg(count(lit(1)), sum(col("event_id")))
      .collect()(0)
    val b = filtered(microsDir).agg(count(lit(1)), sum(col("event_id")))
      .collect()(0)
    assert(a == b)
    assert(a.getLong(0) > 0L)
  }
}
