package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, stringType, timestampType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.parquet.schema.Types
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** One logical events dataset in both on-disk layouts the events table
  * has shipped in: `nanosDir` holds a real TIMESTAMP(NANOS) column,
  * written with parquet-hadoop's example writer (Spark cannot write
  * one), and `microsDir` a standard µs timestamp written by Spark. Each
  * dir holds `events.parquet`, so [[Tables.table]] reads it as a table:
  * a single file in the nanos dir, a flat written directory in the µs
  * dir. */
object LegacyLayout {
  lazy val (nanosDir, microsDir): (String, String) = {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = graft.Scratch.dir("legacy")
    val rows = (0L until 5000L).map { i =>
      (i, 1700000000000000L + i * 61000000L, i % 37,
        s"t${i % 5}", (i % 101).toDouble / 4.0, "{}")
    }
    val nd = base.resolve("nanos").toString
    val md = base.resolve("micros").toString
    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(timestampType(true, TimeUnit.NANOS)).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(stringType()).named("props")
      .named("events")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$nd/events.parquet"), conf)).withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, us, u, t, v, p) =>
      w.write(groups.newGroup().append("event_id", id)
        .append("ts", us * 1000L).append("user_id", u)
        .append("event_type", t).append("value", v).append("props", p))
    } finally w.close()
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$md/events.parquet")
    (nd, md)
  }
}

/** End-to-end regression for the LEGACY events layout: since the driver
  * regenerated testdata as µs timestamps, the nanos branch of
  * `Tables.table` (LongType raw → timestamp_micros(ts div 1000)) no
  * longer runs against any real testdata query — this spec reads a
  * TIMESTAMP(NANOS) events file and pins that (a) the adaptive loader
  * yields the same TimestampType schema, (b) an events-family
  * aggregation returns IDENTICAL results on both layouts, and (c) the
  * NanosFilterRule's derived raw bounds reach the legacy scan's
  * PushedFilters (parquet itself cannot prune a TIMESTAMP(NANOS)
  * column on them).
  * Without `nanosAsLong` in the session, the nanos file does not read. */
class LegacyLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import LegacyLayout.{microsDir, nanosDir}

  test("the adaptive loader yields TimestampType on both layouts and " +
    "identical aggregation results") {
    // on disk: raw int64 nanos (as nanosAsLong surfaces it) vs µs
    def rawTs(dir: String) =
      Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType
    assert(rawTs(nanosDir) == LongType)
    assert(rawTs(microsDir) == TimestampType)
    val a = Tables.table(spark, nanosDir, "events")
    val b = Tables.table(spark, microsDir, "events")
    assert(a.schema("ts").dataType == TimestampType)
    // the layout confs come with the session build, so a clone holds
    // them and reads the legacy layout the same way
    val clone = spark.newSession()
    assert(clone.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(Tables.table(clone, nanosDir, "events").schema("ts").dataType ==
      TimestampType)
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
