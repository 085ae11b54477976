package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md) and the
  * engine's table-registration surface (SURVEY.md §2.1 S18: the reference
  * exposes its sources to Pig as named tables; here the equivalent is
  * registering DataFrames as temp views so `spark.sql` works over them).
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // The events table has shipped in two layouts: TIMESTAMP(NANOS)
    // (which Spark's reader rejects unless surfaced as raw int64 via
    // nanosAsLong) and a standard µs timestamp. Adapt to whichever is
    // on disk instead of assuming one; both layout confs are set once,
    // at session build ([[GraftSession.build]]).
    //  - nanosAsLong=true: a nanos file reads as LongType; truncate to
    //    µs (`div`, not `/` — epoch-nanos exceed double's 2^53 range).
    //    The session's NanosFilterRule makes `ts` comparisons on the
    //    projected column derive pushable raw-nanos range filters, so
    //    row-group pruning works on this layout too (LegacyLayoutSpec).
    //  - inferTimestampNTZ=false: a µs file without isAdjustedToUTC
    //    reads as TimestampType (session tz is UTC everywhere), keeping
    //    the pre-existing query semantics AND scan-level pushdown —
    //    no cast sits between the filter and the parquet scan.
    if (name == "events" && isNanos(df))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  private def isNanos(events: DataFrame): Boolean =
    events.schema("ts").dataType == org.apache.spark.sql.types.LongType

  /** True when the on-disk events table uses the legacy TIMESTAMP(NANOS)
    * layout (surfaced as int64 by nanosAsLong) rather than standard µs. */
  def eventsIsNanos(spark: SparkSession, sfDir: String): Boolean =
    isNanos(spark.read.parquet(s"$sfDir/events.parquet"))

  /** Register every test table as a temp view (S18 loader surface). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
