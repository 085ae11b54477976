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

  /** Layout-compat confs, applied on every load so timestamp typing is
    * deterministic regardless of which table a session touches first:
    * nanosAsLong surfaces legacy TIMESTAMP(NANOS) files as int64 instead
    * of erroring; inferTimestampNTZ=false reads µs timestamps written
    * with isAdjustedToUTC=false as TimestampType (session tz is UTC
    * everywhere, so values are identical) — keeping filter pushdown and
    * the engine's historical timestamp semantics. */
  private def compatConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    compatConfs(spark)
    if (name == "events") {
      // The events table has shipped in two layouts: TIMESTAMP(NANOS)
      // (which Spark's reader rejects unless surfaced as raw int64 via
      // nanosAsLong) and a standard µs timestamp. Adapt to whichever is
      // on disk instead of assuming one.
      //  - nanosAsLong=true: a nanos file reads as LongType; truncate to
      //    µs (`div`, not `/` — epoch-nanos exceed double's 2^53 range).
      //    Pushdown cost: `ts` predicates can't reach the scan; the
      //    [[eventsMicros]] rewrite restores that.
      //  - inferTimestampNTZ=false: a µs file without isAdjustedToUTC
      //    reads as TimestampType (session tz is UTC everywhere), keeping
      //    the pre-existing query semantics AND scan-level pushdown —
      //    no cast sits between the filter and the parquet scan.
      val raw = eventsRaw(spark, sfDir)
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // the session's NanosFilterRule makes `ts` comparisons on this
          // projected column derive pushable raw-nanos range filters —
          // row-group pruning works on the legacy layout without the
          // eventsMicros rewrite pass (pinned in PlanSpec)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => raw
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** True when the on-disk events table uses the legacy TIMESTAMP(NANOS)
    * layout (surfaced as int64 by nanosAsLong) rather than standard µs. */
  def eventsIsNanos(spark: SparkSession, sfDir: String): Boolean =
    eventsRaw(spark, sfDir).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType

  /** Raw events read with both layout-compat confs set; `ts` comes back
    * as LongType (nanos file) or TimestampType (µs file). */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    compatConfs(spark)
    spark.read.parquet(s"$sfDir/events.parquet")
  }

  /** Register every test table as a temp view (S18 loader surface). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))

  /** µs-timestamp variant of the events table: rewrites the
    * TIMESTAMP(NANOS) parquet once per (JVM, sfDir) to a cached
    * TimestampType (µs) parquet and reads that. This is what a
    * production writer emits, and it restores the parquet row-group
    * pruning that the nanos workaround in [[table]] loses — `ts`
    * predicates reach PushedFilters again (pinned by a PlanSpec test).
    * The rewrite is one linear pass, amortized across every query in
    * the JVM. */
  def eventsMicros(spark: SparkSession, sfDir: String): DataFrame = {
    // the cache outlives the JVM (tmpdir + _SUCCESS gate), so the key must
    // change when the SOURCE changes, not just the path — fingerprint the
    // source parquet's file lengths+mtimes so a regenerated events table
    // can never be served stale µs data
    def fingerprint(f: java.io.File): Long = {
      val self = f.length ^ java.lang.Long.rotateLeft(f.lastModified, 21)
      val kids = Option(f.listFiles).getOrElse(Array.empty)
      kids.sortBy(_.getName).foldLeft(self) { (acc, k) =>
        java.lang.Long.rotateLeft(acc, 7) ^ fingerprint(k)
      }
    }
    // If the on-disk table is already µs-timestamped, the direct read IS
    // the production layout — pushdown works, no rewrite needed.
    val raw = eventsRaw(spark, sfDir)
    if (raw.schema("ts").dataType !=
        org.apache.spark.sql.types.LongType) return raw
    val src = new java.io.File(sfDir, "events.parquet")
    val key = Integer.toHexString(
      new java.io.File(sfDir).getAbsolutePath.hashCode) + "-" +
      java.lang.Long.toHexString(fingerprint(src))
    val dir = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), s"graft-events-us-$key")
    this.synchronized {
      if (!new java.io.File(dir, "_SUCCESS").exists())
        table(spark, sfDir, "events")
          .write.mode("overwrite").parquet(dir.toString)
    }
    spark.read.parquet(dir.toString)
  }
}
