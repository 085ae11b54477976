package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated test tables (TESTDATA.md) and the
  * engine's table-registration surface (SURVEY.md §2.1 S18: the reference
  * exposes its sources to Pig as named tables; here the equivalent is
  * registering DataFrames as temp views so `spark.sql` works over them).
  *
  * Every one-file table and every flat directory a builder writes and
  * reads back goes through [[parquet]]: the schema comes from one footer
  * read on the driver, so the read starts no Spark job. A plain
  * `spark.read.parquet` infers the schema in a one-task job (~60 ms on
  * 4 cores). Partitioned (`k=v`) directories, multi-path reads and
  * `mergeSchema` reads keep `spark.read.parquet`: they need Spark's
  * partition inference or schema merging.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$sfDir/$name.parquet")
    // The events table has shipped in two layouts: TIMESTAMP(NANOS)
    // (which Spark's reader rejects unless surfaced as raw int64 via
    // nanosAsLong) and a standard µs timestamp. Adapt to whichever is
    // on disk instead of assuming one; both layout confs are set once,
    // at session build ([[GraftSession.build]]).
    //  - nanosAsLong=true: a nanos file reads as LongType; truncate to
    //    µs (`div`, not `/` — epoch-nanos exceed double's 2^53 range).
    //    The session's NanosFilterRule makes `ts` comparisons on the
    //    projected column derive raw-nanos range filters that reach the
    //    scan's PushedFilters (LegacyLayoutSpec). Spark's parquet filter
    //    conversion has no TIMESTAMP(NANOS) case, so they prune no row
    //    group of a real nanos file; a plain int64 `ts` does prune.
    //  - inferTimestampNTZ=false: a µs file without isAdjustedToUTC
    //    reads as TimestampType (session tz is UTC everywhere), keeping
    //    the pre-existing query semantics AND scan-level pushdown —
    //    no cast sits between the filter and the parquet scan.
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** `spark.read.parquet(path)` for a parquet file or a flat directory of
    * them, with the schema read from one footer on the driver instead of
    * inferred in a Spark job. It is the schema inference would give:
    * the file's Spark schema when a Spark writer stored one, else its
    * parquet schema through the session's converter flags (nanosAsLong,
    * inferTimestampNTZ, binary-as-string, int96). In a directory the
    * footer is the first data file by path, names starting with `_` or
    * `.` skipped — Spark's rule when `mergeSchema` is off. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file = if (st.isFile) st else fs.listStatus(p)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet data file in $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Register every test table as a temp view (S18 loader surface). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    All.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
