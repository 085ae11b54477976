package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Facade over the engine's revision sources (SURVEY §2.1).
  *
  *  - `read`: the custom page-boundary XML source (S1-S4).
  *  - `readJson`: the JSON-lines flattening of the same data (S15) —
  *    `spark.read.json` with the canonical explicit schema, exactly the
  *    built-in path the reference's gson reader hand-rolled
  *    (experiments io/input/WikiFullRevisionJsonInputFormat.java:44-190).
  *  - `readHeaders`: header-only projection (S11/S16) — column pruning
  *    reaches the scan, so text is never captured.
  *  - `fileNames`: one row per file path (S17,
  *    io/input/FileNullInputFormat.java:19-76).
  */
object WikiXml {

  val jsonSchema: StructType = StructType(Seq(
    StructField("page_id", LongType),
    StructField("page_title", StringType),
    StructField("page_namespace", IntegerType),
    StructField("rev_id", LongType),
    StructField("parent_id", LongType),
    StructField("timestamp", LongType), // epoch millis in the JSON dumps
    StructField("user", StringType),
    StructField("user_id", LongType),
    StructField("comment", StringType),
    StructField("text", StringType)))

  def read(spark: SparkSession, path: String,
           options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("wikirev").options(options).load(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(jsonSchema).json(path)

  /** S2: per-revision verbatim `<revision>…</revision>` XML plus page
    * context (reference: io/input/WikiRevisionTextInputFormat.java:17-296) —
    * the escape hatch for downstream parsers that want the dump bytes, with
    * the same page-boundary splits and pushdown as the typed scan. */
  def readRaw(spark: SparkSession, path: String,
              options: Map[String, String] = Map.empty): DataFrame =
    read(spark, path, options + ("rawXml" -> "true"))

  def readHeaders(spark: SparkSession, path: String,
                  options: Map[String, String] = Map.empty): DataFrame =
    read(spark, path, options)
      .select("page_id", "page_title", "page_namespace", "rev_id",
        "parent_id", "timestamp", "minor", "redirect")

  def fileNames(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileSplits.list(fs, path).map(_.getPath.toString).toSeq.toDF("file_name")
  }
}
