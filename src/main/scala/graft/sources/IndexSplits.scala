package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S19 — offline split-index job: the byte offset of every `<page>` tag
  * per dump file, distributed one task per file (the reference's
  * IndexSplits MapReduce job over FileNullInputFormat,
  * experiments mapreduce/IndexSplits.java:64-331). The index is an
  * ordinary parquet side table; `wikirev` consumes it via the
  * `splitIndex` option so partition planning aligns exactly on page
  * boundaries instead of scanning for them.
  * Compressed files yield no offsets: the planner splits them by codec
  * (bz2 by block, others not at all), never by decompressed offset.
  */
object IndexSplits {

  def scanOffsets(file: String,
                  conf: Configuration = new Configuration()): Seq[Long] = {
    val in = new SplitStream(FileRange(file, 0L, Long.MaxValue), conf)
    val tag = WikiRevisionPartitionReader.PageOpen
    try {
      if (in.compressed) Seq.empty
      else Iterator.continually(in.seek(tag)).takeWhile(_ >= 0).toVector
    } finally in.close()
  }

  /** (file_name, offset) rows — write with `GraftSinks.writeSplitIndex`.
    * The session Hadoop conf (fs credentials, defaultFS) ships to the
    * executor-side scans via SerializableConfiguration, same as the
    * wikirev reader factory. */
  def build(spark: SparkSession, path: String): DataFrame = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val offsetsUdf = udf((f: String) => scanOffsets(f, conf.value))
    WikiXml.fileNames(spark, path)
      .select(col("file_name"), explode(offsetsUdf(col("file_name"))).as("offset"))
  }
}
