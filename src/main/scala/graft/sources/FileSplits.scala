package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.compress.bzip2.BZip2Constants
import org.apache.spark.sql.SparkSession

/** Split planning shared by the file sources (`wikirev`, `warc`).
  *
  * The split size comes from the input and the session, by Spark's own
  * file-split rule (`FilePartition.maxSplitBytes`):
  *
  *   min(spark.sql.files.maxPartitionBytes,
  *       max(floor, ceil(totalBytes / parallelism)))
  *
  * where `totalBytes` is summed over every matched file, `parallelism` is
  * `spark.sql.files.minPartitionNum` when set, else the context's
  * `defaultParallelism`, and `floor` depends on the byte ranges: for plain
  * files it is `spark.sql.files.openCostInBytes`, for bzip2 it is the
  * format's largest block (a smaller range may hold no block start).
  * Small inputs therefore stay one partition, inputs above
  * `cores × maxPartitionBytes` split at `maxPartitionBytes`, and the ones
  * in between get about one range per core. A `maxSplitBytes` option
  * overrides the derived size.
  */
object FileSplits {

  /** Largest bzip2 block (level 9): 9 × 100,000 bytes. */
  val Bzip2MaxBlock: Long = 9L * BZip2Constants.baseBlockSize

  /** Files matched by `path`: a glob, a file, or a directory's files. */
  def list(fs: FileSystem, path: String): Array[FileStatus] =
    Option(fs.globStatus(new Path(path))).getOrElse(Array.empty).flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile) else Array(st)
    }

  /** The `maxSplitBytes` option if given, else the derived split size for
    * `totalBytes` of input with the given `floor`. */
  def maxSplitBytes(spark: SparkSession, props: Map[String, String],
                    totalBytes: Long, floor: Long): Long =
    props.get("maxSplitBytes").map(_.toLong).getOrElse {
      val conf = spark.sessionState.conf
      val parallelism = conf.filesMinPartitionNum
        .getOrElse(spark.sparkContext.defaultParallelism).toLong
      val perCore = (totalBytes + parallelism - 1) / parallelism
      math.min(conf.filesMaxPartitionBytes, math.max(floor, perCore))
    }

  /** Floor of the derived size for plain (uncompressed) byte ranges. */
  def plainFloor(spark: SparkSession): Long =
    spark.sessionState.conf.filesOpenCostInBytes

  /** `[start, end)` ranges over a file of `len` bytes: ⌈len / maxSplit⌉
    * ranges whose lengths differ by at most one byte, so no task is left
    * with a short tail while another reads a full range; a file that fits
    * in one range reads whole (`end = Long.MaxValue`). */
  def ranges(len: Long, maxSplit: Long): Seq[(Long, Long)] =
    if (len <= maxSplit) Seq((0L, Long.MaxValue))
    else {
      val n = (len + maxSplit - 1) / maxSplit
      val starts = (0L to n).map(i => i * (len / n) + math.min(i, len % n))
      starts.zip(starts.tail)
    }
}
