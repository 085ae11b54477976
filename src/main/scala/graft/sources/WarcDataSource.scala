package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for WARC web-archive files (ISO 28500) — the Spark-native
  * counterpart of the reference's ClueWeb09 Pig loader
  * (pig/load/ClueWeb09WarcLoader.java:31-127), which surfaces each archive
  * record as (docid, header map). Here the record is a typed row:
  *
  *   file, record_id (WARC-Record-ID), trec_id (WARC-TREC-ID — the
  *   ClueWeb docid the reference keys on), warc_type, target_uri,
  *   content_type, content_length, headers map<string,string>, body binary
  *
  * Format: each record is `WARC/x.y` + CRLF header lines + blank line +
  * `Content-Length` bytes of block, records separated by blank lines.
  * Both WARC 0.18 (ClueWeb09) and 1.x version lines parse; header names
  * are case-preserved in the map, matched case-insensitively for the
  * typed columns.
  *
  * Scale shape, from the shared split-file source ([[SplitFormat]]):
  *  - plain files, and bz2 archives by compression block, split at the
  *    size [[FileSplits]] derives from the input and the session (or at
  *    `maxSplitBytes`); gz, deflate and other codecs take one partition
  *    per file, so a corpus of compressed members (the production layout)
  *    gets one partition per member, as in the reference corpus;
  *  - a partition that starts mid-file skips to the first version line
  *    after a blank line, and reads past its range end to finish its last
  *    record. (The boundary could in principle occur inside an
  *    uncompressed body that itself embeds a WARC; the reference's
  *    line-oriented scan shares the limitation.)
  *  - column pruning skips body ALLOCATION for header-only scans, and a
  *    pushed `warc_type = '…'` equality skips non-matching records
  *    before their block bytes are decoded (I/O still reads past them).
  */
class WarcDataSource extends SplitFileProvider(WarcFormat)

object WarcSchema {
  val full: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("record_id", StringType),
    StructField("trec_id", StringType),
    StructField("warc_type", StringType),
    StructField("target_uri", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("body", BinaryType)))
}

/** Facade mirroring WikiXml. */
object Warc {
  def read(spark: SparkSession, path: String,
           options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("warc").options(options).load(path)
}

/** The warc format on the shared split-file source; the pushdown state is
  * the pushed `warc_type`. */
object WarcFormat extends SplitFormat[Option[String]] {
  val name = "warc"
  val clusterKey: Option[String] = None
  def schema(props: Map[String, String]): StructType = WarcSchema.full
  def options(props: Map[String, String]): Option[String] = None
  val pushable: PartialFunction[Filter, Option[String] => Option[String]] = {
    case EqualTo("warc_type", v) => _.orElse(Some(v.toString))
  }
  def reader(in: SplitStream, fields: Array[String],
             typeFilter: Option[String]): PartitionReader[InternalRow] =
    new WarcPartitionReader(in, fields, typeFilter)
}

/** The warc scan builder by name, for driving the connector directly. */
class WarcScanBuilder(props: Map[String, String]) extends FileScanBuilder(WarcFormat, props)

/** Streams one partition's records. Record grammar (ISO 28500 §4):
  * version line, `Name: value` header lines (CRLF), blank line,
  * `Content-Length` block bytes, then blank separator lines before the
  * next version line. */
class WarcPartitionReader(in: SplitStream, fields: Array[String],
                          typeFilter: Option[String])
    extends PartitionReader[InternalRow] {

  private val keepBody = fields.contains("body")
  // a range that starts mid-file starts inside some record
  private var aligned = in.start == 0
  private var row: InternalRow = _
  private var done = false

  /** Reads through the next owned record's version line; false at the
    * end of the range. Between records only blank lines may come first;
    * an unaligned range first skips to a version line after a blank line.
    * A record belongs to the range holding the newline before its version
    * line: (start, end] on the version line's offset, the Hadoop split
    * convention, so each record is parsed exactly once. */
  private def nextRecord(): Boolean = {
    var blank = aligned
    var at = in.position
    var line = in.readLine()
    while (line != null && !(blank && line.startsWith("WARC/"))) {
      if (aligned && line.nonEmpty) return false
      blank = line.isEmpty
      at = in.position
      line = in.readLine()
    }
    aligned = true
    line != null && in.owns(at - 1)
  }

  override def next(): Boolean = {
    row = null
    while (row == null && !done) {
      if (nextRecord()) row = record() else done = true
    }
    row != null
  }

  /** The record after its version line: header lines, a blank line, then
    * `Content-Length` block bytes; null when the type filter skips it. */
  private def record(): InternalRow = {
    val headers = mutable.LinkedHashMap.empty[String, String]
    var line = in.readLine()
    while (line != null && line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0) headers.put(line.substring(0, i).trim, line.substring(i + 1).trim)
      line = in.readLine()
    }
    def h(name: String): String =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }.orNull
    // a malformed length would desync the whole record scan (every later
    // record in the partition parses garbage), so fail loudly naming the
    // file/record rather than throwing a bare NumberFormatException or
    // NegativeArraySizeException deep in the task
    val len = Option(h("Content-Length")) match {
      case None => 0L
      case Some(v) =>
        val n = try v.trim.toLong catch { case _: NumberFormatException => -1L }
        if (n < 0 || n > Int.MaxValue)
          throw new IllegalArgumentException(
            s"warc: invalid Content-Length '$v' for record ${h("WARC-Record-ID")} in ${in.path}")
        n
    }
    val wtype = h("WARC-Type")
    val skip = typeFilter.exists(_ != wtype)
    val body = in.take(len, keep = keepBody && !skip)
    if (skip) return null
    def s(v: String): UTF8String = if (v == null) null else UTF8String.fromString(v)
    InternalRow.fromSeq(fields.toIndexedSeq.map {
      case "file" => s(in.path)
      case "record_id" => s(h("WARC-Record-ID"))
      case "trec_id" => s(h("WARC-TREC-ID"))
      case "warc_type" => s(wtype)
      case "target_uri" => s(h("WARC-Target-URI"))
      case "content_type" => s(h("Content-Type"))
      case "content_length" => len
      case "headers" => new ArrayBasedMapData(
        new GenericArrayData(headers.keys.map(UTF8String.fromString).toArray[Any]),
        new GenericArrayData(headers.values.map(UTF8String.fromString).toArray[Any]))
      case "body" => body
      case other => throw new IllegalArgumentException(s"warc: $other")
    })
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
