package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
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
  * Scale shape:
  *  - gz/bz2 archives (the production layout — web archives ship as
  *    thousands of compressed members) take one partition per file;
  *    parallelism = file count, as in the reference corpus.
  *  - plain files split at the size [[FileSplits]] derives from the input
  *    and the session (or at `maxSplitBytes`): a partition parses records
  *    whose version line STARTS in its byte range, scanning forward from
  *    the range start to the first `\r\n\r\nWARC/` boundary and reading
  *    past the range end to finish its last record — the same split rule
  *    as the wikirev source. (The boundary marker could in principle
  *    occur inside an uncompressed body that itself embeds a WARC; the
  *    reference's line-oriented scan shares the limitation.)
  *  - column pruning skips body ALLOCATION for header-only scans, and a
  *    pushed `warc_type = '…'` equality skips non-matching records
  *    before their block bytes are decoded (I/O still seeks past them).
  */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcSchema.full
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarcTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

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

class WarcTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"warc(${props.getOrElse("path", "?")})"
  override def schema(): StructType = WarcSchema.full
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(props ++ options.asScala)
}

class WarcScanBuilder(props: Map[String, String]) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = WarcSchema.full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("warc_type", _) => true
      case _ => false
    }
    filters // residual: pushdown only skips record materialization
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new WarcScan(props, required, pushed)
}

class WarcScan(props: Map[String, String], required: StructType,
               pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private def hadoopConf: Configuration =
    SparkSession.active.sessionState.newHadoopConf()

  override def planInputPartitions(): Array[InputPartition] = {
    val path = props.getOrElse("path",
      throw new IllegalArgumentException("warc: 'path' option is required"))
    val spark = SparkSession.active
    val conf = hadoopConf
    val files = FileSplits.list(FileSystem.get(new java.net.URI(path), conf), path)
    val maxSplit = FileSplits.maxSplitBytes(spark, props,
      files.map(_.getLen).sum, FileSplits.plainFloor(spark))
    // splittability must agree with the reader's codec detection: the
    // reader decompresses whole-stream whenever CompressionCodecFactory
    // recognizes the file, so a codec file (.gz/.bz2/.deflate/…) split
    // here would be read in full by EVERY byte-range partition
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    files.flatMap { st =>
      val p = st.getPath.toString
      if (codecs.getCodec(st.getPath) != null)
        Seq(WarcInputPartition(p, 0L, Long.MaxValue))
      else FileSplits.ranges(st.getLen, maxSplit)
        .map { case (s, e) => WarcInputPartition(p, s, e) }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val typeFilter = pushed.collectFirst {
      case EqualTo("warc_type", v) => v.toString
    }
    new WarcReaderFactory(required.fieldNames, typeFilter,
      new org.apache.spark.util.SerializableConfiguration(hadoopConf))
  }
}

case class WarcInputPartition(path: String, start: Long, end: Long)
  extends InputPartition

class WarcReaderFactory(fields: Array[String], typeFilter: Option[String],
                        conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WarcInputPartition]
    new WarcPartitionReader(p, fields, typeFilter, conf.value)
  }
}

/** Streams one partition's records. Record grammar (ISO 28500 §4):
  * version line, `Name: value` header lines (CRLF), blank line,
  * `Content-Length` block bytes, then blank separator lines before the
  * next version line. */
class WarcPartitionReader(part: WarcInputPartition, fields: Array[String],
                          typeFilter: Option[String], conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val fs = FileSystem.get(new java.net.URI(part.path), conf)
  private val raw = fs.open(new Path(part.path))
  private val codec =
    new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
      .getCodec(new Path(part.path))
  private val in: java.io.InputStream = {
    if (codec != null) new java.io.BufferedInputStream(
      codec.createInputStream(raw), 1 << 16)
    else {
      if (part.start > 0) raw.seek(part.start)
      new java.io.BufferedInputStream(raw, 1 << 16)
    }
  }
  /** Bytes consumed from `in` (uncompressed stream position relative to
    * part.start for plain files). */
  private var consumed: Long = 0L
  private var aligned = part.start == 0 || codec != null
  private var row: InternalRow = _
  private var done = false

  private def needed(f: String): Boolean = fields.contains(f)

  /** Read one byte; -1 at EOF. */
  private def read1(): Int = { val b = in.read(); if (b >= 0) consumed += 1; b }

  /** Read a line as ISO-8859-1 (headers are ASCII; 8859-1 is lossless on
    * arbitrary bytes), stripping the trailing CR; null at EOF. */
  private def readLine(): String = {
    val sb = new java.lang.StringBuilder(64)
    var b = read1()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { sb.append(b.toChar); b = read1() }
    val n = sb.length()
    if (n > 0 && sb.charAt(n - 1) == '\r') sb.setLength(n - 1)
    sb.toString
  }

  private def readFully(len: Long, keep: Boolean): Array[Byte] = {
    if (!keep) {
      var left = len
      while (left > 0) {
        val skipped = in.skip(left)
        if (skipped > 0) { consumed += skipped; left -= skipped }
        else if (read1() < 0) left = 0 // EOF inside a truncated block
        else left -= 1
      }
      null
    } else {
      val out = new Array[Byte](len.toInt)
      var off = 0
      while (off < len) {
        val n = in.read(out, off, len.toInt - off)
        if (n < 0) return java.util.Arrays.copyOf(out, off) // truncated
        consumed += n; off += n
      }
      out
    }
  }

  private var pendingVersion: String = _
  private var pendingVersionStart: Long = 0L

  /** Scan forward from the split start to the first record boundary
    * strictly after it: a `WARC/` version line preceded by a blank line.
    * (Hadoop split convention — a partition owns records whose version
    * line starts in (start, end]; the previous partition reads past its
    * end to finish, so a record is parsed exactly once.) */
  private def align(): Boolean = {
    var prevBlank = false
    var found = false
    while (!found) {
      val lineStart = consumed
      val line = readLine()
      if (line == null) return false
      if (prevBlank && line.startsWith("WARC/")) {
        pendingVersion = line; pendingVersionStart = lineStart; found = true
      } else prevBlank = line.isEmpty
    }
    true
  }

  /** Next record's version line and its start offset (relative to the
    * stream start), skipping separator blank lines. */
  private def nextVersionLine(): (String, Long) = {
    if (pendingVersion != null) {
      val v = (pendingVersion, pendingVersionStart); pendingVersion = null
      return v
    }
    var lineStart = consumed
    var line = readLine()
    while (line != null && line.isEmpty) { lineStart = consumed; line = readLine() }
    (line, lineStart)
  }

  override def next(): Boolean = {
    if (done) return false
    if (!aligned) { aligned = true; if (!align()) { done = true; return false } }
    var out: InternalRow = null
    while (out == null && !done) {
      val (version, vStart) = nextVersionLine()
      if (version == null || !version.startsWith("WARC/") ||
          (codec == null && part.end != Long.MaxValue &&
            part.start + vStart > part.end)) {
        done = true
      } else {
        val headers = scala.collection.mutable.LinkedHashMap.empty[String, String]
        var line = readLine()
        while (line != null && line.nonEmpty) {
          val i = line.indexOf(':')
          if (i > 0) headers.put(line.substring(0, i).trim,
            line.substring(i + 1).trim)
          line = readLine()
        }
        def h(name: String): String =
          headers.collectFirst {
            case (k, v) if k.equalsIgnoreCase(name) => v
          }.orNull
        // a malformed length would desync the whole record scan (every
        // later record in the partition parses garbage), so fail loudly
        // naming the file/record rather than throwing a bare
        // NumberFormatException/NegativeArraySizeException deep in the task
        val len = Option(h("Content-Length")) match {
          case None => 0L
          case Some(v) =>
            val n = try v.trim.toLong catch {
              case _: NumberFormatException => -1L
            }
            if (n < 0 || n > Int.MaxValue)
              throw new IllegalArgumentException(
                s"warc: invalid Content-Length '$v' for record " +
                s"${h("WARC-Record-ID")} in ${part.path}")
            n
        }
        val wtype = h("WARC-Type")
        val skip = typeFilter.exists(t => wtype == null || wtype != t)
        val body = readFully(len, keep = !skip && needed("body"))
        if (!skip) {
          def s(v: String): UTF8String =
            if (v == null) null else UTF8String.fromString(v)
          val values = fields.map {
            case "file" => s(part.path)
            case "record_id" => s(h("WARC-Record-ID"))
            case "trec_id" => s(h("WARC-TREC-ID"))
            case "warc_type" => s(wtype)
            case "target_uri" => s(h("WARC-Target-URI"))
            case "content_type" => s(h("Content-Type"))
            case "content_length" => java.lang.Long.valueOf(len)
            case "headers" => new ArrayBasedMapData(
              new GenericArrayData(headers.keys.map(UTF8String.fromString).toArray[Any]),
              new GenericArrayData(headers.values.map(UTF8String.fromString).toArray[Any]))
            case "body" => body
            case other => throw new IllegalArgumentException(s"warc: $other")
          }
          out = InternalRow.fromSeq(values.toIndexedSeq)
        }
      }
    }
    row = out
    out != null
  }

  override def get(): InternalRow = row
  override def close(): Unit = { in.close() }
}
