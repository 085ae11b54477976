package graft.sources

import java.io.InputStream
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.{CodecPool, CompressionCodecFactory, Decompressor,
  SplitCompressionInputStream, SplittableCompressionCodec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** What one split-file format (`wikirev`, `warc`) supplies to the shared
  * source, the counterpart of the reference's one abstract input format
  * (io/input/WikiRevisionInputFormat.java:66-333). Everything else (file
  * listing, split planning by codec, opening a byte range and deciding
  * which partition owns a record) is this file's, once for both formats.
  * `P` is the reader's pushdown state. */
abstract class SplitFormat[P] extends Serializable {
  def name: String
  def schema(props: Map[String, String]): StructType
  /** The pushdown state the options alone give. */
  def options(props: Map[String, String]): P
  /** The filters the reader acts on, each as its effect on the state: the
    * scan reports exactly these as pushed. All filters stay residual, so
    * pushdown only skips work and never changes results. */
  def pushable: PartialFunction[Filter, P => P]
  def reader(in: SplitStream, fields: Array[String], push: P): PartitionReader[InternalRow]
  /** The column whose every value sits in one record block, when the
    * format has one: a scan of one file then holds each value in one
    * partition ([[FileScan.clusteredBy]]). */
  def clusterKey: Option[String]
  /** Per plain file, range starts that replace the fixed-size ranges of a
    * file longer than `plainSplit` (wikirev's split index); none here. */
  def plainStarts(spark: SparkSession, props: Map[String, String],
                  plainSplit: Long): Map[String, Seq[Long]] = Map.empty
}

/** A format's `TableProvider`: its short name, schema and table. */
abstract class SplitFileProvider[P](format: SplitFormat[P])
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema(options.asScala.toMap)
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new FileTable(format, properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

class FileTable[P](format: SplitFormat[P], props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"${format.name}(${props.getOrElse("path", "?")})"
  override def schema(): StructType = format.schema(props)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileScanBuilder(format, props ++ options.asScala)
}

class FileScanBuilder[P](format: SplitFormat[P], props: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = format.schema(props)
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(format.pushable.isDefinedAt)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new FileScan(format, props, required, pushed)
}

class FileScan[P](format: SplitFormat[P], props: Map[String, String],
                  required: StructType, pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Session Hadoop conf (fs credentials, defaultFS, …), resolved on the
    * driver and shipped to the readers. */
  private def hadoopConf: Configuration = SparkSession.active.sessionState.newHadoopConf()

  /** Byte ranges by codec, at the size [[FileSplits]] derives: plain files
    * split freely, bz2 by compression block (BYBLOCK ranges over the
    * compressed bytes, floored at the largest block), and every other
    * codec (gz, deflate, …) decompresses sequentially, so its file is one
    * partition. [[SplitStream]] opens a range by the same codec lookup.
    * Planned once per scan. */
  private lazy val ranges: Array[FileRange] = {
    val path = props.getOrElse("path",
      throw new IllegalArgumentException(s"${format.name}: 'path' option is required"))
    val spark = SparkSession.active
    val conf = hadoopConf
    val files = FileSplits.list(new Path(path).getFileSystem(conf), path)
    val totalBytes = files.map(_.getLen).sum
    val plainSplit = FileSplits.maxSplitBytes(spark, props, totalBytes,
      FileSplits.plainFloor(spark))
    val blockSplit = FileSplits.maxSplitBytes(spark, props, totalBytes,
      FileSplits.Bzip2MaxBlock)
    val starts = format.plainStarts(spark, props, plainSplit)
    val codecs = new CompressionCodecFactory(conf)
    files.flatMap { st =>
      val p = st.getPath.toString
      val ranges = codecs.getCodec(st.getPath) match {
        case null => starts.get(p) match {
          case Some(s) if s.nonEmpty && st.getLen > plainSplit => s.zip(s.tail :+ Long.MaxValue)
          case _ => FileSplits.ranges(st.getLen, plainSplit)
        }
        case _: SplittableCompressionCodec => FileSplits.ranges(st.getLen, blockSplit)
        case _ => Seq((0L, Long.MaxValue))
      }
      ranges.map { case (s, e) => FileRange(p, s, e) }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = ranges.toArray[InputPartition]

  /** The format's cluster key and the one file read, when the key is
    * projected and every range is of that file. Each record block is then
    * owned by one range ([[SplitStream.owns]]), so each key value is in
    * one partition, given that the file holds each value in one block
    * (a dump holds each page, and so each page id, once). A scan of
    * several files never claims it: the same page may sit in two. */
  def clusteredBy: Option[(String, String)] =
    format.clusterKey.filter(required.fieldNames.contains).flatMap { key =>
      ranges.map(_.path).distinct match {
        case Array(file) => Some((key, file))
        case _ => None
      }
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new FileReaderFactory(format, required.fieldNames,
      pushed.foldLeft(format.options(props))((p, f) => format.pushable(f)(p)),
      new SerializableConfiguration(hadoopConf))
}

class FileReaderFactory[P](format: SplitFormat[P], fields: Array[String], push: P,
                           conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    format.reader(new SplitStream(partition.asInstanceOf[FileRange], conf.value), fields, push)
}

/** One partition: bytes `[start, end)` of `path`; `end = Long.MaxValue`
  * reads to the end of the file. */
case class FileRange(path: String, start: Long, end: Long) extends InputPartition

/** One range's bytes, scanned through one read buffer, and the rule for
  * which records the range owns.
  *
  * Three stream modes, keyed on the planner's codec lookup:
  *  - plain: seek to `start`; a record is owned when its first byte lies
  *    before `end` (the reader skips to its first record boundary at or
  *    after `start`, and reads past `end` to finish its last record: the
  *    reference's split rule, io/input/WikiRevisionInputFormat.java:230-317);
  *  - bz2 with a finite `end`: a BYBLOCK SplitCompressionInputStream, which
  *    self-aligns to the first compression block of the range; a record is
  *    owned when the block holding its first byte starts at a compressed
  *    position `<= end`, so a record whose first byte opens the next
  *    range's first block is that range's, which reads it from its start;
  *  - any other codec, or a bz2 file read whole: decompress from the
  *    start and own everything.
  *
  * The buffer is refilled only when the scanner needs its next byte. The
  * split bz2 stream stops a read at a block end and advances its position
  * with the read that returns the next block's first byte, so every fill
  * holds bytes of one block.
  *
  * Tag matching: the one-state fallback on a mismatch is exact KMP for
  * tags whose first byte does not recur in them (`<page>`, `</page>`, a
  * newline).
  */
final class SplitStream(range: FileRange, conf: Configuration) {
  val path: String = range.path
  val start: Long = range.start
  private val end = range.end
  private val codec = new CompressionCodecFactory(conf).getCodec(new Path(path))
  private var decompressor: Decompressor = _

  private val (in, split): (InputStream, SplitCompressionInputStream) = {
    val p = new Path(path)
    val raw = FileSystem.get(p.toUri, conf).open(p)
    codec match {
      case null =>
        if (start > 0) raw.seek(start)
        (raw, null)
      case sc: SplittableCompressionCodec if end != Long.MaxValue =>
        decompressor = CodecPool.getDecompressor(sc)
        val cin = sc.createInputStream(raw, decompressor, start, end,
          SplittableCompressionCodec.READ_MODE.BYBLOCK)
        (cin, cin)
      case c => (c.createInputStream(raw), null)
    }
  }

  /** Whether the file is read through a codec. */
  def compressed: Boolean = codec != null

  // bytes consumed: the absolute offset in a plain file, the decompressed
  // count otherwise
  private var pos: Long = if (codec == null) start else 0L
  def position: Long = pos

  // split bz2: the compressed position of the block being read and of the
  // one before it, and the offset of the current block's first byte
  private var blockPos: Long = if (split == null) 0L else split.getPos
  private var prevBlockPos: Long = blockPos
  private var blockFrom: Long = 0L

  /** Whether this range owns the record whose first byte is at
    * `recordStart`, a byte of the current or the previous block. */
  def owns(recordStart: Long): Boolean =
    if (split != null) (if (recordStart >= blockFrom) blockPos else prevBlockPos) <= end
    else recordStart < end

  private val buf = new Array[Byte](1 << 16)
  private var bufPos = 0
  private var bufLen = 0
  // bytes of the latest capture; grows to the range's largest record
  private var cap = new Array[Byte](1 << 16)
  private var capLen = 0
  private val Newline = Array[Byte]('\n')

  /** True when `buf` has an unconsumed byte, refilling it if drained;
    * false at EOF. */
  private def fill(): Boolean = {
    if (bufPos < bufLen) return true
    val n = in.read(buf, 0, buf.length)
    bufPos = 0
    bufLen = math.max(n, 0)
    if (split != null && split.getPos != blockPos) {
      prevBlockPos = blockPos
      blockPos = split.getPos
      blockFrom = pos
    }
    n > 0
  }

  /** Consume `buf` until `tag` is complete or the buffer is drained,
    * continuing a partial match of `matched` bytes; the new match length. */
  private def scan(tag: Array[Byte], matched: Int): Int = {
    var i = matched
    var j = bufPos
    while (j < bufLen && i < tag.length) {
      val b = buf(j)
      j += 1
      if (b == tag(i)) i += 1
      else i = if (b == tag(0)) 1 else 0
    }
    pos += j - bufPos
    bufPos = j
    i
  }

  /** Consume until `tag` fully matched; the position of its first byte,
    * or -1 at EOF. */
  def seek(tag: Array[Byte]): Long = {
    var i = 0
    while (fill()) {
      i = scan(tag, i)
      if (i == tag.length) return pos - tag.length
    }
    -1L
  }

  /** Capture bytes until `tag` matched (tag excluded); false at EOF.
    * Every consumed byte is copied, so a partial tag match that fails is
    * already content; a full match drops the tag's bytes. */
  def captureUntil(tag: Array[Byte]): Boolean = {
    capLen = 0
    var i = 0
    while (fill()) {
      val from = bufPos
      i = scan(tag, i)
      val n = bufPos - from
      if (capLen + n > cap.length)
        cap = java.util.Arrays.copyOf(cap, math.max(cap.length * 2, capLen + n))
      System.arraycopy(buf, from, cap, capLen, n)
      capLen += n
      if (i == tag.length) { capLen -= tag.length; return true }
    }
    false
  }

  /** The latest capture, decoded. */
  def captured(cs: Charset): String = new String(cap, 0, capLen, cs)

  /** The next line without its LF or CRLF, as ISO-8859-1 (lossless on any
    * byte); null at EOF. */
  def readLine(): String = {
    if (!captureUntil(Newline) && capLen == 0) return null
    if (capLen > 0 && cap(capLen - 1) == '\r') capLen -= 1
    captured(ISO_8859_1)
  }

  /** Consume `n` bytes: a new array of them when `keep` (shorter when the
    * file ends first), else null. */
  def take(n: Long, keep: Boolean): Array[Byte] = {
    val out = if (keep) new Array[Byte](n.toInt) else null
    var got = 0L
    while (got < n && fill()) {
      val k = math.min(n - got, (bufLen - bufPos).toLong).toInt
      if (keep) System.arraycopy(buf, bufPos, out, got.toInt, k)
      bufPos += k
      pos += k
      got += k
    }
    if (keep && got < n) java.util.Arrays.copyOf(out, got.toInt) else out
  }

  def close(): Unit = {
    in.close()
    if (decompressor != null) {
      CodecPool.returnDecompressor(decompressor)
      decompressor = null
    }
  }
}
