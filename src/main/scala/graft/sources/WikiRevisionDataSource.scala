package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 for MediaWiki full-revision-history XML dumps — the
  * Spark-native rebuild of the reference's custom input formats
  * (SURVEY.md §2.1 S1-S4/S9-S11/S16):
  *
  *  - files are split on `</page>` boundaries: each partition parses pages
  *    whose `<page>` tag *starts* inside its byte range and may read past
  *    the range end to finish the last page (the reference's split rule,
  *    io/input/WikiRevisionInputFormat.java:230-317);
  *  - the split size is derived from the input and the session
  *    ([[FileSplits]]: Spark's file-split rule over the total input bytes
  *    and the default parallelism), so a dump is scanned by every core;
  *  - bz2 files split by compression block (BYBLOCK ranges over the
  *    compressed bytes); other compressed files (gz, deflate, …) get one
  *    partition each, as their decompression is sequential;
  *  - filter pushdown short-circuits parsing: namespace / redirect skips
  *    abandon a page before touching its revisions
  *    (WikiRevisionPageInputFormat.java:287-295,
  *    DefaultRevisionETLReader.java:149-155,215-221), time-range skips
  *    drop a revision right after its header
  *    (WikiRevisionPageInputFormat.java:139-148);
  *  - column pruning skips text capture entirely for header-only reads
  *    (the reference needed a separate input format for that,
  *    io/etl/RevisionIdsFormat.java:76-160).
  *
  * Options: `onlyArticles`, `skipRedirects` (booleans), `beginTime`,
  * `endTime` (ISO-8601, half-open range), `maxSplitBytes` (overrides the
  * derived split size), `splitIndex` (page-offset index, see IndexSplits).
  * Pushed-down filters equivalent to those options are honored too; all
  * filters remain residual (Spark re-evaluates), so pushdown is purely an
  * I/O optimization and never changes results.
  */
class WikiRevisionDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "wikirev"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WikiRevisionSchema.forOptions(options.asScala.toMap)
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WikiRevisionTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object WikiRevisionSchema {
  /** The canonical 10-column relation + minor/redirect (SURVEY §1.3). */
  val full: StructType = StructType(Seq(
    StructField("page_id", LongType),
    StructField("page_title", StringType),
    StructField("page_namespace", IntegerType),
    StructField("rev_id", LongType),
    StructField("parent_id", LongType),
    StructField("timestamp", TimestampType),
    StructField("user", StringType),
    StructField("user_id", LongType),
    StructField("comment", StringType),
    StructField("text", StringType),
    StructField("minor", BooleanType),
    StructField("redirect", BooleanType)))

  /** S2 raw mode (`rawXml=true`): each revision as its verbatim
    * `<revision>…</revision>` dump substring plus page context — the
    * reference's text input format
    * (io/input/WikiRevisionTextInputFormat.java:17-296). */
  val raw: StructType = StructType(Seq(
    StructField("page_id", LongType),
    StructField("page_title", StringType),
    StructField("rev_id", LongType),
    StructField("timestamp", TimestampType),
    StructField("revision_xml", StringType)))

  def rawMode(props: Map[String, String]): Boolean =
    props.get("rawXml").exists(_.toBoolean)
  def forOptions(props: Map[String, String]): StructType =
    if (rawMode(props)) raw else full
}

class WikiRevisionTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"wikirev(${props.getOrElse("path", "?")})"
  override def schema(): StructType = WikiRevisionSchema.forOptions(props)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WikiRevisionScanBuilder(props ++ options.asScala)
}

class WikiRevisionScanBuilder(props: Map[String, String]) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = WikiRevisionSchema.forOptions(props)
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("page_namespace", _) => true
      case EqualTo("redirect", false) => true
      case GreaterThanOrEqual("timestamp", _) => true
      case LessThan("timestamp", _) => true
      case _ => false
    }
    filters // everything stays residual: pushdown only skips I/O
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new WikiRevisionScan(props, required, pushed)
}

class WikiRevisionScan(props: Map[String, String], required: StructType,
                       pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Session Hadoop conf (fs credentials, defaultFS, …) — resolved on the
    * driver, shipped to readers via SerializableConfiguration. */
  private def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  override def planInputPartitions(): Array[InputPartition] = {
    val path = props.getOrElse("path",
      throw new IllegalArgumentException("wikirev: 'path' option is required"))
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = hadoopConf
    val files = FileSplits.list(FileSystem.get(new java.net.URI(path), conf), path)
    val totalBytes = files.map(_.getLen).sum
    val plainSplit = FileSplits.maxSplitBytes(spark, props, totalBytes,
      FileSplits.plainFloor(spark))
    val blockSplit = FileSplits.maxSplitBytes(spark, props, totalBytes,
      FileSplits.Bzip2MaxBlock)
    // Optional precomputed page-offset index (S19): partition boundaries
    // land exactly on <page> tags — the reader's boundary scan starts at
    // a page, so no bytes are parsed twice across partitions.
    //
    // The index is aggregated IN SPARK down to ~one range start per
    // split (min page offset per file × size bucket) before the driver
    // collects it: planning memory is O(fileBytes / split), not
    // O(pages). A full enwiki history index (~60M page offsets) would
    // otherwise be GBs of driver heap; the aggregate is a few thousand
    // range starts. Buckets with no page start simply merge into the
    // previous range.
    val index: Map[String, Seq[Long]] = props.get("splitIndex").map { ip =>
      import org.apache.spark.sql.functions.{col, expr, min}
      spark.read.parquet(ip)
        .groupBy(col("file_name"), expr(s"offset div $plainSplit").as("bucket"))
        .agg(min(col("offset")).as("start"))
        .select("file_name", "start")
        .collect()
        .groupBy(_.getString(0))
        .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSeq.sorted }
    }.getOrElse(Map.empty)

    // splittability comes from the same codec lookup the reader uses to
    // open the file: a codec file split into byte ranges would be read
    // whole by every range
    val codecs = new CompressionCodecFactory(conf)
    files.flatMap { st =>
      val p = st.getPath.toString
      def ranges(maxSplit: Long) = FileSplits.ranges(st.getLen, maxSplit)
        .map { case (s, e) => WikiRevisionInputPartition(p, s, e) }
      codecs.getCodec(st.getPath) match {
        case null => index.get(p) match {
          case Some(starts) if starts.nonEmpty && st.getLen > plainSplit =>
            // consecutive page-aligned range starts → partitions; the last
            // range runs to EOF
            starts.zip(starts.tail :+ Long.MaxValue).map { case (s, e) =>
              WikiRevisionInputPartition(p, s, e)
            }
          case _ => ranges(plainSplit)
        }
        // bz2: BYBLOCK ranges over the compressed bytes
        case _: SplittableCompressionCodec => ranges(blockSplit)
        // gz, deflate, …: decompression is sequential, one partition
        case _ => Seq(WikiRevisionInputPartition(p, 0L, Long.MaxValue))
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WikiRevisionReaderFactory(required.fieldNames,
      WikiRevisionPushdown(props, pushed),
      new org.apache.spark.util.SerializableConfiguration(hadoopConf))
}

/** Serializable pushdown config resolved from options + catalyst filters. */
case class WikiRevisionPushdown(onlyArticles: Boolean, skipRedirects: Boolean,
                                beginMicros: Long, endMicros: Long)
object WikiRevisionPushdown {
  def apply(props: Map[String, String], pushed: Array[Filter]): WikiRevisionPushdown = {
    def toMicros(v: Any): Long = v match {
      case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
      case s => java.time.Instant.parse(s.toString).toEpochMilli * 1000L
    }
    var onlyArticles = props.get("onlyArticles").exists(_.toBoolean)
    var skipRedirects = props.get("skipRedirects").exists(_.toBoolean)
    var begin = props.get("beginTime")
      .map(s => java.time.Instant.parse(s).toEpochMilli * 1000L).getOrElse(Long.MinValue)
    var end = props.get("endTime")
      .map(s => java.time.Instant.parse(s).toEpochMilli * 1000L).getOrElse(Long.MaxValue)
    pushed.foreach {
      case EqualTo("page_namespace", 0) => onlyArticles = true
      case EqualTo("redirect", false) => skipRedirects = true
      case GreaterThanOrEqual("timestamp", v) => begin = math.max(begin, toMicros(v))
      case LessThan("timestamp", v) => end = math.min(end, toMicros(v))
      case _ =>
    }
    WikiRevisionPushdown(onlyArticles, skipRedirects, begin, end)
  }
}

class WikiRevisionReaderFactory(fields: Array[String], push: WikiRevisionPushdown,
                                conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[WikiRevisionInputPartition]
    new WikiRevisionPartitionReader(p, fields, push, conf.value)
  }
}

case class WikiRevisionInputPartition(path: String, start: Long, end: Long)
  extends InputPartition
