package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._

/** DataSource V2 for MediaWiki full-revision-history XML dumps — the
  * Spark-native rebuild of the reference's custom input formats
  * (SURVEY.md §2.1 S1-S4/S9-S11/S16):
  *
  *  - the shared split-file source ([[SplitFormat]]) plans the ranges and
  *    opens them: plain files and bz2 blocks split at the size
  *    [[FileSplits]] derives from the input and the session, other codecs
  *    take one partition per file; a partition parses the pages whose
  *    `<page>` tag it owns ([[SplitStream.owns]]) and may read past the
  *    range end to finish the last page;
  *  - filter pushdown short-circuits parsing: namespace / redirect skips
  *    abandon a page before touching its revisions
  *    (WikiRevisionPageInputFormat.java:287-295,
  *    DefaultRevisionETLReader.java:149-155,215-221), time-range skips
  *    drop a revision right after its header
  *    (WikiRevisionPageInputFormat.java:139-148);
  *  - column pruning skips text capture entirely for header-only reads
  *    (the reference needed a separate input format for that,
  *    io/etl/RevisionIdsFormat.java:76-160);
  *  - a scan that reads one file and projects `page_id` tells the planner
  *    its partitions are clustered on `page_id` ([[FileScan.clusteredBy]],
  *    [[ClusterScans]]): a partition owns whole `<page>` blocks and a
  *    dump holds each page once, so the sampler, the lag window and
  *    per-page aggregates run in the scan's own stage, with a local sort
  *    and no exchange, as the reference's map-only extractors do
  *    (FastExtractTemporalAnchorText). A glob over several files makes
  *    no claim and shuffles.
  *
  * Options: `onlyArticles`, `skipRedirects` (booleans), `beginTime`,
  * `endTime` (ISO-8601, half-open range), `maxSplitBytes` (overrides the
  * derived split size), `splitIndex` (page-offset index, see IndexSplits).
  * Pushed-down filters equivalent to those options are honored too
  * ([[WikiRevisionFormat.pushable]]).
  */
class WikiRevisionDataSource extends SplitFileProvider(WikiRevisionFormat)

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

/** Serializable pushdown config resolved from options + catalyst filters. */
case class WikiRevisionPushdown(onlyArticles: Boolean, skipRedirects: Boolean,
                                beginMicros: Long, endMicros: Long)

object WikiRevisionFormat extends SplitFormat[WikiRevisionPushdown] {
  val name = "wikirev"
  val clusterKey: Option[String] = Some("page_id")
  def schema(props: Map[String, String]): StructType = WikiRevisionSchema.forOptions(props)

  private def isoMicros(s: String): Long = java.time.Instant.parse(s).toEpochMilli * 1000L

  def options(props: Map[String, String]): WikiRevisionPushdown = WikiRevisionPushdown(
    props.get("onlyArticles").exists(_.toBoolean),
    props.get("skipRedirects").exists(_.toBoolean),
    props.get("beginTime").map(isoMicros).getOrElse(Long.MinValue),
    props.get("endTime").map(isoMicros).getOrElse(Long.MaxValue))

  /** Namespace and redirect skips abandon a page before its revisions are
    * parsed; time bounds drop a revision right after its header. */
  val pushable: PartialFunction[Filter, WikiRevisionPushdown => WikiRevisionPushdown] = {
    case EqualTo("page_namespace", 0) => _.copy(onlyArticles = true)
    case EqualTo("redirect", false) => _.copy(skipRedirects = true)
    case GreaterThanOrEqual("timestamp", v) =>
      p => p.copy(beginMicros = math.max(p.beginMicros, toMicros(v)))
    case LessThan("timestamp", v) =>
      p => p.copy(endMicros = math.min(p.endMicros, toMicros(v)))
  }

  private def toMicros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case s => isoMicros(s.toString)
  }

  def reader(in: SplitStream, fields: Array[String],
             push: WikiRevisionPushdown): PartitionReader[InternalRow] =
    new WikiRevisionPartitionReader(in, fields, push)

  /** The `splitIndex` option (S19): partition boundaries land exactly on
    * `<page>` tags, so no bytes are parsed twice across partitions.
    *
    * The index is aggregated IN SPARK down to ~one range start per split
    * (min page offset per file × size bucket) before the driver collects
    * it: planning memory is O(fileBytes / split), not O(pages). A full
    * enwiki history index (~60M page offsets) would otherwise be GBs of
    * driver heap; the aggregate is a few thousand range starts. Buckets
    * with no page start simply merge into the previous range. */
  override def plainStarts(spark: SparkSession, props: Map[String, String],
                           plainSplit: Long): Map[String, Seq[Long]] =
    props.get("splitIndex").map { ip =>
      import org.apache.spark.sql.functions.{col, expr, min}
      spark.read.parquet(ip)
        .groupBy(col("file_name"), expr(s"offset div $plainSplit").as("bucket"))
        .agg(min(col("offset")).as("start"))
        .select("file_name", "start")
        .collect()
        .groupBy(_.getString(0))
        .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSeq.sorted }
    }.getOrElse(Map.empty)
}
