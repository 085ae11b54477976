package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftFunctions, GraftSession}
import graft.operators._
import graft.sources.{GraftSinks, WikiXml}

/** CLI parity entry points mirroring the reference's job names (SURVEY
  * §3): each is a thin `main` over the operator library, so a reference
  * user can run the same jobs by name. All accept `<input> <output>`.
  */
object Jobs {
  private[jobs] def session(): SparkSession = GraftSession.build()
}

/** Reference: mapreduce/Json2Anchor.java:25-96 — revisions JSON → one TSV
  * row per link with context, ordered by timestamp. */
object Json2Anchor {
  def run(spark: SparkSession, in: String, out: String): Unit = {
    val df = WikiXml.readJson(spark, in)
      .filter(col("page_namespace") === 0)
      .select(col("timestamp"), col("page_id"), col("rev_id"), col("parent_id"),
        explode(GraftFunctions.extractLinksCtx(col("text"))).as("l"))
      .select(col("timestamp"), col("page_id"), col("rev_id"), col("parent_id"),
        col("l.anchor"), col("l.target"), col("l.offset"))
      .orderBy("timestamp")
    GraftSinks.writeTsv(df, out)
  }
  def main(args: Array[String]): Unit =
    run(Jobs.session(), args(0), args(1))
}

/** Reference: experiments mapreduce/MaxTimestamp.java:54-99 — global max
  * timestamp, printed (counter-as-result equivalent). */
object MaxTimestamp {
  def run(spark: SparkSession, in: String): Option[Long] = {
    val row = WikiXml.readJson(spark, in).agg(max(col("timestamp"))).collect().head
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }
  def main(args: Array[String]): Unit =
    println(run(Jobs.session(), args(0)).map(_.toString).getOrElse("no timestamps"))
}

/** Reference: mapreduce/BuildDictionary.java:82-229 — term dictionary with
  * df-rank ids over a (doc_id, text) parquet table. */
object BuildDictionary {
  def run(spark: SparkSession, in: String, out: String, minDf: Long = 1L): Unit =
    GraftSinks.writeDictionary(
      TermOps.dictionary(spark.read.parquet(in), "doc_id", "text", minDf), out)
  def main(args: Array[String]): Unit =
    run(Jobs.session(), args(0), args(1),
      if (args.length > 2) args(2).toLong else 1L)
}

/** Reference: mapreduce/PreprocessEZPageviews.java:27-36 — pagecounts-ez
  * lines → per-title dense daily vectors. */
object PreprocessEZPageviews {
  def run(spark: SparkSession, in: String, out: String, days: Int): Unit =
    GraftSinks.writeParquet(
      PageviewOps.pipeline(spark.read.text(in).toDF("value"), days), out)
  def main(args: Array[String]): Unit =
    run(Jobs.session(), args(0), args(1), args(2).toInt)
}

/** J6 — the full `match_wikistats` chain (reference:
  * etc/match_wikistats.sh:34-41 + python/local_redirect.py:12-36):
  * pagecounts-ez lines → per-title daily vectors (PageviewOps.pipeline) →
  * redirect resolution (left join + coalesce, re-merging titles that
  * resolve to the same target) → re-aggregate → title→page_id join.
  *
  * Scale stance: redirect and id maps are dimension tables (≤ tens of
  * millions of rows) → broadcast joins, so the only shuffles are the two
  * title aggregations, both with map-side partial aggregation.
  */
object MatchWikistats {
  import graft.functions.IntVectorSum

  def chain(lines: DataFrame, redirects: DataFrame, idmap: DataFrame,
            days: Int): DataFrame = {
    val pv = PageviewOps.pipeline(lines, days)
    val resolved = pv
      .join(broadcast(redirects), pv("title") === redirects("src_title"), "left")
      .select(coalesce(col("dst_title"), pv("title")).as("title"),
        col("total"), col("daily"))
      .groupBy(col("title"))
      .agg(sum(col("total")).as("total"),
        udaf(IntVectorSum).apply(col("daily")).as("daily"))
    resolved.join(broadcast(idmap), resolved("title") === idmap("rtitle"))
      .select(col("page_id"), resolved("title"), col("total"), col("daily"))
  }

  /** `<pv-lines> <redirect-tsv src dst> <idmap-tsv title id> <days> <out>` */
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session()
    val redirects = spark.read.option("sep", "\t")
      .schema("src_title STRING, dst_title STRING").csv(args(1))
    val idmap = spark.read.option("sep", "\t")
      .schema("rtitle STRING, page_id BIGINT").csv(args(2))
    GraftSinks.writeParquet(
      chain(spark.read.text(args(0)).toDF("value"), redirects, idmap,
        args(3).toInt), args(4))
  }
}

/** Reference: mapreduce/FastExtractTemporalAnchorText.java — sampled
  * anchor extraction over revision XML with the ETL change-ratio
  * semantics. */
object ExtractTemporalAnchorText {
  /** The anchor rows: over one dump file, read, sampler and link
    * extraction run in one stage with no exchange, as the reference's
    * map-only job does. */
  def frame(spark: SparkSession, in: String): DataFrame = {
    val revs = WikiXml.read(spark, in,
        Map("onlyArticles" -> "true", "skipRedirects" -> "true"))
      .withColumn("len", length(col("text")).cast("double"))
    val sampled = RevisionOps.changeRatioSample(revs, "page_id", "timestamp",
      "len", minLen = 10.0)
    sampled
      .select(col("timestamp"), col("page_id"), col("rev_id"), col("parent_id"),
        explode(GraftFunctions.extractLinks(col("text"))).as("l"))
      .select(col("timestamp"), col("page_id"), col("rev_id"), col("parent_id"),
        col("l.anchor"), col("l.target"))
  }
  def run(spark: SparkSession, in: String, out: String): Unit =
    GraftSinks.writeTsv(frame(spark, in), out)
  def main(args: Array[String]): Unit =
    run(Jobs.session(), args(0), args(1))
}
