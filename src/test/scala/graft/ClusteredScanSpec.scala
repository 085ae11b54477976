package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.RevisionOps
import graft.sources.{ClusterScans, ClusteredScanExec, Warc, WikiFixtures, WikiXml}

/** The wikirev scan's `page_id` clustering claim, checked against the
  * same frame with a forced shuffle (`repartition(col("page_id"))` right
  * after the scan): where the claim is made the plan has no exchange,
  * where it is not (several files, unions, joins, adaptive execution off)
  * the plan keeps its exchange, and the rows always match. */
class ClusteredScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Article pages of 6 revisions each; text lengths step by a mix of
    * none, gray-zone and large changes, so every sampler branch fires.
    * `base` offsets revision ids and timestamps. */
  private def dump(pages: Range, base: Long): String =
    pages.map { p =>
      WikiFixtures.page(p, s"P$p", 0, redirect = false, (1 to 6).map { j =>
        val words = 200 + Seq(0, 4, 60, 1, 150, 9)((p + j + base.toInt) % 6) * 2
        WikiFixtures.rev(base + p * 10 + j, None,
          java.time.Instant.ofEpochSecond(1577836800L + base * 100 + j * 60 + p).toString,
          s"u$p", Some(p.toLong), "c", s"[[L$p|a$j]] " + (s"w$j " * words))
      })
    }.mkString("<mediawiki>\n", "\n", "\n</mediawiki>\n")

  private lazy val dir = {
    val d = Paths.get(System.getProperty("java.io.tmpdir"), "graft-fixtures", "clustered")
    Files.createDirectories(d)
    Files.write(d.resolve("a.xml"), dump(1 to 40, 0L).getBytes("UTF-8"))
    // pages 31..40 sit in both files, with other revisions
    Files.write(d.resolve("b.xml"), dump(31 to 70, 1000L).getBytes("UTF-8"))
    d
  }
  private def one = dir.resolve("a.xml").toString
  private def other = dir.resolve("b.xml").toString
  private def both = dir.resolve("*.xml").toString

  /** A read in several partitions; `shuffled` adds the reference's
    * exchange on `page_id`. */
  private def read(path: String, shuffled: Boolean = false,
                   s: SparkSession = spark): DataFrame = {
    val df = WikiXml.read(s, path, Map("maxSplitBytes" -> "20000"))
    if (shuffled) df.repartition(col("page_id")) else df
  }

  private def tokenFrame(df: DataFrame): DataFrame =
    df.select(col("page_id"), col("rev_id"), col("timestamp"),
      GraftFunctions.tokens(col("text")).as("toks"))
  private def diffFrame(toks: DataFrame): DataFrame =
    RevisionOps.diffs(toks, "page_id", "timestamp", "toks", "rev_id",
      GraftFunctions.revDiff).select("page_id", "rev_id", "prev_tokens", "deltas")
  private def sample(df: DataFrame): DataFrame =
    RevisionOps.changeRatioSample(
      df.withColumn("len", length(col("text")).cast("double")),
      "page_id", "timestamp", "len", minLen = 10.0).select("page_id", "rev_id")
  private def perPage(df: DataFrame): DataFrame =
    df.groupBy("page_id").agg(count(lit(1)).as("n"), max("rev_id").as("last"))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
  private def exchanges(plan: String): Int = "Exchange".r.findAllIn(plan).length
  private def pageExchanges(plan: String): Int =
    "Exchange hashpartitioning\\(page_id".r.findAllIn(plan).length

  /** The frame's plan, checked to give the rows of its forced-shuffle
    * reference. The plan is taken before the frame runs, so it is the
    * initial one alone. */
  private def matches(path: String, op: DataFrame => DataFrame,
                      s: SparkSession = spark): String = {
    val df = op(read(path, s = s))
    val plan = df.queryExecution.executedPlan.toString
    assert(rows(df) == rows(op(read(path, shuffled = true, s = s))))
    plan
  }

  test("a one-file scan plans the lag window, the sampler and per-page " +
    "aggregates with no exchange, and matches the shuffled reference") {
    assert(read(one).rdd.getNumPartitions > 3)
    for (op <- Seq[DataFrame => DataFrame](d => diffFrame(tokenFrame(d)), sample, perPage)) {
      val p = matches(one, op)
      assert(exchanges(p) == 0, p)
      assert(p.contains("ClusteredScan"), p)
    }
  }

  test("a two-file glob sharing a page keeps its exchange and matches") {
    assert(rows(read(one).select("page_id").distinct()).toSet
      .intersect(rows(read(other).select("page_id").distinct()).toSet).nonEmpty)
    for (op <- Seq[DataFrame => DataFrame](d => diffFrame(tokenFrame(d)), sample, perPage)) {
      val p = matches(both, op)
      assert(pageExchanges(p) == 1, p)
      assert(!p.contains("ClusteredScan"), p)
    }
  }

  test("a union of two scans, of one file or of two, shuffles before " +
    "grouping and matches") {
    for ((a, b) <- Seq((one, one), (one, other))) {
      def unioned(shuffled: Boolean) =
        read(a, shuffled).union(read(b, shuffled)).groupBy("page_id").count()
      val df = unioned(shuffled = false)
      val p = df.queryExecution.executedPlan.toString
      assert(rows(df) == rows(unioned(shuffled = true)))
      assert(exchanges(p) == 1, p)
    }
  }

  test("a join on page_id between the scan and an aggregate of it " +
    "shuffles both sides and matches") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = matches(one, d => d.select("page_id", "rev_id")
      .join(perPage(d), "page_id"), s)
    assert(p.contains("SortMergeJoin"), p)
    assert(pageExchanges(p) == 2, p)
  }

  test("with adaptive execution off the plans keep their exchange and " +
    "give the same answers") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    for (op <- Seq[DataFrame => DataFrame](d => diffFrame(tokenFrame(d)), sample, perPage)) {
      val p = matches(one, op, s)
      assert(pageExchanges(p) == 1, p)
      assert(rows(op(read(one, s = s))) == rows(op(read(one))))
    }
  }

  test("a warc scan claims nothing") {
    val plan = Warc.read(spark, WikiFixtures.standardWarcPath)
      .groupBy("record_id").count().queryExecution.sparkPlan
    assert(ClusterScans(plan).collect { case c: ClusteredScanExec => c }.isEmpty)
  }

  test("applying the rule twice wraps the scan once") {
    val plan = sample(read(one)).queryExecution.sparkPlan
    val twice = ClusterScans(ClusterScans(plan))
    assert(twice.collect { case c: ClusteredScanExec => c }.length == 1, twice)
  }
}
