package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamTrace
import graft.streaming.EventStreamOps.Event

/** The streaming trace harness: a failing trace leaves no stream behind,
  * traces share the session clone concurrently, and the st_* builders
  * run through the harness instead of building streams themselves. */
class StreamTraceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("an operator that throws mid-feed propagates the error and " +
    "leaves no stream active on the clone") {
    val err = intercept[Exception] {
      StreamTrace.run[Event](spark, "st_harness_boom", "append")(src =>
        src.toDF().select(col("user_id"),
          assert_true(col("user_id") =!= 13L, lit("boom at user 13")).as("ok")))(
        Seq(Event(1, StreamTrace.at(0L), 1.0)),
        Seq(Event(13, StreamTrace.at(1000L), 2.0)),
        Seq(Event(2, StreamTrace.at(2000L), 3.0)))
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(e => String.valueOf(e.getMessage)
      .contains("boom at user 13")), err)
    assert(StreamTrace.session(spark).streams.active.isEmpty)
  }

  test("two st_* builders run concurrently on one parent session and " +
    "each returns its golden rows") {
    val ohlc = Future(SparkEntry.queries("st_ohlc")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet)
    val cdc = Future(SparkEntry.queries("st_cdc_apply")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(3)))
      .toSet)
    assert(Await.result(ohlc, 5.minutes) == Set(
      ("2024-01-01 00:00:00", 4L, 1.0, 5.0, 0.5, 2.0),
      ("2024-01-01 00:10:00", 2L, 3.0, 3.0, 1.5, 1.5)))
    assert(Await.result(cdc, 5.minutes) == Set(
      (1L, 11.0, 3L, false), (2L, 0.0, 2L, true), (3L, 30.0, 1L, false)))
    assert(StreamTrace.session(spark).streams.active.isEmpty)
  }

  test("SparkEntry builds no stream itself, and each st_* trace names " +
    "its sink after its registered query") {
    // the registry is SparkEntry plus the query-family files it derives from
    val files = java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala") +:
      java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/queries"))
        .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    val srcs = files.map(f => f.getFileName.toString ->
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    for ((f, src) <- srcs; w <- Seq("MemoryStream", "writeStream",
        "processAllAvailable", "queryName", "streamSession"))
      assert(!src.contains(w), s"$f names $w")
    // the sink name of each registered st_* body is the first one after
    // its `Query("st_…"` record
    val sinks = """StreamTrace\.run\[\w+\]\(s, "(\w+)"|"memory", "(\w+)"""".r
    val named = srcs.flatMap { case (_, src) =>
      """(?m)^    Query\("(st_\w+)", """.r.findAllMatchIn(src).map { b =>
        val m = sinks.findFirstMatchIn(src.substring(b.end)).get
        b.group(1) -> Option(m.group(1)).getOrElse(m.group(2))
      }
    }
    assert(named.size == 20)
    assert(named.map(_._1).sorted ==
      SparkEntry.queries.keys.filter(_.startsWith("st_")).toSeq.sorted)
    named.foreach { case (q, sink) => assert(sink == q, s"$q writes sink $sink") }
  }
}
