package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Every `graft.Probe` mode runs on the shared test session and prints
  * rows that parse as JSON. The modes go through [[Probe.run]], never
  * `main`: main stops the session it ran on. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val json = new ObjectMapper()

  /** (result, stdout lines, the lines that are JSON rows, parsed). */
  private def probe(mode: String, args: String*)
      : (Boolean, Seq[String], Seq[JsonNode]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val ok = Console.withOut(buf)(Probe.run(spark, mode, sf, args))
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    (ok, lines, lines.filter(_.startsWith("{")).map(json.readTree))
  }

  test("time: a shuffle query's row counts its jobs, stages and tasks; " +
    "an unknown name is an error row and fails the run") {
    val (ok, lines, rows) = probe("time", "q1_pricing_summary", "no_such_query")
    assert(!ok)
    val Seq(q1, unknown) = rows
    assert(q1.get("name").asText == "q1_pricing_summary", q1)
    for (k <- Seq("jobs", "stages", "tasks")) assert(q1.get(k).asInt > 0, q1)
    assert(q1.get("sec").asDouble <= q1.get("sec_worst").asDouble, q1)
    // lineitem's schema comes from its footer: building q1 starts no job
    assert(q1.get("builder_jobs").asInt == 0, q1)
    assert(q1.get("builder_s").asDouble <= q1.get("sec").asDouble, q1)
    assert(lines.count(_.startsWith("[stage] ")) == q1.get("stages").asInt)
    assert(unknown.get("name").asText == "no_such_query")
    assert(unknown.get("error").asText == "unknown query")
  }

  test("time: a streaming row counts its progress lines, each tagged " +
    "with the registered query and its stream") {
    val (ok, _, rows) = probe("time", "st_curate")
    assert(ok)
    val (row, progress) = rows.partition(_.has("mode"))
    assert(progress.nonEmpty && row.head.get("n_progress").asInt == progress.size)
    progress.foreach { p =>
      assert(p.get("query").asText == "st_curate", p)
      assert(p.get("run_id").asText == p.get("progress").get("runId").asText, p)
    }
  }

  test("plan and final print formatted plans; a failing name fails the run") {
    val (ok, lines, rows) = probe("plan", "q1_pricing_summary")
    assert(ok && rows.isEmpty)
    assert(lines.head == "=== q1_pricing_summary ===")
    assert(lines.exists(_.contains("Physical Plan")))
    val (okF, linesF, rowsF) = probe("final", "q1_pricing_summary", "nope")
    assert(!okF)
    assert(linesF.exists(_.contains("isFinalPlan=true")), linesF.mkString("\n"))
    assert(rowsF.map(_.get("name").asText) == Seq("nope"))
  }

  test("sem, inc, stream and kernels each print one parsable row") {
    val (okS, _, Seq(s)) = probe("sem", "2")
    assert(okS && s.get("sem_probe").get("k2").asDouble > 0, s)
    val (okI, _, Seq(i)) = probe("inc")
    assert(okI && i.get("inc_probe").get(sf).asDouble > 0, i)
    val (okT, _, Seq(t)) = probe("stream", "st_neardup")
    assert(okT, t)
    assert(t.get("stream_probe_row").get("st_neardup").get("rows").asInt == 500, t)
    val (okK, _, Seq(k)) = probe("kernels")
    assert(okK)
    val kernels = k.get("kernel_bench").fieldNames.asScala.toSeq
    assert(kernels.contains("rev_diff") && kernels.contains("rev_diff_long"), k)
  }

  test("an unknown mode is an error row, not an exception") {
    val (ok, _, Seq(r)) = probe("nope")
    assert(!ok && r.get("error").asText == Probe.usage)
  }

  test("the only mains under src/main/scala/graft are Bench, Verify, " +
    "Probe, ScaleData, SkewData and the jobs CLIs") {
    // each `def main(` belongs to the nearest `object` declared above it
    val obj = """^\s*object (\w+)""".r.unanchored
    val mains = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala.toSeq
        val pkg = lines.collectFirst { case l if l.startsWith("package ") =>
          l.stripPrefix("package ").trim }.get
        lines.scanLeft(("", "")) {
          case (_, obj(name)) => (name, "")
          case ((o, _), l) => (o, l)
        }.collect { case (o, l) if l.contains("def main(") => s"$pkg.$o" }
      }.toSet
    val jobs = Seq("Json2Anchor", "MaxTimestamp", "BuildDictionary",
      "PreprocessEZPageviews", "MatchWikistats", "ExtractTemporalAnchorText")
    assert(mains == (Seq("Bench", "Verify", "Probe", "ScaleData", "SkewData")
      .map("graft." + _) ++ jobs.map("graft.jobs." + _)).toSet)
  }
}
