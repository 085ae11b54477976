package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The Bench stdout record must stay valid JSON: its reader keeps only
  * the last ~2000 chars of stdout, so a longer line arrives truncated
  * at the front. */
class BenchRecordSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  /** Worst case for the envelope: every registered name, the longest
    * names the slowest, every other row failed with a long error full
    * of characters that need escaping, plus transients, contended rows
    * and a suite filter naming all of them. */
  private val record = {
    val names = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n))
    val err = ("boom \"quoted\"\t\\ \n" * 80).take(1000)
    val results = names.zipWithIndex.map { case (n, i) =>
      (n, 1000.0 - i, if (i % 2 == 1) Some(err) else None)
    }
    val timed = results.collect { case (n, _, None) => n }
    Bench.Record(
      wall = 123.456, results = results,
      transients = timed.take(100).map(_ -> err),
      attempts = timed.map(_ -> (1.0, 4.0)).toMap,
      rerun = timed.map(_ -> 1.5).toMap,
      gcSec = timed.map(_ -> 0.25),
      contended = timed,
      only = Some(names.toSet),
      env = """{"loadavg_start":"1,1,1"}""",
      wallContended = true, sf = "/data/sf0.1",
      sharedStageReaders = SparkEntry.sharedStageReaders.toSeq)
  }

  test("the stdout line fits the budget, parses, and keeps ≥ 40 rows " +
    "with an exact dropped count") {
    val line = record.stdout
    assert(line.length <= Bench.StdoutBudget, line.length)
    val r = json.readTree(line)
    val rows = r.get("queries").size()
    assert(rows >= 40, line)
    assert(rows + r.get("queries_dropped").asInt() == 213)
    assert(r.get("errors_n").asInt() == 213)
    assert(r.get("transient_errors_n").asInt() == 100)
    assert(r.get("contended_n").asInt() == 213)
    assert(r.get("suite_filter_n").asInt() == 426)
  }

  test("the file record keeps every row and the error text") {
    val r = json.readTree(record.full)
    assert(r.get("queries").size() == 213)
    assert(r.get("errors").size() == 213)
    assert(r.get("contended").size() == 213)
    assert(r.get("queries_gc").size() == 213)
    assert(!r.has("queries_dropped"))
  }
}
