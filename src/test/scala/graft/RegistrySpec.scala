package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry and its oracle are one surface: every query has
  * its oracle SQL and nothing else does. */
class RegistrySpec extends AnyFunSuite {
  test("queries and oracleSql name the same queries") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.size == SparkEntry.queries.size && q.nonEmpty)
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracle SQL without a query: ${(o -- q).toSeq.sorted}")
  }

  test("every query is declared once: 426 records, no name twice") {
    val names = SparkEntry.all.map(_.name)
    val twice = names.diff(names.distinct)
    assert(twice.isEmpty, s"declared twice: $twice")
    assert(names.size == 426)
  }

  test("a name declared twice fails the registry, naming the duplicate") {
    val Seq(a, b) = SparkEntry.all.take(2)
    val err = intercept[IllegalArgumentException](
      SparkEntry.checked(Seq(a, b, a.copy(oracleSql = "SELECT 1"))))
    assert(err.getMessage.contains(a.name) && !err.getMessage.contains(b.name),
      err.getMessage)
  }

  test("every shared-stage reader is a registered query") {
    val unknown = SparkEntry.sharedStageReaders.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"unregistered: $unknown")
    assert(SparkEntry.sharedStageReaders.distinct == SparkEntry.sharedStageReaders)
  }

  test("oracleSql is built once") {
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
