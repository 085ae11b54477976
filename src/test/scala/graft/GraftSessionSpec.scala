package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The session-factory contract: [[GraftSession.build]] is the only
  * code that builds a SparkSession, and the native functions and
  * NanosFilterRule it wires in reach every `newSession()` clone, so no
  * caller has to install them on touch. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a newSession() clone of a factory session resolves fnv64 in SQL " +
    "and runs NanosFilterRule") {
    val clone = spark.newSession()
    // a clone starts with empty experimental methods: what it has comes
    // from the session's extensions, not from install()
    assert(clone.experimental.extraOptimizations.isEmpty)
    assert(clone.sql("SELECT fnv64('abc')").collect()(0).getLong(0) ==
      graft.functions.Hashing.fnv1a("abc"))
    val d = Scratch.dir("session_nanos").toString
    clone.range(0, 100)
      .selectExpr("id", "1700000000000000000L + id * 1000000000L AS tsn")
      .write.mode("overwrite").parquet(d)
    val plan = clone.read.parquet(d)
      .withColumn("ts", timestamp_micros(expr("tsn div 1000")))
      .filter(col("ts") >= lit("2023-11-14 22:14:00").cast("timestamp"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(tsn,"), plan)
  }

  /** Source files under `root` whose text contains `needle`. */
  private def filesContaining(root: String, needle: String): Set[String] =
    java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet

  test("SparkSession.builder appears only in GraftSession.scala") {
    // needles are split so this file does not match itself
    assert(filesContaining("src", "SparkSession" + ".builder(") ==
      Set("GraftSession.scala"))
  }

  test("no main code installs the extensions on a live session") {
    // the session extensions are the one path: a live-session install
    // never reached newSession() clones nor added ClusterScans
    val found = filesContaining("src/main", "install" + "(")
    assert(found.isEmpty, s"install on touch in: $found")
  }
}
