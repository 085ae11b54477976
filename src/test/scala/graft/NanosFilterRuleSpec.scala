package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The NanosFilterRule contract: a timestamp comparison over the legacy
  * loader's `timestamp_micros(raw div 1000)` projection derives a
  * REDUNDANT raw-int64 range conjunct that reaches PushedFilters —
  * row-group pruning on the nanos layout without rewriting the data —
  * and never changes the result set. */
class NanosFilterRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A legacy-shaped table on disk: int64 epoch-NANOS column `tsn` (what
    * nanosAsLong surfaces a TIMESTAMP(NANOS) parquet as). */
  private lazy val dir: String = {
    val d = graft.Scratch.dir("nanos").toString
    (0L until 4000L)
      .map(i => (i, 1700000000000000000L + i * 1000000000L)) // 1s apart
      .toDF("id", "tsn")
      .repartitionByRange(8, col("tsn"))
      .write.mode("overwrite").parquet(d)
    d
  }

  private def legacyRead = spark.read.parquet(dir)
    .withColumn("ts", timestamp_micros(expr("tsn div 1000")))

  test("derived raw-nanos bounds reach PushedFilters for a ts range " +
    "predicate on the legacy projection") {
    val q = legacyRead
      .filter(col("ts") >= lit("2023-11-14 23:00:00").cast("timestamp") &&
        col("ts") < lit("2023-11-14 23:10:00").cast("timestamp"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(tsn,"), plan)
    assert(plan.contains("LessThan(tsn,"), plan)
  }

  test("the derived conjuncts are redundant: result identical with and " +
    "without the rule, including the ±999 ns quantum edges") {
    val lo = lit("2023-11-14 23:00:00").cast("timestamp")
    val hi = lit("2023-11-14 23:10:00").cast("timestamp")
    def q = legacyRead.filter(col("ts") >= lo && col("ts") < hi)
      .agg(count(lit(1)), sum(col("id")))
    val withRule = q.collect()(0)
    // the session's extension injects the rule; the optimizer's
    // excludedRules conf is the way to switch an injected rule off
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, graft.plans.NanosFilterRule.ruleName)
    try {
      val off = q
      assert(!off.queryExecution.executedPlan.toString
        .contains("GreaterThanOrEqual(tsn,")) // the rule really is off
      assert(withRule == off.collect()(0))
      assert(withRule.getLong(0) > 0L) // non-vacuous window
    } finally spark.conf.unset(excluded)
  }

  test("sentinel-date predicates outside the int64-nanos range skip " +
    "derivation instead of overflowing into a row-dropping bound") {
    // both are semantically "all rows"; a wrapped m*1000 bound would
    // have returned empty
    val lo = legacyRead
      .filter(col("ts") >= lit("1500-01-01 00:00:00").cast("timestamp"))
    val hi = legacyRead
      .filter(col("ts") < lit("9999-01-01 00:00:00").cast("timestamp"))
    assert(lo.count() == 4000L)
    assert(hi.count() == 4000L)
    // no derived raw bound may appear for the unrepresentable literal
    assert(!lo.queryExecution.executedPlan.toString
      .contains("GreaterThanOrEqual(tsn,"))
    assert(!hi.queryExecution.executedPlan.toString
      .contains("LessThan(tsn,"))
  }

  test("equality comparisons derive the one-quantum nanos band") {
    val q = legacyRead
      .filter(col("ts") === lit("2023-11-14 22:13:20").cast("timestamp"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(tsn,") &&
      plan.contains("LessThan(tsn,"), plan)
    assert(q.count() == 1L)
  }
}
