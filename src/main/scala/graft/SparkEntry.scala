package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.queries._
import graft.queries.QueryKit.t

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline operators), each with a DuckDB oracle
  * in `oracleSql` (same column names, deterministic values). Both derive
  * from the [[Query]] records the family objects in `graft.queries`
  * declare, one record per query.
  *
  * Conventions for oracle stability:
  *  - timestamps leave the plan as formatted strings (parquet tz-metadata
  *    differences between writers can break value comparison);
  *  - doubles are rounded (sum/avg orders differ between engines at the
  *    1e-13 level; the rounding increment is far above it);
  *  - integral sums are CAST(... AS BIGINT) in DuckDB (its SUM(int) is
  *    HUGEINT, Spark's is LONG);
  *  - every aggregate/computed column is aliased identically on both sides.
  */
object SparkEntry {

  /** Every registered query, family by family. */
  lazy val all: Seq[Query] = checked(Seq(Relational.all, TimeSeries.all,
    Storage.all, Sources.all, Stats.all, Text.all, Dedup.all, Retrieval.all,
    Graph.all, Multimodal.all, Curation.all, Streaming.all).flatten)

  /** `qs` unchanged, or an error naming every name declared twice: a
    * duplicate would otherwise shadow the earlier query in `queries`. */
  private[graft] def checked(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, Query.Build] =
    all.map(q => q.name -> q.build).toMap

  // built once, like `queries`: callers read it once per query name
  lazy val oracleSql: Map[String, String] =
    all.map(q => q.name -> q.oracleSql).toMap

  /** Every registered query that reads a process-shared materialization
    * (`sharesStage`): within one process, the FIRST toucher pays the
    * build and siblings time a localCheckpoint read, so per-query
    * timings for these rows are not chain costs. The bench record
    * carries this list (`shared_stage_readers`) so a reader of
    * BENCH_r*.json can't misread a shared row as a full-chain timing —
    * suite totals stay honest either way (the build is paid exactly
    * once, inside the suite). Round15Spec audits the flags against the
    * shared-stage call sites. */
  lazy val sharedStageReaders: Seq[String] =
    all.filter(_.sharesStage).map(_.name).sorted

  /** curate_e2e's near-dup candidate stage — the PREFIX-FILTERED
    * (Bayardo) pair join: byte-identical pairs to the plain inverted-
    * index `jaccardPairs` but candidates come only from each doc's
    * rarest shingles, so the suite's heaviest query never pays the
    * fat-bucket fan-out (r11 item 1). A named seam so Round12Spec can
    * pin the prefix plan — inside curate_e2e the CC fixpoint executes
    * eagerly and truncates this subtree's lineage out of the final
    * plan. Accepts either a raw (doc_id, text) relation or one already
    * carrying a `toks` column (curate_e2e's shared tokenize pass). */
  private[graft] def curateNearDupPairs(docs: DataFrame): DataFrame =
    if (docs.columns.contains("toks"))
      DedupOps.jaccardPairsPrefixFromToks(
        docs.select(col("doc_id").as("id"), col("toks")), threshold = 0.5)
    else
      DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", threshold = 0.5)

  /** Flagship query — the J1-style broadcast join pipeline:
    * orders ⋈ customer ⋈ nation, revenue by nation/segment. Data dir
    * comes from SPARK_GRAFT_SF_DIR (driver contract default: sf0.001). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      // unordered double sum, JUSTIFIED (r14 sweep, covers the TPC-H
      // price/quantity family): inputs are 2-decimal, reorder error
      // ~√n·eps·Σ|x| ≈ 1e-5 at sf0.1 against a 0.005 rounding unit —
      // and the exact-cents conversion stays available if a fixture
      // ever lands near a boundary (the stats-family precedent).
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("n_name"), col("c_mktsegment"))
  }
}
