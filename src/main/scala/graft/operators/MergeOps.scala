package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE-shaped incremental maintenance: `upsert` applies a batch of
  * updated/new rows onto a base table — matched keys are overridden by
  * the update side, unmatched base rows pass through, unmatched update
  * rows append. The primitive behind periodic corpus refresh
  * (re-crawled pages, re-scored quality, backfilled metadata) without
  * rewriting pipelines as full recomputes.
  *
  * Scale shape: ONE full-outer shuffle join on the key; the delta side
  * is typically a small fraction of the base, so with a bucketed or
  * pre-partitioned base layout the exchange reduces to the delta side
  * and the join is local. Column resolution is per-column coalesce
  * (update wins), which keeps the whole merge inside whole-stage
  * codegen — no row-level merge UDF.
  *
  * Caveats (documented, standard for coalescing upserts): an update
  * row cannot set a column to NULL — NULL in the update side means
  * "keep the base value" — and both sides must be unique on the key
  * (duplicate keys would multiply through the join, as in SQL MERGE,
  * where they are a runtime error).
  */
object MergeOps {

  /** Per-key mergeable aggregate state over `valCol`:
    * (key, n, sum_v, min_v, max_v). The partial-aggregate tier of
    * [[mergeAggState]] — compute it on each new batch only. */
  def aggState(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valCol)).as("sum_v"),
        min(col(valCol)).as("min_v"), max(col(valCol)).as("max_v"))

  /** Incremental JOIN-view maintenance (the delta algebra of
    * materialized views): given the stored view J0 = A⋈B and append
    * deltas ΔA, ΔB, the refreshed view is exactly
    * J0 ∪ (ΔA⋈B) ∪ (A⋈ΔB) ∪ (ΔA⋈ΔB) — the base relations never
    * re-join each other. At 100 TB the three delta terms each have one
    * delta-sized side (broadcast it when small; shuffle on the join key
    * otherwise), so a refresh costs O(Δ·matching) instead of the
    * O(A⋈B) full recompute. Append-only deltas; deletions compose with
    * the k24 deletion-vector anti-join upstream.
    *
    * The k33 gate query replays this against the from-scratch join: a
    * hash match proves the algebra loses and duplicates nothing. */
  def deltaJoinRefresh(baseView: DataFrame, a: DataFrame, b: DataFrame,
                       deltaA: DataFrame, deltaB: DataFrame,
                       keys: Seq[String]): DataFrame =
    baseView
      .unionByName(deltaA.join(b, keys))
      .unionByName(a.join(deltaB, keys))
      .unionByName(deltaA.join(deltaB, keys))

  /** Incremental aggregation maintenance — the daily-rollup pattern: the
    * running state table holds per-key MERGEABLE aggregates, each new
    * batch contributes its own partial state ([[aggState]] over the
    * batch only), and the refresh is a union + re-aggregation over
    * O(keys) STATE rows. The base data is never rescanned — at 100 TB
    * that is the difference between an incremental refresh costing
    * O(batch + keys) and a full recompute costing O(history).
    * Count/sum merge by sum, min/max by min/max; the same shape extends
    * to any commutative monoid (the KMV/HLL sketches merge the same way
    * — `sketch_hll_merge` proves that law separately).
    *
    * The k16 gate query replays this against a from-scratch oracle: a
    * hash match proves incremental maintenance loses nothing. */
  def mergeAggState(state: DataFrame, deltaState: DataFrame,
                    keyCol: String): DataFrame = {
    require(state.columns.toSeq == deltaState.columns.toSeq,
      s"state schemas differ: ${state.columns.toSeq} vs ${deltaState.columns.toSeq}")
    state.unionByName(deltaState)
      .groupBy(col(keyCol))
      .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
  }

  /** Snapshot-as-of read over an append-only versioned history
    * (key, version, payload…, deleted): the latest version ≤ `asOf` per
    * key wins, tombstoned keys drop out — the time-travel read Delta/
    * Iceberg expose, on a plain keyed history table. Writers only ever
    * APPEND (version, rows); readers pick their version — no
    * read-modify-write races, and any past state stays reproducible
    * (the provenance property a training-data pipeline needs when a
    * model must be traced back to the exact corpus snapshot).
    *
    * Scale shape: one filter (version pushdown reaches the scan — with
    * the history partitioned by version, directory pruning) + one
    * per-key window on the surviving versions. `deletedCol` rows are
    * tombstones: kept in history (the append-only contract), filtered
    * at read time AFTER latest-wins. */
  def snapshotAsOf(history: DataFrame, keyCol: String, versionCol: String,
                   asOf: Long, deletedCol: String = "deleted"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(history.columns.contains(deletedCol),
      s"history needs a '$deletedCol' tombstone column")
    history.filter(col(versionCol) <= asOf)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc)))
      .filter(col("_rn") === 1 && !col(deletedCol))
      .drop("_rn", deletedCol)
  }

  /** Change-data-capture diff of two snapshots of a keyed table: emits
    * (key, change ∈ insert|delete|update, payload columns from the NEW
    * side, old payload for updates/deletes nulled per column semantics)
    * — unchanged rows are OMITTED, which is the point at 100 TB: the
    * diff relation is |changes|, not |table|, and downstream consumers
    * (upsert, audit, replication) process only it. Column comparison is
    * null-safe (`<=>` per column), so NULL→value and value→NULL count
    * as updates. ONE full-outer shuffle join on the key; with both
    * snapshots bucketed on the key it is exchange-free like the k9
    * upsert. */
  def cdcDiff(oldSnap: DataFrame, newSnap: DataFrame,
              keyCol: String): DataFrame = {
    require(oldSnap.columns.toSeq == newSnap.columns.toSeq,
      s"snapshot schemas differ: ${oldSnap.columns.toSeq} vs ${newSnap.columns.toSeq}")
    val dataCols = oldSnap.columns.toSeq.filterNot(_ == keyCol)
    val o = dataCols.foldLeft(oldSnap)((df, c) => df.withColumnRenamed(c, s"__o_$c"))
      .withColumn("__in_old", lit(true))
    val n = dataCols.foldLeft(newSnap)((df, c) => df.withColumnRenamed(c, s"__n_$c"))
      .withColumn("__in_new", lit(true))
    val same = dataCols.map(c => col(s"__o_$c") <=> col(s"__n_$c"))
      .reduce(_ && _)
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("__in_old").isNull, lit("insert"))
          .when(col("__in_new").isNull, lit("delete"))
          .when(!same, lit("update")))
      .filter(col("change").isNotNull)
      .select(col(keyCol) +: col("change") +: dataCols.map(c =>
        coalesce(col(s"__n_$c"), col(s"__o_$c")).as(c)): _*)
  }

  /** Retention vacuum for an append-only versioned history (the
    * [[snapshotAsOf]] storage layout): expire everything older than
    * `minVersion` while keeping every as-of read at `minVersion` or
    * later EXACTLY reproducible. Old per-key version chains collapse to
    * one compacted base row (each key's latest-wins state at
    * `minVersion`, stamped with version = `minVersion`); keys whose
    * state at the horizon is a tombstone vanish entirely (nothing after
    * the horizon can resurrect them — later versions carry their own
    * rows); every row newer than the horizon passes through untouched.
    *
    * This is the nightly operational rewrite every snapshot store needs
    * at 100 TB: history grows per-change forever, but reads only ever
    * need the compacted base + the retained tail, and the rewrite is
    * ONE shuffle on the key (the rank window) over the sub-horizon
    * slice plus a pass-through union — never a join against the tail.
    * The trade is explicit: as-of reads BEFORE `minVersion` are gone
    * (that's what retention means). */
  def expireVersions(history: DataFrame, keyCol: String, versionCol: String,
                     minVersion: Long, deletedCol: String = "deleted")
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(history.columns.contains(deletedCol),
      s"history needs a '$deletedCol' tombstone column")
    val base = history.filter(col(versionCol) <= minVersion)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(versionCol).desc)))
      .filter(col("_rn") === 1 && !col(deletedCol))
      .drop("_rn")
      .withColumn(versionCol, lit(minVersion))
    base.unionByName(history.filter(col(versionCol) > minVersion))
  }

  /** Merge `updates` onto `base` by `keyCol`; both inputs must share
    * the same schema. */
  def upsert(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame = {
    require(base.columns.toSeq == updates.columns.toSeq,
      s"upsert needs identical schemas, got ${base.columns.toSeq} vs ${updates.columns.toSeq}")
    val dataCols = base.columns.toSeq.filterNot(_ == keyCol)
    val b = dataCols.foldLeft(base)((df, c) => df.withColumnRenamed(c, s"__b_$c"))
    val u = dataCols.foldLeft(updates)((df, c) => df.withColumnRenamed(c, s"__u_$c"))
    b.join(u, Seq(keyCol), "full_outer")
      .select(col(keyCol) +: dataCols.map(c =>
        coalesce(col(s"__u_$c"), col(s"__b_$c")).as(c)): _*)
  }

  // ---- idempotent COPY INTO (file-granular exactly-once ingest) ----

  /** The load log as a relation: one `f` (file name) row per file ever
    * ingested into the target; empty-with-schema before the first run.
    * NEVER collected — at a 100 TB ingest the log is the cumulative
    * set of every file ever loaded, unbounded by design. */
  def loadLog(spark: org.apache.spark.sql.SparkSession,
              logDir: String): DataFrame = {
    import spark.implicits._
    // Hadoop FS existence, not java.io.File — a java.io check is
    // always false for s3://-style locations, which would silently
    // re-ingest everything on every run
    val p = new org.apache.hadoop.fs.Path(logDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      graft.Tables.parquet(spark, logDir).select(col("f").cast("string"))
    else Seq.empty[String].toDF("f")
  }

  /** Source files not yet in the load log — a LEFT ANTI join of two
    * METADATA relations (distinct listed file names vs the log), so the
    * plan shuffles file-name strings only: driver memory stays
    * O(nothing), cluster work O(|listing| + |log|) however large the
    * cumulative log grows. This replaces the collect-the-log-and-isin
    * shape, whose literal list grows with every file ever ingested. */
  def freshFiles(spark: org.apache.spark.sql.SparkSession,
                 srcDir: String, logDir: String): DataFrame =
    graft.Tables.parquet(spark, srcDir)
      .select(input_file_name().as("f")).distinct()
      .join(loadLog(spark, logDir), Seq("f"), "left_anti")

  /** The source rows belonging to not-yet-ingested files: the data side
    * SEMI-joins the (small, per-batch) fresh-file list, which Spark
    * broadcasts — the 100 TB corpus never shuffles, and no file-name
    * literal ever enters the plan. */
  def freshData(spark: org.apache.spark.sql.SparkSession,
                srcDir: String, logDir: String,
                fresh: Option[DataFrame] = None): DataFrame =
    graft.Tables.parquet(spark, srcDir).withColumn("f", input_file_name())
      .join(broadcast(fresh.getOrElse(freshFiles(spark, srcDir, logDir))),
        Seq("f"), "left_semi")

  /** One idempotent COPY INTO run: append rows of files the load log
    * has not seen, then log those files. Re-running after a crash (or
    * unconditionally, from an orchestrator retry) cannot double-load —
    * the anti-join sees the files the previous run logged. Appends
    * target BEFORE log, so a crash between the two writes re-ingests
    * (at-least-once into an append target a dedup pass can reconcile)
    * rather than silently dropping files marked loaded but never
    * written. Returns the number of files ingested this run. */
  def copyInto(spark: org.apache.spark.sql.SparkSession, srcDir: String,
               targetDir: String, logDir: String): Long = {
    // pin the fresh list BEFORE any append: the log-append below must
    // not re-plan the anti-join against the log it is extending
    val fresh = freshFiles(spark, srcDir, logDir).localCheckpoint()
    val n = fresh.count()
    if (n > 0) {
      freshData(spark, srcDir, logDir, Some(fresh)).drop("f")
        .write.mode("append").parquet(targetDir)
      fresh.write.mode("append").parquet(logDir)
    }
    n
  }
}
