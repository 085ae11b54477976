package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout for multi-dimensional scan pruning.
  *
  * At 100 TB the scan is the job: parquet row-group min/max stats prune a
  * predicate on the SORT column well, but a table sorted by x answers
  * `y BETWEEN …` with a full scan. Interleaving the bits of x and y into
  * one z-value and range-sorting the write by it makes every file cover a
  * small x/y RECTANGLE, so min/max stats prune scans on EITHER dimension
  * (Orenstein & Merrett, "A class of data structures for associative
  * searching", PODS 1984 — the layout Delta/Iceberg expose as
  * OPTIMIZE ZORDER BY).
  *
  * The z-value is pure built-in bit arithmetic (the classic
  * spread-bits chain: 5 mask-and-shift steps per dimension), fully inside
  * whole-stage codegen and bit-replicable in the DuckDB oracle
  * (`layout_zorder`).
  */
object LayoutOps {

  /** Spread the low 16 bits of `c` to the even bit positions 0,2,…,30. */
  private def spread16(c: Column): Column = {
    val a = c.bitwiseAND(lit(0xFFFFL))
    val s1 = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two 16-bit dimensions (x even bits, y odd).
    * Callers quantize wider domains to 16 bits first (e.g.
    * `col % 65536`, or a day number); rank-based quantization keeps the
    * curve balanced under skew. */
  def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Lay `df` out in `numFiles` z-ordered range partitions, each sorted
    * by z within — the write-side shape (`.write.parquet` after this
    * yields one tight x/y rectangle per file). One range-exchange
    * (sampled boundaries, no skew pile-up on hot rectangles) + in-memory
    * partition sorts; no global sort materializes. */
  def zorder(df: DataFrame, x: Column, y: Column, numFiles: Int): DataFrame = {
    // withColumn would silently REPLACE a pre-existing `_z` and the final
    // drop would then delete user data — same appended-column guard as
    // SketchOps.bottomKSample
    require(!df.columns.contains("_z"),
      "zorder: input already has a `_z` column; rename it first")
    val z = zValue(x, y)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Range layout on one key: one sampled range exchange, each output
    * file covering a contiguous, near-disjoint `keyCol` interval — the
    * precondition that makes file-level min/max skipping
    * ([[graft.sources.IndexedFileIndex]] over [[writeManifestTable]])
    * effective. The single-dimension sibling of [[zorder]]. */
  def writeRangeLayout(df: DataFrame, keyCol: String, path: String,
                       numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(keyCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** Per-file min/max manifest (zone map) for `keyCol`: the table-level
    * skipping index Iceberg/Delta keep in metadata, built here with ONE
    * aggregation over `input_file_name()`. At 100 TB the manifest is
    * written once per layout job (or maintained incrementally on append)
    * and amortizes over every subsequent range query. */
  def fileManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                   keyCol: String): DataFrame =
    graft.Tables.parquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("min_k"), max(col(keyCol)).as("max_k"),
        count(lit(1)).as("n_rows"))

  /** Copy-on-write DELETE WHERE (the Delta/Iceberg COW path, the
    * sibling of the merge-on-read deletion vectors): only files that
    * CONTAIN matching rows are rewritten without them; untouched files
    * carry into the new version as-is (a byte copy here — a production
    * table format re-LINKS the file in metadata, zero data movement).
    * The rewrite scan SEMI-joins on `input_file_name()` against the
    * (small, broadcast) touched-file relation — no file-name literal
    * ever enters the plan (the MergeOps.freshData shape; an isin over
    * collected names would grow the plan O(touched files)). The name
    * sets still collect on the driver for the untouched byte-copy and
    * the returned counts — metadata tier, O(files), the listing floor.
    * Returns (files rewritten, files total) so callers can assert
    * locality. */
  def deleteWhereCow(spark: org.apache.spark.sql.SparkSession,
                     srcDir: String, dstDir: String,
                     cond: Column): (Int, Int) = {
    val withFile = graft.Tables.parquet(spark, srcDir)
      .withColumn("_f", input_file_name())
    // pinned once: the driver count, the copy path and the rewrite's
    // broadcast side all read this relation
    val touchedDf = withFile.filter(cond).select(col("_f")).distinct()
      .localCheckpoint()
    val touched = touchedDf.collect().map(_.getString(0)).toSet
    new java.io.File(dstDir.stripPrefix("file:")).mkdirs()
    // DELETE WHERE deletes rows where cond is TRUE; a NULL predicate
    // keeps the row (SQL DELETE semantics — and what the untouched-file
    // copy path implicitly does). `!cond` alone would silently drop
    // NULL-predicate rows from rewritten files only.
    if (touched.nonEmpty)
      withFile.join(broadcast(touchedDf), Seq("_f"), "left_semi")
        .filter(!coalesce(cond, lit(false)))
        .drop("_f").write.mode("append").parquet(dstDir)
    val all = withFile.select(col("_f")).distinct()
      .collect().map(_.getString(0))
    all.filterNot(touched).foreach { src =>
      val p = java.nio.file.Paths.get(new java.net.URI(src))
      java.nio.file.Files.copy(p,
        java.nio.file.Paths.get(s"${dstDir.stripPrefix("file:")}/${p.getFileName}"))
    }
    (touched.size, all.length)
  }

  /** Multi-column zone-map manifest in LONG format — one
    * (file, col, min_k, max_k) row per file × tracked column, the shape
    * Delta/Iceberg column stats take. Written beside the data as
    * `_manifest_multi`; [[graft.sources.IndexedFileIndex]] consults it
    * at planning time and prunes on EVERY tracked column a predicate
    * binds — the consumer that makes a Z-ORDERED layout answer range
    * queries on either dimension with file skipping. One aggregation
    * pass builds all columns' stats. */
  def writeMultiManifest(spark: org.apache.spark.sql.SparkSession,
                         path: String, cols: Seq[String]): Unit = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"min_$c"),
      max(col(c)).cast("long").as(s"max_$c")))
    val wide = graft.Tables.parquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
    cols.map(c => wide.select(col("file"), lit(c).as("col"),
        col(s"min_$c").as("min_k"), col(s"max_$c").as("max_k")))
      .reduce(_ unionByName _)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_manifest_multi")
  }

  /** Persist the zone-map manifest as a TABLE next to the data (the
    * Iceberg/Delta metadata-dir convention — `_`-prefixed paths are
    * invisible to Spark's data-file listing, so `spark.read.parquet(path)`
    * still sees only data). Written once per layout job, appended on
    * ingest; every later range scan plans against it through
    * [[graft.sources.IndexedFileIndex]]. */
  def writeManifestTable(spark: org.apache.spark.sql.SparkSession,
                         path: String, keyCol: String): Unit =
    fileManifest(spark, path, keyCol)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_manifest")
}
