package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AsofOps

/** Round-11 pins: microsecond-exact nearest-neighbor selection in
  * [[AsofOps.asofNearest]] — same-second neighbors must not pseudo-tie
  * at floor-second resolution (the round-10 advisor's latent
  * cross-engine divergence). */
class Round11OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Timestamp column at microsecond resolution from epoch-micros. */
  private def usDf(rows: Seq[(Long, Long, Long)], tsName: String = "t") =
    rows.toDF("id", "us", "k")
      .withColumn(tsName, timestamp_micros(col("us"))).drop("us")

  test("asofNearest picks the micro-closest neighbor when prev and next " +
    "fall in the same floor-second distance") {
    // left @100.500000s; prev @100.000000 (0.5s away), next @100.800000
    // (0.3s away): floor-second deltas both 0 — exact micros must pick
    // next, floor-seconds would have kept prev
    val left = usDf(Seq((1L, 100500000L, 1L)))
    val right = usDf(Seq((900L, 100000000L, 1L), (908L, 100800000L, 1L)))
      .withColumnRenamed("id", "v")
    val r = AsofOps.asofNearest(left.withColumnRenamed("id", "event_id"),
        right, "k", "t", Seq("v"))
      .select("v", "delta").head
    assert(r.getLong(0) == 908L)
    assert(r.getLong(1) == 0L) // reported delta stays floor-seconds
  }

  test("asofNearest carries the LAST preceding row when several share " +
    "the left row's second — matching the exact-micros oracle order") {
    // two views inside second 100, purchase @100.500000: the 100.400000
    // view is micro-closest; a floor-second oracle would call them tied
    val left = usDf(Seq((1L, 100500000L, 1L)))
    val right = usDf(Seq((901L, 100100000L, 1L), (904L, 100400000L, 1L)))
      .withColumnRenamed("id", "v")
    val r = AsofOps.asofNearest(left.withColumnRenamed("id", "event_id"),
        right, "k", "t", Seq("v"))
      .select("v").head
    assert(r.getLong(0) == 904L)
  }

  test("asofNearest prefers the earlier (preceding) row on an EXACT " +
    "microsecond tie") {
    val left = usDf(Seq((1L, 100500000L, 1L)))
    val right = usDf(Seq((902L, 100200000L, 1L), (908L, 100800000L, 1L)))
      .withColumnRenamed("id", "v")
    val r = AsofOps.asofNearest(left.withColumnRenamed("id", "event_id"),
        right, "k", "t", Seq("v"))
      .select("v").head
    assert(r.getLong(0) == 902L)
  }

  test("asofNearest on a plain long ts column still selects by native " +
    "unit (non-timestamp path unchanged)") {
    val left = Seq((1L, 105L, 1L)).toDF("event_id", "t", "k")
    val right = Seq((100L, 1L, 900L), (108L, 1L, 980L)).toDF("t", "k", "v")
    val r = AsofOps.asofNearest(left, right, "k", "t", Seq("v"))
      .select("v", "delta").head
    assert(r.getLong(0) == 980L && r.getLong(1) == 3L)
  }

  // ---- copyInto: scale-safe idempotent ingest (round-11 item 1) ----

  private def copyDirs(): (String, String, String) = {
    val dir = graft.Scratch.dir("ci").toString
    spark.range(100).selectExpr("id", "id * 2 AS v")
      .repartition(4).write.parquet(s"$dir/src")
    (s"$dir/src", s"$dir/target", s"$dir/_load_log")
  }

  test("copyInto ingests each file exactly once across retries and " +
    "new-file arrivals") {
    val (src, tgt, log) = copyDirs()
    assert(graft.operators.MergeOps.copyInto(spark, src, tgt, log) == 4L)
    // orchestrator retry: must be a no-op
    assert(graft.operators.MergeOps.copyInto(spark, src, tgt, log) == 0L)
    assert(spark.read.parquet(tgt).count() == 100L)
    // a late-arriving file ingests alone; earlier files stay single
    spark.range(100, 110).selectExpr("id", "id * 2 AS v")
      .coalesce(1).write.mode("append").parquet(src)
    assert(graft.operators.MergeOps.copyInto(spark, src, tgt, log) == 1L)
    val out = spark.read.parquet(tgt)
    assert(out.count() == 110L)
    assert(out.groupBy("id").count().filter(col("count") > 1).count() == 0)
    assert(spark.read.parquet(log).count() == 5L)
  }

  test("copyInto's plan is a metadata anti-join + broadcast semi-join — " +
    "no literal file list, no collected log") {
    val (src, tgt, log) = copyDirs()
    graft.operators.MergeOps.copyInto(spark, src, tgt, log)
    // with a non-empty log, the fresh-file list is a LeftAnti JOIN of
    // two relations — the collect+isin shape would show In/InSet here
    val anti = graft.operators.MergeOps.freshFiles(spark, src, log)
      .queryExecution.optimizedPlan.toString
    assert(anti.contains("LeftAnti"), anti)
    assert(!anti.contains("In(") && !anti.contains("INSET"), anti)
    // the data side semi-joins the per-batch fresh list via broadcast:
    // the corpus never shuffles and no file name reaches the plan text
    val data = graft.operators.MergeOps.freshData(spark, src, log)
      .queryExecution.executedPlan.toString
    assert(data.contains("LeftSemi"), data)
    assert(data.contains("Broadcast"), data)
    assert(!data.contains("In(") && !data.contains("INSET"), data)
  }

  // ---- IndexedFileIndex: planning-time zone-map/bloom skipping ----

  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    assert(ss.nonEmpty, "no FileSourceScanExec in plan")
    ss.map(_.metrics("numFiles").value).sum
  }

  test("indexed read prunes zone-mapped files for range predicates at " +
    "planning time and never drops rows") {
    val dir = graft.Scratch.dir("ifi").toString + "/t"
    val data = spark.range(4000).selectExpr("id AS k", "id * 3 AS v")
    graft.operators.LayoutOps.writeRangeLayout(data, "k", dir, numFiles = 8)
    graft.operators.LayoutOps.writeManifestTable(spark, dir, "k")
    val pruned = graft.sources.IndexedFileIndex.read(spark, dir, "k")
      .filter(col("k") >= 1000L && col("k") < 1500L)
    assert(pruned.count() == 500L)
    assert(filesRead(pruned.groupBy().sum("v")) < 8L)
    // an unindexed predicate column must not prune (and not mis-prune)
    val byV = graft.sources.IndexedFileIndex.read(spark, dir, "k")
      .filter(col("v") === 300L)
    assert(byV.count() == 1L)
    // no predicate on k: full read
    assert(graft.sources.IndexedFileIndex.read(spark, dir, "k").count() == 4000L)
    // a range no file covers: zero rows, with the data schema
    val none = graft.sources.IndexedFileIndex.read(spark, dir, "k")
      .filter(col("k") >= 10000L && col("k") < 20000L)
    assert(none.count() == 0L)
    assert(none.columns.toSeq == Seq("k", "v"))
  }

  test("indexed read prunes bloom-qualified partition directories for " +
    "point probes, including the absent-probe case") {
    val dir = graft.Scratch.dir("ifb").toString + "/t"
    val data = spark.range(4000)
      .selectExpr("id AS event_id", "id % 100 AS user_id")
      .withColumn("g", pmod(
        graft.operators.SimilarityOps.hash32Col(col("event_id")), lit(8L)))
    data.write.partitionBy("g").parquet(dir)
    data.select(col("g"), explode(array(
        graft.operators.PruneOps.bloomPos(col("user_id"), 0, 4096),
        graft.operators.PruneOps.bloomPos(col("user_id"), 1, 4096))).as("p"))
      .distinct().write.parquet(s"$dir/_bloom")
    // present probe: exact rows back, no false negatives
    val hit = graft.sources.IndexedFileIndex.read(spark, dir, "user_id")
      .filter(col("user_id") === 7L)
    assert(hit.count() == 40L)
    // absent probe: zero rows, and the bloom should qualify few (often
    // zero) of the 8 partition dirs — strictly fewer than all
    val miss = graft.sources.IndexedFileIndex.read(spark, dir, "user_id")
      .filter(col("user_id") === -999999L)
    assert(miss.count() == 0L)
    assert(filesRead(graft.sources.IndexedFileIndex
      .read(spark, dir, "user_id").filter(col("user_id") === -999999L)
      .groupBy().count()) <
      filesRead(graft.sources.IndexedFileIndex
        .read(spark, dir, "user_id").groupBy().count()))
    // IN-list probes qualify the union of their partitions
    val in2 = graft.sources.IndexedFileIndex.read(spark, dir, "user_id")
      .filter(col("user_id").isin(7L, 13L))
    assert(in2.count() == 80L)
  }

  test("a file appended AFTER the manifest was written is still read " +
    "through the index (stale-index conservatism)") {
    val dir = graft.Scratch.dir("stale").toString + "/t"
    val data = spark.range(4000).selectExpr("id AS k", "id * 3 AS v")
    graft.operators.LayoutOps.writeRangeLayout(data, "k", dir, numFiles = 8)
    graft.operators.LayoutOps.writeManifestTable(spark, dir, "k")
    // post-index append INSIDE the queried range
    spark.range(1000, 1010).selectExpr("id AS k", "id * 3 AS v")
      .coalesce(1).write.mode("append").parquet(dir)
    val pruned = graft.sources.IndexedFileIndex.read(spark, dir, "k")
      .filter(col("k") >= 1000L && col("k") < 1500L)
    // 500 original + 10 appended: a keep-only-manifest-matches index
    // would have returned 500
    assert(pruned.count() == 510L)
    assert(filesRead(pruned.groupBy().sum("v")) < 9L)
  }

  test("deleteWhereCow keeps rows whose predicate evaluates to NULL " +
    "in rewritten files") {
    val dir = graft.Scratch.dir("cown").toString
    import spark.implicits._
    Seq((1L, Option(10L)), (2L, Option.empty[Long]), (3L, Option(2L)))
      .toDF("k", "x").coalesce(1).write.parquet(s"$dir/v1")
    graft.operators.LayoutOps.deleteWhereCow(
      spark, s"$dir/v1", s"$dir/v2", col("x") > 5L)
    val v2 = spark.read.parquet(s"$dir/v2")
    // k=1 deleted (x>5 true); k=2 KEPT (NULL predicate); k=3 kept
    assert(v2.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(2L, 3L))
  }

  test("k15_manifest_skip's registered query reads fewer than its 8 " +
    "layout files through the planning-time manifest index") {
    val df = SparkEntry.queries("k15_manifest_skip")(
      spark, "/root/testdata/sf0.001")
    assert(filesRead(df) < 8L)
  }

  test("deleteWhereCow rewrites only the files containing matches and " +
    "byte-copies the rest") {
    val dir = graft.Scratch.dir("cow").toString
    graft.operators.LayoutOps.writeRangeLayout(
      spark.range(400).selectExpr("id AS k", "id * 2 AS v"),
      "k", s"$dir/v1", numFiles = 4)
    val (rewritten, total) = graft.operators.LayoutOps.deleteWhereCow(
      spark, s"$dir/v1", s"$dir/v2", col("k") >= 50L && col("k") < 60L)
    assert(total == 4 && rewritten < 4 && rewritten >= 1)
    val v2 = spark.read.parquet(s"$dir/v2")
    assert(v2.count() == 390L)
    assert(v2.filter(col("k") >= 50L && col("k") < 60L).count() == 0L)
    // untouched files arrive byte-identical (same name + length)
    val srcFiles = new java.io.File(s"$dir/v1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    val dstFiles = new java.io.File(s"$dir/v2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    val carried = srcFiles.keySet.intersect(dstFiles.keySet)
    assert(carried.size == total - rewritten)
    carried.foreach(n => assert(srcFiles(n) == dstFiles(n)))
  }

  test("k30_bucket_prune's point lookup plans exactly one of the 8 " +
    "buckets") {
    val df = SparkEntry.queries("k30_bucket_prune")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"), plan)
  }

  test("k27_zorder_skip's 2-D band over the Z-ordered layout reads " +
    "fewer than its 8 files via the multi-column manifest") {
    val df = SparkEntry.queries("k27_zorder_skip")(
      spark, "/root/testdata/sf0.001")
    assert(filesRead(df) < 8L)
  }

  test("multi-column manifest prunes on either dimension independently " +
    "and never drops rows") {
    val dir = graft.Scratch.dir("mm").toString + "/t"
    val data = spark.range(4096)
      .selectExpr("id % 64 AS x", "id div 64 AS y", "id AS v")
    graft.operators.LayoutOps.zorder(data, col("x"), col("y"), numFiles = 8)
      .write.parquet(dir)
    graft.operators.LayoutOps.writeMultiManifest(spark, dir, Seq("x", "y"))
    def rd = graft.sources.IndexedFileIndex.read(spark, dir, "x")
    // x-band: correct rows, pruned files
    val qx = rd.filter(col("x") >= 10L && col("x") < 20L)
    assert(qx.count() == 640L)
    assert(filesRead(qx.groupBy().sum("v")) < 8L)
    // y-band prunes through the SAME reader (no keyCol bias)
    val qy = rd.filter(col("y") >= 10L && col("y") < 20L)
    assert(qy.count() == 640L)
    assert(filesRead(qy.groupBy().sum("v")) < 8L)
    // conjunction intersects the survivors of both dimensions
    val qxy = rd.filter(col("x") < 8L && col("y") < 8L)
    assert(qxy.count() == 64L)
    assert(filesRead(qxy.groupBy().sum("v")) <=
      filesRead(qx.groupBy().sum("v")))
  }
}
