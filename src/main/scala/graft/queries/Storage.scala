package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKit._

/** Storage formats, sink round trips, table layout and shuffle shapes (k*,
  * layout*, shuffle*): one [[Query]] record per query. */
private[graft] object Storage {

  /** Every 10th doc of `base` (doc_id, lang, n_chars) re-scored: lang
    * 'xx' and n_chars bumped by 10⁶ — the update of the upsert rows and
    * version 2 of [[versionHistory]]. */
  private def rescored(base: DataFrame): DataFrame =
    base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit("xx").as("lang"),
        (col("n_chars") + 1000000L).as("n_chars"))

  /** `base`'s next release: [[rescored]] docs override their rows and
    * one doc is appended after the max id (MergeOps.upsert). */
  private def upserted(base: DataFrame): DataFrame = {
    val inserted = base.agg(max(col("doc_id")).as("doc_id"))
      .select((col("doc_id") + 1L).as("doc_id"),
        lit("new").as("lang"), lit(1L).as("n_chars"))
    MergeOps.upsert(base, rescored(base).unionByName(inserted), "doc_id")
  }

  /** The append-only version history of `base` (doc_id, lang, n_chars,
    * version, deleted): v1 the corpus, v2 the [[rescored]] docs, v3
    * every 97th doc tombstoned. */
  private def versionHistory(base: DataFrame): DataFrame = {
    val v1 = base.withColumn("version", lit(1L))
      .withColumn("deleted", lit(false))
    val v2 = rescored(base)
      .withColumn("version", lit(2L)).withColumn("deleted", lit(false))
    val v3 = base.filter(col("doc_id") % 97 === 0)
      .withColumn("version", lit(3L)).withColumn("deleted", lit(true))
    v1.unionByName(v2).unionByName(v3)
  }

  /** The oracle twin of [[versionHistory]] over the documents, as CTE
    * `h`. */
  private val versionHistorySql =
    """h AS (
      |  SELECT doc_id, lang, n_chars, 1 AS version, false AS deleted
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'xx', n_chars + 1000000, 2, false
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, n_chars, 3, true
      |  FROM documents WHERE doc_id % 97 = 0)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("k22_dynamic_overwrite", (s, d) => {
      // dynamic partition overwrite — the Hive/Delta replaceWhere ingest
      // pattern: a full partitioned write, then a second write in
      // DYNAMIC overwrite mode that replaces ONLY the partitions present
      // in the new batch (here: 'en' re-scored +1000 chars); untouched
      // partitions keep their original files. The read-back aggregate
      // proves exactly one partition changed.
      val dir = Scratch.dir("k22")
        .toString + "/t"
      // n_chars cast up front: the overwrite batch adds a LONG literal,
      // and a source that stores int32 would otherwise leave the
      // directory with mixed int/long files (bit us on the ×10 replica)
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
      docs.write.partitionBy("lang").parquet(dir)
      docs.filter(col("lang") === "en")
        .withColumn("n_chars", col("n_chars") + 1000L)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(dir)
      s.read.parquet(dir).groupBy("lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
    },
      // only the 'en' partition changes: +1000 per doc — the oracle
      // derives the post-overwrite state from the rule
      """SELECT lang, count(*) AS n,
        | CAST(sum(n_chars + CASE WHEN lang = 'en' THEN 1000 ELSE 0 END)
        |   AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin),

    Query("layout_depth", (s, d) => {
      // clustering-depth audit of a file layout (the metric Delta's
      // OPTIMIZE ZORDER reports): per-file [min,max] key intervals from
      // the manifest, then a sweep line over the O(2·files) boundary
      // points — avg/max number of files a point predicate must read.
      // Depth 1 = perfectly clustered; ≈ n_files = hash-scattered. Both
      // layouts are DETERMINISTIC so the oracle replays them: 'range' =
      // value-proportional split on the key domain (rank-free — an
      // exactRank bucket here would histogram the near-unique event_id,
      // i.e. re-sort the corpus in one task; the value split is a pure
      // map after a one-row max broadcast), 'hash' = hash32 % 8 (the
      // anti-pattern). The sweep window runs over metadata-scale rows
      // (2 per file), same tier as layout_range_bounds.
      val ev = t(s, d, "events").select(col("event_id"))
      val mx = ev.agg(max("event_id").as("mx"))
      val clustered = ev.crossJoin(broadcast(mx))
        .select(lit("range").as("layout"),
          expr("CAST(event_id * 8 div (mx + 1) AS BIGINT)").as("f"),
          col("event_id"))
      val hashed = ev.select(lit("hash").as("layout"),
        pmod(SimilarityOps.hash32Col(col("event_id")), lit(8L)).as("f"),
        col("event_id"))
      val mf = clustered.unionByName(hashed)
        .groupBy("layout", "f")
        .agg(min("event_id").as("mn"), max("event_id").as("mx"))
        .localCheckpoint() // O(files) rows, two consumers (mn + mx points)
      val pts = mf.select(col("layout"), col("mn").as("t"), lit(1L).as("delta"))
        .unionByName(mf.select(col("layout"), (col("mx") + 1).as("t"),
          lit(-1L).as("delta")))
        .groupBy("layout", "t").agg(sum("delta").as("delta"))
      val w = Window.partitionBy("layout").orderBy("t")
      pts.withColumn("depth", sum(col("delta")).over(w))
        .withColumn("len", lead(col("t"), 1).over(w) - col("t"))
        .filter(col("len").isNotNull && col("depth") > 0)
        .groupBy("layout")
        .agg(max(col("depth")).as("max_depth"),
          round(sum(col("depth") * col("len")).cast("double") /
            sum(col("len")), 6).as("avg_depth"))
    },
      // both layouts replay deterministically (rank buckets / hash32 % 8);
      // sweep: +1 at min, −1 at max+1, depth·len weighted mean
      s"""WITH ev AS (SELECT event_id FROM events),
         |mm AS (SELECT max(event_id) AS mx FROM ev),
         |cl AS (SELECT 'range' AS layout,
         |        event_id * 8 // (mx + 1) AS f, event_id FROM ev, mm),
         |hs AS (SELECT 'hash' AS layout,
         |        ${hash32Sql("(event_id)")} % 8 AS f, event_id FROM ev),
         |mf AS (SELECT layout, f, min(event_id) AS mn, max(event_id) AS mx
         |       FROM (SELECT * FROM cl UNION ALL SELECT * FROM hs) u
         |       GROUP BY 1, 2),
         |pts AS (SELECT layout, t, CAST(sum(delta) AS BIGINT) AS delta FROM
         |  (SELECT layout, mn AS t, 1 AS delta FROM mf
         |   UNION ALL SELECT layout, mx + 1, -1 FROM mf) p GROUP BY 1, 2),
         |seg AS (SELECT layout,
         |   sum(delta) OVER (PARTITION BY layout ORDER BY t) AS depth,
         |   lead(t) OVER (PARTITION BY layout ORDER BY t) - t AS len
         |  FROM pts)
         |SELECT layout, CAST(max(depth) AS BIGINT) AS max_depth,
         | round(CAST(sum(depth * len) AS DOUBLE) / sum(len), 6) AS avg_depth
         |FROM seg WHERE len IS NOT NULL AND depth > 0
         |GROUP BY 1""".stripMargin),

    Query("k23_bloom_skip", (s, d) => {
      // file-level bloom skipping for POINT lookups on a key zone maps
      // cannot help with: user_id is scattered across every file group,
      // so every file's [min,max] contains every probe — but a per-group
      // bloom position set over user_id (2 seed-suffixed FNV hashes into
      // 4096 bits, the j7 family) qualifies only the groups that may
      // contain the key. The data lands hive-partitioned by file group,
      // the `_bloom` index is a TABLE beside it, and the lookup is a
      // PLAIN FILTERED READ through IndexedFileIndex — the FileIndex
      // consults `_bloom` at planning time and lists only qualified
      // partition directories (pinned in PlanSpec/Round11OpsSpec); the
      // n_files_qualified audit leg replays the qualification as a
      // metadata-scale join. Probe −999 is absent: its row pins that
      // misses cost only false-positive file reads, never wrong rows.
      import s.implicits._
      val dir = Scratch.dir("k23")
        .toString + "/t"
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"))
        .withColumn("g", pmod(SimilarityOps.hash32Col(col("event_id")), lit(8L)))
      ev.write.partitionBy("g").parquet(dir)
      def pos(key: org.apache.spark.sql.Column, i: Int) =
        PruneOps.bloomPos(key, i, 4096)
      ev.select(col("g"),
          explode(array(pos(col("user_id"), 0), pos(col("user_id"), 1))).as("p"))
        .distinct()
        .write.mode("overwrite").parquet(s"$dir/_bloom")
      val bloom = Tables.parquet(s, s"$dir/_bloom")
      val pr = Seq(1L, 2L, -999L).toDF("probe_user")
        .select(col("probe_user"), pos(col("probe_user"), 0).as("p0"),
          pos(col("probe_user"), 1).as("p1"))
      val qual = pr
        .join(bloom.select(col("g"), col("p").as("p0")), Seq("p0"))
        .join(bloom.select(col("g"), col("p").as("p1")), Seq("g", "p1"))
        .select(col("probe_user"), col("g"))
      val hits = graft.sources.IndexedFileIndex.read(s, dir, "user_id")
        .filter(col("user_id").isin(1L, 2L, -999L)) // bloom-pruned listing
        .groupBy(col("user_id").as("probe_user"))
        .agg(count(lit(1)).as("n_rows"), sum("event_id").as("sum_id"))
      pr.select("probe_user")
        .join(qual.groupBy("probe_user")
          .agg(count(lit(1)).as("n_files_qualified")),
          Seq("probe_user"), "left_outer")
        .join(hits, Seq("probe_user"), "left_outer")
        .select(col("probe_user"),
          coalesce(col("n_files_qualified"), lit(0L)).as("n_files_qualified"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          coalesce(col("sum_id"), lit(0L)).as("sum_id"))
    },
      // bloom position sets replayed with the shared FNV chain; qualified
      // = both probe positions present in the file group's set
      s"""WITH ev AS (SELECT event_id, user_id,
         |    ${hash32Sql("(event_id)")} % 8 AS g FROM events),
         |seeds AS (SELECT unnest(generate_series(0, 1)) AS i),
         |bpos AS (SELECT DISTINCT g,
         |    ${fnvSql("CAST(user_id AS VARCHAR) || '#' || i")} % 4096 AS p
         |  FROM ev, seeds),
         |probes AS (SELECT CAST(u AS BIGINT) AS probe_user
         |           FROM (VALUES (1), (2), (-999)) t(u)),
         |pp AS (SELECT probe_user,
         |    ${fnvSql("CAST(probe_user AS VARCHAR) || '#0'")} % 4096 AS p0,
         |    ${fnvSql("CAST(probe_user AS VARCHAR) || '#1'")} % 4096 AS p1
         |  FROM probes),
         |qual AS (SELECT pp.probe_user, b0.g FROM pp
         |         JOIN bpos b0 ON b0.p = pp.p0
         |         JOIN bpos b1 ON b1.g = b0.g AND b1.p = pp.p1),
         |ag AS (SELECT probe_user, CAST(count(*) AS BIGINT)
         |         AS n_files_qualified FROM qual GROUP BY 1),
         |rws AS (SELECT q.probe_user, CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(e.event_id) AS BIGINT) AS sum_id
         |        FROM qual q JOIN ev e
         |          ON e.g = q.g AND e.user_id = q.probe_user GROUP BY 1)
         |SELECT p.probe_user,
         | CAST(coalesce(a.n_files_qualified, 0) AS BIGINT)
         |   AS n_files_qualified,
         | CAST(coalesce(r.n_rows, 0) AS BIGINT) AS n_rows,
         | CAST(coalesce(r.sum_id, 0) AS BIGINT) AS sum_id
         |FROM probes p LEFT JOIN ag a USING (probe_user)
         |LEFT JOIN rws r USING (probe_user)""".stripMargin),

    Query("k24_deletion_vectors", (s, d) => {
      // merge-on-read deletion vectors (the Delta/Iceberg DV pattern):
      // deletes land as an id list BESIDE the data (`_dv`), reads apply
      // them as an anti-join — no base rewrite on the delete path — and
      // compaction later applies the DV physically. Both read paths are
      // aggregated side by side: identical numbers prove the rewrite is
      // read-equivalent, which is the whole DV contract.
      val dir = Scratch.dir("k24")
        .toString + "/t"
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      docs.write.parquet(s"$dir/base")
      docs.filter(col("doc_id") % 13 === 0).select(col("doc_id"))
        .write.parquet(s"$dir/_dv")
      def morRead = Tables.parquet(s, s"$dir/base")
        .join(Tables.parquet(s, s"$dir/_dv"), Seq("doc_id"), "left_anti")
      morRead.write.parquet(s"$dir/compacted") // DV applied physically
      def agg(df: DataFrame, path: String) =
        df.agg(lit(path).as("read_path"), count(lit(1)).as("n_rows"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
      agg(morRead, "merge_on_read")
        .unionByName(agg(Tables.parquet(s, s"$dir/compacted"), "compacted"))
    },
      // both read paths must agree — the DV contract; the oracle is the
      // filtered aggregate twice
      """WITH kept AS (SELECT * FROM documents WHERE doc_id % 13 <> 0),
        |a AS (SELECT count(*) AS n_rows,
        |   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |   count(DISTINCT lang) AS n_langs FROM kept)
        |SELECT 'merge_on_read' AS read_path, n_rows, sum_chars, n_langs
        |FROM a
        |UNION ALL
        |SELECT 'compacted', n_rows, sum_chars, n_langs FROM a""".stripMargin),

    Query("k26_copy_into", (s, d) => {
      // idempotent file ingest (COPY INTO / Auto Loader semantics): a
      // load log beside the target records ingested file names; each
      // run lists the source, LEFT-ANTI-joins the log (metadata vs
      // metadata — the log is never collected, so the plan carries no
      // literal file list however many files the cumulative log holds),
      // broadcast-SEMI-joins the data side against the per-batch fresh
      // list, appends, and logs — so re-running an ingest (the crashed-
      // orchestrator retry) cannot double-load. The gate runs the
      // ingest TWICE and proves the target equals the source exactly.
      val dir = Scratch.dir("k26")
        .toString
      t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .repartition(4).write.parquet(s"$dir/src")
      MergeOps.copyInto(s, s"$dir/src", s"$dir/target", s"$dir/_load_log")
      MergeOps.copyInto(s, s"$dir/src", s"$dir/target", s"$dir/_load_log")
      val log = Tables.parquet(s, s"$dir/_load_log")
      Tables.parquet(s, s"$dir/target")
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(log.agg(
          countDistinct(col("f")).as("n_files_logged"))))
    },
      // target == source after a DOUBLE ingest — idempotence is the gate;
      // the 4 logged files are the repartition(4) source layout
      """SELECT count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(4 AS BIGINT) AS n_files_logged
        |FROM documents""".stripMargin),

    Query("k25_manifest_append", (s, d) => {
      // incremental zone-map maintenance on APPEND: each ingest batch
      // writes its own range layout and manifests ONLY its own files —
      // the combined index is the union of per-batch manifests, so the
      // old data is never rescanned (the Iceberg append contract). The
      // pruned band scan then plans across both batches' matched files;
      // equivalence with the full filter is the gate, as in k15.
      val dir = Scratch.dir("k25")
        .toString
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val b1 = ev.filter(col("event_id") % 2 === 0)
      val b2 = ev.filter(col("event_id") % 2 === 1)
      LayoutOps.writeRangeLayout(b1, "event_id", s"$dir/b1", numFiles = 4)
      LayoutOps.writeRangeLayout(b2, "event_id", s"$dir/b2", numFiles = 4)
      // incremental index: manifest(b2) is built from batch-2 files only
      val mf = LayoutOps.fileManifest(s, s"$dir/b1", "event_id")
        .unionByName(LayoutOps.fileManifest(s, s"$dir/b2", "event_id"))
      val mx = ev.agg(max(col("event_id"))).first().getLong(0)
      val (lo, hi) = (mx / 4, mx / 2)
      val keep = mf.filter(col("max_k").cast("long") >= lo &&
          col("min_k").cast("long") <= hi)
        .select(col("file")).collect().map(_.getString(0)).toSeq
      s.read.parquet(keep: _*)
        .filter(col("event_id").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_id"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          round(sum(col("value")), 2).as("sum_value"))
    },
      // the band filter over the whole table — pruning must drop nothing
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
        |b AS (SELECT mx // 4 AS lo, mx // 2 AS hi FROM m)
        |SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS sum_id,
        | min(event_id) AS min_id, max(event_id) AS max_id,
        | round(sum(value), 2) AS sum_value
        |FROM events, b WHERE event_id BETWEEN lo AND hi""".stripMargin),

    Query("k29_quarantine", (s, d) => {
      import s.implicits._
      // write-time constraint enforcement with a QUARANTINE table (the
      // Delta CHECK-constraint / DLT expect-or-drop shape): every row
      // routes exactly once — clean rows to the target, violations to
      // quarantine stamped with the FIRST failing rule (fixed
      // precedence: null id ≻ empty text ≻ out-of-domain lang) so a
      // pipeline can replay quarantined rows after a fix. The gate
      // reads BOTH written tables back and reconciles counts/sums per
      // destination and reason.
      val planted = Seq(
        (Option(9000001L), "", "en"),
        (Option(9000002L), "ok text here", "xx"),
        (Option.empty[Long], "no id row", "en"),
        (Option(9000004L), "fine document text", "de")
      ).toDF("doc_id", "text", "lang")
      val routed = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .unionByName(planted)
        .withColumn("reason",
          when(col("doc_id").isNull, "null_id")
            .when(col("text").isNull || length(col("text")) === 0,
              "empty_text")
            .when(!col("lang").isin("en", "de", "es", "fr", "zh"),
              "bad_lang"))
      val dir = Scratch.dir("k29")
        .toString
      routed.filter(col("reason").isNull).drop("reason")
        .write.parquet(s"$dir/target")
      routed.filter(col("reason").isNotNull)
        .write.parquet(s"$dir/quarantine")
      Tables.parquet(s, s"$dir/target")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("doc_id"), lit(0L))).as("sum_ids"))
        .select(lit("target").as("dest"), lit("ok").as("reason"),
          col("n"), col("sum_ids"))
        .unionByName(Tables.parquet(s, s"$dir/quarantine")
          .groupBy(col("reason"))
          .agg(count(lit(1)).as("n"),
            sum(coalesce(col("doc_id"), lit(0L))).as("sum_ids"))
          .select(lit("quarantine").as("dest"), col("reason"),
            col("n"), col("sum_ids")))
    },
      // same routing rules replayed; every row lands exactly once
      """WITH base AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |   (9000001, '', 'en'),
        |   (9000002, 'ok text here', 'xx'),
        |   (NULL, 'no id row', 'en'),
        |   (9000004, 'fine document text', 'de')) t(doc_id, text, lang)),
        |r AS (SELECT *, CASE WHEN doc_id IS NULL THEN 'null_id'
        |        WHEN text IS NULL OR strlen(text) = 0 THEN 'empty_text'
        |        WHEN lang NOT IN ('en', 'de', 'es', 'fr', 'zh')
        |          THEN 'bad_lang' END AS reason
        |      FROM base)
        |SELECT 'target' AS dest, 'ok' AS reason, count(*) AS n,
        | CAST(sum(coalesce(doc_id, 0)) AS BIGINT) AS sum_ids
        |FROM r WHERE reason IS NULL
        |UNION ALL
        |SELECT 'quarantine', reason, count(*),
        | CAST(sum(coalesce(doc_id, 0)) AS BIGINT)
        |FROM r WHERE reason IS NOT NULL GROUP BY 2""".stripMargin),

    Query("k31_delete_where", (s, d) => {
      // copy-on-write DELETE WHERE (the Delta/Iceberg COW path, the
      // sibling of k24's merge-on-read deletion vectors): only files
      // CONTAINING matches are rewritten without the deleted rows;
      // untouched files move into the new table version as-is (here a
      // byte copy; a production table format re-links the file in
      // metadata — zero data movement). The range layout localizes the
      // doc_id band to a file subset, so the rewrite touches < total
      // files (pinned in Round11OpsSpec); the gate is the filtered
      // aggregate.
      val dir = Scratch.dir("k31")
        .toString
      LayoutOps.writeRangeLayout(
        t(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", s"$dir/v1", numFiles = 4)
      LayoutOps.deleteWhereCow(s, s"$dir/v1", s"$dir/v2",
        col("doc_id") % 100L === 7L && col("doc_id") < 200L)
      Tables.parquet(s, s"$dir/v2")
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_ids"),
          sum(col("n_chars")).as("sum_chars"))
    },
      // the COW rewrite only changes which files hold the survivors
      """SELECT count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE NOT (doc_id % 100 = 7 AND doc_id < 200)""".stripMargin),

    Query("k30_bucket_prune", (s, d) => {
      // bucket PRUNING, the other payoff of paying the shuffle at write
      // time (k14 pins the zero-exchange join): a point lookup on the
      // bucketing key plans only the key's bucket — at 1000 buckets a
      // 100 TB table answers the lookup from 0.1% of its files, no
      // index needed. Round11OpsSpec pins SelectedBucketsCount 1/8 in
      // the scan; the oracle is the plain filtered aggregate.
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      BucketedTables.writeBucketed(li, "k30_lineitem", "l_orderkey", 8)
      // DisableUnnecessaryBucketedScan would un-bucket a scan no join
      // exploits — but pruning NEEDS the bucketed scan; keep it (the
      // conf only trades one-file-per-bucket task granularity, which
      // is exactly what a pruned point lookup wants). The flag is
      // scoped to a CLONED session (own SQLConf, shared catalog +
      // SparkContext): it must hold at planning time — when the caller
      // executes the returned frame, after this builder returns — so a
      // set/finally-restore here would restore too early, and setting
      // it on `s` would leak into every later query of a shared
      // Verify/Bench session (r11 finding)
      val ss = s.newSession()
      ss.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      ss.table("k30_lineitem")
        .filter(col("l_orderkey") === 7L)
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    },
      // the bucketed layout only changes which files serve the lookup
      """SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_orderkey = 7""".stripMargin),

    Query("k28_shallow_clone", (s, d) => {
      // SHALLOW CLONE (Delta CLONE semantics): a clone is METADATA ONLY
      // — the source's current file list recorded beside the clone, no
      // data copied — and it pins a snapshot: the source keeps evolving
      // (an append lands after cloning), the clone still reads exactly
      // the files it recorded. The file-list collect at clone read is
      // the InMemoryFileIndex floor (O(files of the clone), the k25
      // discipline). The gate shows source and clone DIVERGING: source
      // sees the append, clone doesn't.
      import s.implicits._
      val dir = Scratch.dir("k28")
        .toString
      t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .repartition(4).write.parquet(s"$dir/src")
      Tables.parquet(s, s"$dir/src")
        .select(input_file_name().as("f")).distinct()
        .write.parquet(s"$dir/clone/_files")
      // the source evolves AFTER the clone
      Seq((9000001L, 11L), (9000002L, 22L), (9000003L, 33L))
        .toDF("doc_id", "n_chars")
        .write.mode("append").parquet(s"$dir/src")
      val cloneFiles = Tables.parquet(s, s"$dir/clone/_files")
        .collect().map(_.getString(0)).toIndexedSeq
      val clone = s.read.parquet(cloneFiles: _*)
      val src = Tables.parquet(s, s"$dir/src")
      src.agg(count(lit(1)).as("n_src"), sum(col("doc_id")).as("sum_src"))
        .crossJoin(broadcast(clone.agg(count(lit(1)).as("n_clone"),
          sum(col("doc_id")).as("sum_clone"))))
    },
      // the clone pins the pre-append snapshot; the source sees the three
      // appended rows
      """SELECT count(*) + 3 AS n_src,
        | CAST(sum(doc_id) + 9000001 + 9000002 + 9000003 AS BIGINT)
        |   AS sum_src,
        | count(*) AS n_clone, CAST(sum(doc_id) AS BIGINT) AS sum_clone
        |FROM documents""".stripMargin),

    Query("k27_zorder_skip", (s, d) => {
      // 2-D data skipping through the planning-time index: events land
      // Z-ORDERED on (user_id, event_id) so every file covers a tight
      // rectangle in BOTH dimensions, the long-format multi-column
      // manifest (`_manifest_multi`, the Delta/Iceberg column-stats
      // shape) records each file's per-column [min, max], and a plain
      // filtered read through IndexedFileIndex prunes files for a
      // predicate on EITHER dimension — here a user_id band and an
      // event_id band in one conjunction (files must intersect both).
      // The oracle's full-scan filter proves pruning dropped nothing;
      // Round11OpsSpec pins files-read < total.
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val dir = Scratch.dir("k27")
        .toString + "/ev"
      LayoutOps.zorder(ev, pmod(col("user_id"), lit(65536L)),
          pmod(col("event_id"), lit(65536L)), numFiles = 8)
        .write.parquet(dir)
      LayoutOps.writeMultiManifest(s, dir, Seq("user_id", "event_id"))
      val mx = ev.agg(max(col("user_id")).as("mu"), max(col("event_id"))
        .as("me")).first()
      val (mu, me) = (mx.getLong(0), mx.getLong(1))
      graft.sources.IndexedFileIndex.read(s, dir, "user_id")
        .filter(col("user_id") >= mu / 4 && col("user_id") <= mu / 2 &&
          col("event_id") <= me / 2)
        .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_eid"),
          min(col("user_id")).as("min_uid"), max(col("user_id")).as("max_uid"),
          round(sum(col("value")), 2).as("sum_value"))
    },
      // full-scan replay of the 2-D band — the Z-order layout and the
      // multi-column manifest only change WHICH FILES are read
      """WITH m AS (SELECT max(user_id) AS mu, max(event_id) AS me
        |           FROM events)
        |SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS sum_eid,
        | min(user_id) AS min_uid, max(user_id) AS max_uid,
        | round(sum(value), 2) AS sum_value
        |FROM events, m
        |WHERE user_id >= mu // 4 AND user_id <= mu // 2
        |  AND event_id <= me // 2""".stripMargin),

    Query("k21_schema_evolve", (s, d) => {
      // schema-evolution-tolerant scan: an old batch without `lang` and
      // a new batch with it land in one dataset; mergeSchema widens the
      // read schema and back-fills nulls — the contract a long-lived
      // 100 TB corpus dir depends on as columns accrete
      val docs = t(s, d, "documents")
      val dir = Scratch.dir("k21").toString
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(dir + "/b1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(dir + "/b2")
      s.read.option("mergeSchema", "true")
        .parquet(dir + "/b1", dir + "/b2")
        .groupBy(coalesce(col("lang"), lit("_missing")).as("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    },
      // the merged-schema read back-fills lang = NULL for the old batch;
      // the oracle derives the same partition from the split rule
      """SELECT CASE WHEN doc_id % 2 = 1 THEN lang
        |  ELSE '_missing' END AS lang,
        | count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1""".stripMargin),

    Query("shuffle_epoch", (s, d) =>
      // deterministic sharded training-order shuffle for 2 epochs
      PackOps.epochShuffle(t(s, d, "documents"), "doc_id",
        epochs = 2, shards = 8),
      s"""WITH h AS (
         |  SELECT doc_id, epoch,
         |   ${hash32Sql(s"(${hash32Sql("(doc_id + 1)")} + epoch)")} AS h
         |  FROM documents,
         |   (SELECT CAST(e AS BIGINT) AS epoch FROM (VALUES (1), (2)) t(e)))
         |SELECT doc_id, epoch, h % 8 AS shard,
         | row_number() OVER (PARTITION BY epoch, h % 8 ORDER BY h, doc_id)
         |   AS pos
         |FROM h""".stripMargin),

    Query("k4_count_only", (s, d) =>
      t(s, d, "lineitem").agg(count(lit(1)).as("n_rows")),
      "SELECT count(*) AS n_rows FROM lineitem"),

    Query("layout_range_bounds", (s, d) => {
      // exact equi-depth range-partitioner bounds (8 buckets over
      // n_chars): what a range-layout writer feeds its partitioner.
      // Spark's own RangePartitioner samples; this computes the bounds
      // EXACTLY at the same scale safety by running the cumulative
      // window over the compressed (value → count) histogram —
      // O(distinct values) rows, never O(rows)
      val h = t(s, d, "documents").groupBy(col("n_chars").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy(col("v"))
      val wAll = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cum = h.withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("total", sum(col("cnt")).over(wAll))
      cum.agg(max(col("total")).as("n_rows"),
        (1 until 8).map(i =>
          min(when(col("cum") >= expr(s"(total - 1) * $i div 8") + 1,
            col("v"))).as(s"b$i")): _*)
    },
      // equi-depth bounds off the compressed histogram: bound_i = the
      // value at rank ((n-1)*i)//8 + 1 (the group-quantile rank rule)
      """WITH h AS (
        |  SELECT n_chars AS v, count(*) AS cnt FROM documents GROUP BY n_chars),
        |c AS (
        |  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum,
        |   sum(cnt) OVER () AS total FROM h)
        |SELECT CAST(max(total) AS BIGINT) AS n_rows,
        | min(CASE WHEN cum >= (total - 1) * 1 // 8 + 1 THEN v END) AS b1,
        | min(CASE WHEN cum >= (total - 1) * 2 // 8 + 1 THEN v END) AS b2,
        | min(CASE WHEN cum >= (total - 1) * 3 // 8 + 1 THEN v END) AS b3,
        | min(CASE WHEN cum >= (total - 1) * 4 // 8 + 1 THEN v END) AS b4,
        | min(CASE WHEN cum >= (total - 1) * 5 // 8 + 1 THEN v END) AS b5,
        | min(CASE WHEN cum >= (total - 1) * 6 // 8 + 1 THEN v END) AS b6,
        | min(CASE WHEN cum >= (total - 1) * 7 // 8 + 1 THEN v END) AS b7
        |FROM c""".stripMargin),

    Query("k19_inverted_index", (s, d) => {
      // the reference's core build-then-serve shape (dictionary + doc
      // vectors, Hedera's BuildVByteDocVectors lineage) as a bucketed
      // table: postings written bucketed+sorted BY TERM, so an
      // index-served term lookup aggregates with ZERO exchanges — the
      // shuffle was paid once at build time. The oracle recomputes from
      // raw documents: equality proves the index round-trip faithful
      val postings = TermOps.tfPostings(t(s, d, "documents"), "doc_id", "text")
      operators.BucketedTables.writeBucketed(postings, "k19_idx", "term", 4)
      s.table("k19_idx")
        .filter(col("term").isin("scan", "join", "merge"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    },
      // recomputed from raw documents — matching the index-served answer
      // proves the persisted postings table faithful
      s"""SELECT term, CAST(count(*) AS BIGINT) AS df,
         | CAST(sum(tf) AS BIGINT) AS cf
         |FROM (SELECT doc_id, term, count(*) AS tf FROM ($tokensSub)
         |      GROUP BY doc_id, term)
         |WHERE term IN ('scan', 'join', 'merge')
         |GROUP BY term""".stripMargin),

    Query("k11_vbyte_roundtrip", (s, d) => {
      // the reference's compressed doc-vector container (closes the
      // "parquet replaces the VByte blobs" delta): sorted dictionary ids
      // per doc encode into VByteDocVector bytes — Hadoop VInts via
      // WritableUtils, byte-parity by construction — and decode back.
      // Output = exploded (doc_id, id) plus the blob byte length, whose
      // oracle recomputes the VInt length rule arithmetically, so a
      // codec defect in either direction cannot hash-match
      val docs = t(s, d, "documents")
      val dict = TermOps.dictionary(docs, "doc_id", "text", minDf = 5L)
      TermOps.docVectors(docs, "doc_id", "text", dict)
        .select(col("doc_id"),
          expr("vbyte_encode(transform(term_ids, x -> bigint(x)))").as("vec"))
        .select(col("doc_id"), length(col("vec")).cast("long").as("n_bytes"),
          explode(expr("vbyte_decode(vec)")).as("id"))
    },
      // Hadoop-VInt length rule replayed arithmetically: one byte for
      // 0..127, else 1 marker + 1/2/3/4 big-endian magnitude bytes
      s"""WITH tf AS ($tfSub),
         |d AS (SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS id
         |      FROM (SELECT term, count(*) AS df FROM tf
         |            GROUP BY term HAVING count(*) >= 5) z),
         |ids AS (SELECT DISTINCT tf.doc_id, d.id FROM tf JOIN d USING (term)),
         |per AS (SELECT doc_id, count(*) AS n,
         |  CAST(sum(CASE WHEN id <= 127 THEN 1 WHEN id < 256 THEN 2
         |    WHEN id < 65536 THEN 3 WHEN id < 16777216 THEN 4 ELSE 5 END)
         |    AS BIGINT) AS idb
         |  FROM ids GROUP BY doc_id)
         |SELECT ids.doc_id,
         | per.idb + CASE WHEN per.n <= 127 THEN 1 WHEN per.n < 256 THEN 2
         |   WHEN per.n < 65536 THEN 3 ELSE 4 END AS n_bytes,
         | ids.id
         |FROM ids JOIN per USING (doc_id)""".stripMargin),

    Query("k12_partitioned_scan", (s, d) => {
      // hive-style partitioned layout + partition pruning: events
      // written partitionBy(event_type), read back filtered to one
      // value — the scan plans PartitionFilters and touches ONE
      // directory (pinned in PlanSpec), the bedrock layout move for
      // selective scans over 100 TB tables (the z-order file-level
      // pruning in layout_zorder is its within-partition complement)
      val dir = Scratch.dir("k12")
        .toString + "/t"
      t(s, d, "events").select(col("event_id"), col("event_type"), col("value"))
        .write.partitionBy("event_type").parquet(dir)
      s.read.parquet(dir).filter(col("event_type") === "click")
        .select(col("event_id"), round(col("value"), 2).as("value"))
    },
      """SELECT event_id, round(value, 2) AS value
        |FROM events WHERE event_type = 'click'""".stripMargin),

    Query("k32_partition_evolution", (s, d) => {
      // partition-layout EVOLUTION: the table's first day landed
      // partitioned by day only; the layout then evolved to (day, hour)
      // for all later data — the Iceberg partition-evolution shape,
      // where old files keep their coarse layout and new files are
      // finer, and a reader must prune BOTH generations without a
      // rewrite. The serving read unions the two generations
      // (allowMissingColumns fills hr = null for the coarse files) and
      // filters a time slice; the optimizer pushes the day predicate
      // into both branches' PartitionFilters and the hour predicate
      // into the fine branch (Round12Spec pins the per-branch file
      // counts). At 100 TB this is the difference between rewriting
      // history on every layout change and never rewriting at all.
      // the demo slice is the table's first three days (coarse day 1,
      // evolved days 2-3): layout behavior is day-count-independent,
      // and the repartition on the partition columns keeps the write
      // one file per directory — without it the fine write fans every
      // shuffle partition into every (day, hr) dir, a small-file storm
      val all = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("event_type"),
          col("value"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          hour(col("ts")).as("hr"))
      val minDay = all.agg(min(col("day"))).head().getString(0)
      val lastDay = java.time.LocalDate.parse(minDay).plusDays(2).toString
      val ev = all.filter(col("day") <= lastDay)
      // the two generations are a pure function of the sf dir: write
      // them ONCE per process and reuse across invocations (best-of-2
      // bench re-runs previously re-wrote both generations into a
      // fresh leaked temp dir each pass); the scratch dir is removed
      // on JVM exit
      val base = scratchDir("k32_" + d) { b =>
        ev.filter(col("day") === minDay).drop("hr")
          .repartition(col("day"))
          .write.partitionBy("day").parquet(b + "/gen_day")
        ev.filter(col("day") =!= minDay)
          .repartition(col("day"), col("hr"))
          .write.partitionBy("day", "hr").parquet(b + "/gen_day_hour")
      }
      val (genA, genB) = (base + "/gen_day", base + "/gen_day_hour")
      // hr reads back as INT partition values; coarse files re-derive
      // it from content so the logical schema is uniform
      val gens = s.read.parquet(genA)
        .withColumn("hr", hour(col("ts")))
        .unionByName(s.read.parquet(genB)
          .withColumn("hr", col("hr").cast("int")))
        // partition-column inference reads the yyyy-MM-dd dirs back as
        // DATE; the oracle (and the repo rule) emits day as a string
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      // the early-hours slice: the fine generation prunes to 6/24 of
      // its partitions; the coarse generation cannot hour-prune and
      // scans its day whole — exactly the read-amplification gap
      // partition evolution trades away for old files
      gens.filter(col("hr") < 6)
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
    },
      // generation split is invisible to the logical result — the oracle
      // replays the slice straight off the base table
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_v
        |FROM events WHERE hour(ts) < 6
        | AND ts < (SELECT date_trunc('day', min(ts)) + INTERVAL 3 DAY
        |           FROM events)
        |GROUP BY 1, 2""".stripMargin),

    Query("k13_compaction", (s, d) => {
      // small-file compaction round-trip: events land as 64 small files
      // (hive-partitioned by g = event_id % 64 — the post-ingest mess),
      // then CompactionOps packs them into target-sized bins and the
      // partitionBy(bin) rewrite emits ONE file per bin (n_files pins
      // it). Row counts stand in for byte sizes so the DuckDB oracle
      // can replay the bin assignment — same packer either way.
      val smallDir = Scratch.dir("k13")
        .toString + "/small"
      val outDir = Scratch.dir("k13")
        .toString + "/compacted"
      // r18 optimization (guide §6): repartition BY g before the
      // partitionBy(g) write — without it every scan task wrote a file
      // into every g dir (~scan-tasks × 64 small files; JobProbe read
      // them back as 235 tasks), which over-delivered on "64 small
      // files" and made the read-back pay the per-file open cost the
      // row exists to measure. One file per g is the stated fixture.
      t(s, d, "events").withColumn("g", pmod(col("event_id"), lit(64L)))
        .repartition(64, col("g"))
        .write.partitionBy("g").parquet(smallDir)
      // partition-column type inference reads g back as INT; re-derive
      // it from content so the bin map joins on a stable long key
      val small = s.read.parquet(smallDir).drop("g")
        .withColumn("g", pmod(col("event_id"), lit(64L)))
      val stats = small.groupBy("g").agg(count(lit(1)).as("sz"))
      val bins = CompactionOps.assignBins(stats, "g", "sz", target = 1500L)
      CompactionOps.compact(small, "g", bins)
        .write.partitionBy("bin").parquet(outDir)
      s.read.parquet(outDir)
        .withColumn("f", input_file_name())
        .groupBy(col("bin").cast("long").as("bin"))
        .agg(countDistinct(col("f")).as("n_files"),
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("sum_id"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
    },
      // bin assignment replayed: per-file row counts, (size desc, file
      // asc) order, exclusive-running-sum div target; n_files = 1 is the
      // pinned one-file-per-bin rewrite invariant
      """WITH g AS (
        |  SELECT event_id % 64 AS g, count(*) AS sz FROM events GROUP BY 1),
        |b AS (
        |  SELECT g, CAST((CAST(sum(sz) OVER (ORDER BY sz DESC, g ASC)
        |    AS BIGINT) - sz) // 1500 AS BIGINT) AS bin
        |  FROM g),
        |r AS (SELECT e.event_id, b.bin FROM events e
        |      JOIN b ON e.event_id % 64 = b.g)
        |SELECT bin, CAST(1 AS BIGINT) AS n_files, count(*) AS n_rows,
        | CAST(sum(event_id) AS BIGINT) AS sum_id,
        | min(event_id) AS min_id, max(event_id) AS max_id
        |FROM r GROUP BY bin""".stripMargin),

    Query("k10_seqfile_roundtrip", (s, d) => {
      // K2c: the reference's native SequenceFile container round-trips
      // — existing Hadoop consumers could read this output unchanged
      val dir = Scratch.dir("k10")
        .toString + "/seq"
      graft.sources.GraftSinks.writeSequenceFile(
        t(s, d, "documents").select(col("doc_id"), col("text")), dir)
      graft.sources.GraftSinks.readSequenceFile(s, dir, "doc_id", "text")
    },
      "SELECT doc_id, text FROM documents"),

    Query("k9_upsert", (s, d) => {
      // MERGE-shaped incremental maintenance round-trip: every 10th doc
      // re-scored (lang→'xx', n_chars bumped), one new doc appended;
      // updates override, unmatched base rows pass through, and the
      // merged corpus round-trips through the parquet sink
      val merged = upserted(t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars")))
      val dir = Scratch.dir("k9").toString
      graft.sources.GraftSinks.writeParquet(merged, dir, compression = "zstd")
      Tables.parquet(s, dir)
    },
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |upd AS (
        |  SELECT doc_id, 'xx' AS lang, n_chars + 1000000 AS n_chars
        |  FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT (SELECT max(doc_id) + 1 FROM base), 'new', 1)
        |SELECT COALESCE(u.doc_id, b.doc_id) AS doc_id,
        | COALESCE(u.lang, b.lang) AS lang,
        | COALESCE(u.n_chars, b.n_chars) AS n_chars
        |FROM base b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id""".stripMargin),

    Query("k14_bucketed_join", (s, d) => {
      // co-located bucketed join: both sides written bucketBy(8) on the
      // join key, so the merge join AND the downstream per-order
      // aggregation run with ZERO exchanges (pinned in Round9OpsSpec) —
      // the shuffle is paid once at write time and amortized over every
      // later join on the key
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      BucketedTables.writeBucketed(li, "k14_lineitem", "l_orderkey", 8)
      BucketedTables.writeBucketed(ord, "k14_orders", "o_orderkey", 8)
      s.table("k14_lineitem").hint("merge")
        .join(s.table("k14_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
    },
      """SELECT o_orderkey, o_custkey, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),

    Query("k15_manifest_skip", (s, d) => {
      // zone-map file skipping COMPOSED INTO THE READ PATH: range layout
      // by event_id, per-file min/max manifest persisted as a TABLE next
      // to the data, then a plain filtered read through
      // IndexedFileIndex — the FileIndex consults `_manifest` during
      // planning (distributed intersection, only matched paths reach the
      // driver), so skipping rides any `.filter` instead of an
      // explicit-path API; the oracle's full-scan filter proves pruning
      // dropped nothing (files-read < total pinned in Round11OpsSpec)
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val dir = Scratch.dir("k15")
        .toString + "/ev"
      LayoutOps.writeRangeLayout(ev, "event_id", dir, numFiles = 8)
      LayoutOps.writeManifestTable(s, dir, "event_id")
      val mx = ev.agg(max(col("event_id"))).first().getLong(0)
      val pruned = graft.sources.IndexedFileIndex.read(s, dir, "event_id")
        .filter(col("event_id") >= mx / 4 && col("event_id") <= mx / 2)
      pruned.agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_id"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        round(sum(col("value")), 2).as("sum_value"))
    },
      // the full-scan filter IS the pruning-safety oracle: if the manifest
      // scan skipped a file containing in-range rows, these aggregates
      // cannot match
      """WITH m AS (SELECT max(event_id) AS mx FROM events)
        |SELECT count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS sum_id,
        | min(event_id) AS min_id, max(event_id) AS max_id,
        | round(sum(value), 2) AS sum_value
        |FROM events, m
        |WHERE event_id >= mx // 4 AND event_id <= mx // 2""".stripMargin),

    Query("k17_snapshot", (s, d) => {
      // time-travel reads over an append-only versioned history: v1 =
      // base corpus, v2 = every 10th doc rescored, v3 = every 97th doc
      // tombstoned; the as-of-2 and as-of-3 snapshots differ exactly by
      // the deletions, and any past state stays reproducible
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val hist = versionHistory(base).localCheckpoint()
      Seq(2L, 3L).map(v =>
          MergeOps.snapshotAsOf(hist, "doc_id", "version", v)
            .withColumn("as_of", lit(v)))
        .reduce(_ unionByName _)
        .select(col("as_of"), col("doc_id"), col("lang"), col("n_chars"))
    },
      // latest-version-wins per (as_of, key), tombstones filtered after —
      // the snapshotAsOf read replayed with a rank window
      s"""WITH $versionHistorySql,
        |snap AS (
        |  SELECT a.as_of, h.doc_id, h.lang, h.n_chars, h.deleted,
        |   row_number() OVER (PARTITION BY a.as_of, h.doc_id
        |     ORDER BY h.version DESC) AS rn
        |  FROM h, (VALUES (2), (3)) a(as_of)
        |  WHERE h.version <= a.as_of)
        |SELECT CAST(as_of AS BIGINT) AS as_of, doc_id, lang, n_chars
        |FROM snap WHERE rn = 1 AND NOT deleted""".stripMargin),

    Query("k20_vacuum", (s, d) => {
      // retention vacuum over the k17 history: expire below version 2 —
      // per-key chains collapse to one compacted base row, horizon
      // tombstones vanish, the tail passes through. As-of reads at ≥ 2
      // stay exactly reproducible (Round9OpsSpec pins the equivalence)
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val hist = versionHistory(base).localCheckpoint()
      MergeOps.expireVersions(hist, "doc_id", "version", minVersion = 2L)
        .select(col("version"), col("doc_id"), col("lang"),
          col("n_chars"), col("deleted"))
    },
      // compacted base = latest-wins at the horizon (tombstoned keys
      // vanish) stamped version 2, plus the untouched > 2 tail
      s"""WITH $versionHistorySql,
        |cb AS (
        |  SELECT doc_id, lang, n_chars, deleted FROM (
        |    SELECT h.*, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY version DESC) AS rn
        |    FROM h WHERE version <= 2)
        |  WHERE rn = 1 AND NOT deleted)
        |SELECT CAST(2 AS BIGINT) AS version, doc_id, lang, n_chars, deleted
        |FROM cb
        |UNION ALL
        |SELECT CAST(version AS BIGINT), doc_id, lang, n_chars, deleted
        |FROM h WHERE version > 2""".stripMargin),

    Query("k18_cdc", (s, d) => {
      // change-data-capture between the base corpus and its next
      // release: every 10th doc rescored (update), every 101st dropped
      // (delete), one appended (insert) — unchanged rows never leave
      // the one full-outer join; the diff is |changes|-sized
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val newSnap = upserted(base).filter(col("doc_id") % 101 =!= 0)
      MergeOps.cdcDiff(base, newSnap, "doc_id")
    },
      // the new snapshot replayed rowwise (transform + delete filter +
      // insert), then a null-safe full-outer diff; unchanged rows drop
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |newsnap AS (
        |  SELECT * FROM (
        |    SELECT doc_id,
        |     CASE WHEN doc_id % 10 = 0 THEN 'xx' ELSE lang END AS lang,
        |     CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000000
        |          ELSE n_chars END AS n_chars
        |    FROM base
        |    UNION ALL
        |    SELECT (SELECT max(doc_id) + 1 FROM base), 'new',
        |     CAST(1 AS BIGINT))
        |  WHERE doc_id % 101 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.doc_id IS NULL THEN 'insert'
        |      WHEN n.doc_id IS NULL THEN 'delete'
        |      WHEN NOT (o.lang IS NOT DISTINCT FROM n.lang
        |            AND o.n_chars IS NOT DISTINCT FROM n.n_chars)
        |        THEN 'update' END AS change,
        | coalesce(n.lang, o.lang) AS lang,
        | coalesce(n.n_chars, o.n_chars) AS n_chars
        |FROM base o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
        |WHERE (CASE WHEN o.doc_id IS NULL THEN 'insert'
        |      WHEN n.doc_id IS NULL THEN 'delete'
        |      WHEN NOT (o.lang IS NOT DISTINCT FROM n.lang
        |            AND o.n_chars IS NOT DISTINCT FROM n.n_chars)
        |        THEN 'update' END) IS NOT NULL""".stripMargin),

    Query("k16_incr_agg", (s, d) => {
      // incremental aggregation maintenance: per-user state from the 70%
      // base batch (localCheckpoint = the materialized state table)
      // merges with the 30% delta batch's partial state — base data is
      // never rescanned; the oracle recomputes from scratch, so the hash
      // match proves the merge law
      val ev = t(s, d, "events")
      val state = MergeOps.aggState(
        ev.filter(col("event_id") % 10 < 7), "user_id", "value")
        .localCheckpoint()
      MergeOps.mergeAggState(state,
          MergeOps.aggState(ev.filter(col("event_id") % 10 >= 7),
            "user_id", "value"), "user_id")
        .select(col("user_id"), col("n"), round(col("sum_v"), 2).as("sum_v"),
          col("min_v"), col("max_v"))
    },
      // from-scratch recompute: the Spark side merges base state with the
      // delta batch's partial state without rescanning base — the hash
      // match proves incremental == full
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_v,
        | min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY 1""".stripMargin),

    Query("k33_ivm_join", (s, d) => {
      // incremental JOIN-view maintenance: the stored view J0 = A⋈B
      // (localCheckpoint = the materialized view) refreshes under
      // append deltas on BOTH sides via the delta algebra
      // J0 ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — base never re-joins base; the
      // oracle recomputes the full join from scratch, so the hash
      // match proves the algebra loses and duplicates nothing
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount"), col("l_linenumber"))
      val aBase = o.filter(col("o_orderkey") % 11 =!= 0)
      val aDelta = o.filter(col("o_orderkey") % 11 === 0)
      val bBase = li.filter(col("l_linenumber") % 4 =!= 0)
      val bDelta = li.filter(col("l_linenumber") % 4 === 0)
      val j0 = aBase.join(bBase, Seq("o_orderkey")).localCheckpoint()
      MergeOps.deltaJoinRefresh(j0, aBase, bBase, aDelta, bDelta,
          Seq("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
    },
      // bit-exact bloom replication: a big-side key passes iff ALL its 3
      // positions are set by some keep-key — false positives reproduce
      // from-scratch full join — the delta algebra must be invisible
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    Query("layout_zorder", (s, d) => {
      // Morton layout: z-value over (user_id low bits, day-of-epoch) —
      // the write-order key that makes parquet min/max stats prune on
      // EITHER dimension; the oracle replicates the bit-interleave, and
      // the aggregate per z-octant shows each octant covers a tight
      // user×time rectangle (the pruning argument in numbers)
      val ev = t(s, d, "events")
      // day-of-epoch via integer div on epoch seconds: timezone-free and
      // identical in both engines (events are 2024+, always positive)
      val z = LayoutOps.zValue(
        col("user_id").bitwiseAND(lit(0xFFFFL)),
        expr("CAST(ts AS LONG) div 86400"))
      ev.withColumn("z", z)
        .withColumn("day", expr("CAST(ts AS LONG) div 86400"))
        .groupBy(call_function("shiftright", col("z"), lit(8)).as("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
          min(col("day")).as("min_day"), max(col("day")).as("max_day"),
          min(col("z")).as("min_z"), max(col("z")).as("max_z"))
    },
      // Morton replication: the 4-step spread-bits chain per dimension,
      // day via epoch_us floor-div (tz-free, matches Spark's CAST AS LONG)
      """WITH b0 AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS day,
        |   user_id & 65535 AS x,
        |   (epoch_us(ts) // 1000000 // 86400) & 65535 AS y
        |  FROM events),
        |b1 AS (SELECT *, ((x | (x << 8)) & 16711935) AS x1,
        |  ((y | (y << 8)) & 16711935) AS y1 FROM b0),
        |b2 AS (SELECT *, ((x1 | (x1 << 4)) & 252645135) AS x2,
        |  ((y1 | (y1 << 4)) & 252645135) AS y2 FROM b1),
        |b3 AS (SELECT *, ((x2 | (x2 << 2)) & 858993459) AS x3,
        |  ((y2 | (y2 << 2)) & 858993459) AS y3 FROM b2),
        |b4 AS (SELECT *, ((x3 | (x3 << 1)) & 1431655765) AS x4,
        |  ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM b3),
        |zz AS (SELECT user_id, day, (x4 | (y4 << 1)) AS z FROM b4)
        |SELECT z // 256 AS zbucket, count(*) AS n_rows,
        | min(user_id) AS min_user, max(user_id) AS max_user,
        | min(day) AS min_day, max(day) AS max_day,
        | min(z) AS min_z, max(z) AS max_z
        |FROM zz GROUP BY 1""".stripMargin),

    // sink round-trips (K1/K5/K7): write with the engine's sink, read
    // back, emit rows; the oracle reads the original table directly
    Query("k1_tsv_roundtrip", (s, d) => {
      val dir = Scratch.dir("k1").toString
      graft.sources.GraftSinks.writeTsv(
        t(s, d, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        dir)
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("sep", "\t").csv(dir)
    },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation"),

    Query("k5_json_roundtrip", (s, d) => {
      val dir = Scratch.dir("k5").toString
      graft.sources.GraftSinks.writeJson(
        t(s, d, "region").select(col("r_regionkey"), col("r_name")), dir)
      s.read.schema("r_regionkey INT, r_name STRING").json(dir)
    },
      "SELECT r_regionkey, r_name FROM region"),

    Query("k7_dict_roundtrip", (s, d) => {
      val dir = Scratch.dir("k7").toString
      graft.sources.GraftSinks.writeDictionary(
        TermOps.dictionary(t(s, d, "documents"), "doc_id", "text", minDf = 5L), dir)
      Tables.parquet(s, dir)
    },
      s"""SELECT term, CAST(row_number() OVER (ORDER BY df DESC, term ASC) AS INT) AS id,
         | df, cf
         |FROM (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
         |      FROM ($tfSub) GROUP BY term HAVING count(*) >= 5)""".stripMargin),

    Query("k2_parquet_roundtrip", (s, d) => {
      val dir = Scratch.dir("k2").toString
      graft.sources.GraftSinks.writeParquet(
        t(s, d, "region").select(col("r_regionkey"), col("r_name")), dir,
        compression = "zstd")
      Tables.parquet(s, dir)
    },
      "SELECT r_regionkey, r_name FROM region"),

    Query("k8_orc_roundtrip", (s, d) => {
      // K2b: the ORC columnar sink round-trips with schema and values
      val dir = Scratch.dir("k8").toString
      graft.sources.GraftSinks.writeOrc(
        t(s, d, "customer").select(col("c_custkey"), col("c_mktsegment")),
        dir, compression = "zlib")
      s.read.orc(dir)
    },
      "SELECT c_custkey, c_mktsegment FROM customer"),

    Query("k6_compressed_sink", (s, d) => {
      // K6: compression option on the TSV sink (gzip), transparent on read
      val dir = Scratch.dir("k6").toString
      graft.sources.GraftSinks.writeTsv(
        t(s, d, "nation").select(col("n_nationkey"), col("n_name")), dir,
        compression = Some("gzip"))
      s.read.schema("n_nationkey INT, n_name STRING")
        .option("sep", "\t").csv(dir)
    },
      "SELECT n_nationkey, n_name FROM nation")
  )
}
