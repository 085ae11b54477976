package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Plan-contract tests: the physical shapes the 100 TB design depends on
  * must survive refactors — broadcasts stay broadcast, pruning reaches
  * the scan, windows shuffle once. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q5's six-table chain broadcasts every dimension side and never " +
    "plans a cartesian") {
    val p = plan("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j1 plans a broadcast hash join (no shuffle join for the dim side)") {
    val p = plan("j1_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q1 scan is column-pruned to the five referenced columns") {
    val p = plan("q1_pricing_summary")
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse(fail(p))
    val names = scanCols.split(",").map(_.trim.takeWhile(_ != '#')).toSet
    assert(names == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus"), p)
  }

  test("p4 pushes the n_chars filter into the parquet scan") {
    val p = plan("p4_projection")
    assert(p.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,200)]"), p)
  }

  test("events ts predicates reach the parquet scan (µs path)") {
    // µs-layout scan (direct read or eventsMicros rewrite) pushes both
    // bounds to the scan — row-group stats pruning works
    val us = plan("p3_time_range_us")
    assert(us.contains("IsNotNull(ts)") &&
      us.contains("GreaterThanOrEqual(ts,") && us.contains("LessThan(ts,"), us)
    val direct = plan("p3_time_range")
    if (Tables.eventsIsNanos(spark, sf)) {
      // legacy nanos layout: ts is derived from raw int64, so the direct
      // scan cannot prune on it — only the rewrite above can
      assert(!direct.contains("GreaterThanOrEqual(ts"), direct)
    } else {
      // µs layout on disk: the direct read pushes down too
      assert(direct.contains("GreaterThanOrEqual(ts,"), direct)
    }
  }

  test("text_oov_rate broadcasts the vocabulary: corpus tokens never " +
    "shuffle for the membership join") {
    val p = plan("text_oov_rate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // three hash exchanges total, ALL on bounded/rolled-up relations:
    // the vocab build's (doc,term) distinct + term df agg, and the
    // final doc-keyed rollup — the exploded corpus token stream itself
    // joins map-side and never shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 3, p)
  }

  test("pack_chunks is a pure map + generator: zero exchanges") {
    val p = plan("pack_chunks")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate"), p)
  }

  test("text_token_count is a pure map: zero exchanges, no UDF") {
    val p = plan("text_token_count")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("w1 window shuffles once on the partition key") {
    val p = plan("w1_lag_pairs")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("a14 rollup plans one Expand feeding a single aggregate exchange") {
    val p = plan("a14_rollup")
    assert(p.contains("Expand"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("group quantiles ride one exchange (rank, size and agg share it)") {
    val p = plan("stats_group_quantiles")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("budget fill rides one exchange (cumulative window and agg share lang)") {
    val p = plan("curate_budget")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("time-weighted average rides one exchange on user_id") {
    val p = plan("t13_twa")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("a15 pivot with explicit values costs one aggregation exchange") {
    val p = plan("a15_pivot")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("partitioned layout prunes the scan to one directory") {
    val p = plan("k12_partitioned_scan")
    assert(p.contains("PartitionFilters:"), p)
    assert(p.contains("= click"), p)
  }

  test("bottom-k sample plans TakeOrderedAndProject, not a global sort") {
    val p = plan("sample_bottomk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("wikirev scan prunes text when only headers are projected") {
    val df = graft.sources.WikiXml.readHeaders(spark,
      graft.sources.WikiFixtures.standardXmlPath)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("text"), scan)
  }

  test("the anchor-text job over one dump plans no exchange; over a " +
    "two-file glob it shuffles once, on page_id") {
    import graft.sources.WikiFixtures
    def jobPlan(path: String) = jobs.ExtractTemporalAnchorText.frame(spark, path)
      .queryExecution.executedPlan.toString
    val one = jobPlan(WikiFixtures.standardXmlPath)
    assert(!one.contains("Exchange"), one)
    WikiFixtures.graphXmlPath // the second file of the glob
    val glob = jobPlan(java.nio.file.Paths.get(WikiFixtures.standardXmlPath)
      .resolveSibling("{testwiki,graphwiki}.xml").toString)
    assert("Exchange".r.findAllIn(glob).length == 1, glob)
    assert(glob.contains("Exchange hashpartitioning(page_id"), glob)
  }

  test("bucketed fact-fact join runs with no shuffle exchange") {
    val lineitem = Tables.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val orders = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
    operators.BucketedTables.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 4)
    operators.BucketedTables.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val joined = operators.BucketedTables.coLocatedJoin(
        spark, "b_lineitem", "b_orders", "l_orderkey", "o_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p) // co-located: shuffle paid at write
      assert(p.contains("SortMergeJoin"), p)
      assert(joined.count() == lineitem.count()) // every lineitem has an order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("upsert over a bucketed base shuffles only the delta side") {
    // the k9 scale claim made checkable: with the base table bucketed on
    // the merge key, the full-outer merge join reads the base exchange-
    // free and only the (small) update batch shuffles
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
    operators.BucketedTables.writeBucketed(docs, "b_docs_upsert", "doc_id", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val base = spark.table("b_docs_upsert")
      val updates = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit("xx").as("lang"), col("n_chars"))
      val p = operators.MergeOps.upsert(base, updates, "doc_id")
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
      assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("cdcDiff over two bucketed snapshots plans zero exchanges") {
    // the k18 scale claim made checkable: with both snapshots bucketed
    // on the key, the full-outer diff join is co-located — the nightly
    // CDC between two table versions never shuffles either side
    val docs = Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "n_chars")
    operators.BucketedTables.writeBucketed(docs, "b_cdc_old", "doc_id", 4)
    operators.BucketedTables.writeBucketed(
      docs.filter(col("doc_id") % 7 =!= 0), "b_cdc_new", "doc_id", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val diff = operators.MergeOps.cdcDiff(
        spark.table("b_cdc_old"), spark.table("b_cdc_new"), "doc_id")
      val p = diff.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
      assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
      // every emitted row is a delete of a %7 doc
      assert(diff.select("change").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("delete"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("a16 feature hash plans exactly one exchange (no per-term pre-aggregation)") {
    // the hashing trick's scale property: raw token occurrences
    // aggregate straight to (doc, bucket) — one shuffle bounded at
    // docs×dim rows by the map-side partial aggregation
    val p = plan("a16_feature_hash")
    assert(p.split("Exchange").length - 1 == 1, p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("text_overlap_frac probes benchmark grams by broadcast (corpus side never shuffles text)") {
    val p = plan("text_overlap_frac")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("k19 index-served term lookup plans zero exchanges") {
    // the build-then-serve property: postings bucketed by term mean the
    // term aggregation's shuffle was paid once at build time
    val served = SparkEntry.queries("k19_inverted_index")(spark, sf)
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(served.count() > 0)
  }

  test("embed_project is a pure map: zero exchanges") {
    // JL projection must stay embarrassingly parallel — weight vectors
    // are plan-time literals, nothing shuffles
    val p = plan("embed_project")
    assert(!p.contains("Exchange"), p)
  }

  test("stats_winsorize runs rank, bounds and rollup on one exchange") {
    val p = plan("stats_winsorize")
    assert(p.split("Exchange").length - 1 == 1, p)
  }

  test("j6 chain broadcasts both dimension maps (no shuffle joins)") {
    val p = plan("j6_wikistats")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
  }

  test("curate_docs computes metrics map-only: one semi-join, one agg shuffle") {
    val p = plan("curate_docs")
    // quality + lang-id must NOT be joined in — a single projection pass
    assert("Join".r.findAllIn(p).length == 1, p)
    assert(p.contains("LeftSemi"), p)
    // the only hash exchange is the exact-dedup aggregation
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("minhash/simhash candidates build no fat bucket rows") {
    // the exploded self-join shape: bucket membership joins on the bucket
    // key; no collect_list materializing up-to-maxBucket-wide rows
    Seq("dedup_minhash_cand", "dedup_simhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("collect_list"), s"$q: $p")
    }
  }

  test("ann_lsh_join shuffles on bucket with no broadcast and a group-limit window") {
    val p = plan("ann_lsh_join")
    // the whole point of the variant: nothing broadcasts (query set may
    // be corpus-sized), and no nested-loop fallback sneaks in
    assert(!p.contains("Broadcast"), p)
    assert(p.contains("SortMergeJoin"), p)
    // rank<=k must run as WindowGroupLimit (partial per-task top-k
    // heaps), not a full per-query sort-then-filter
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("ivf corpus-side cell assignment is a hash aggregation, not a window") {
    val p = plan("ann_ivf_topk")
    assert(p.contains("max_by"), p)
    // windows remain only on the query side (nProbe probes, final top-k)
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows <= 2, s"$windows windows: $p")
  }

  test("dedup_spans joins hashed windows, never text, and never cartesian") {
    val p = plan("dedup_spans")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    // windows travel as fnv64 hashes (since r12 via the native
    // shingle_hashes kernel, which never materializes the gram
    // strings): every Exchange partitions on a doc_id/gh long key
    assert(p.contains("shingle_hashes"), p)
    assert(!"Exchange hashpartitioning\\(gram".r.findFirstIn(p).isDefined, p)
  }

  test("shuffle_epoch windows per (epoch, shard), never globally") {
    val p = plan("shuffle_epoch")
    val spec = "windowspecdefinition\\(([^,]+), ([^,]+),".r.findFirstMatchIn(p)
      .getOrElse(fail(p))
    assert(spec.group(1).startsWith("epoch") && spec.group(2).startsWith("shard"), p)
  }

  test("sample_temperature never shuffle-joins: rate table and max broadcast") {
    val p = plan("sample_temperature")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  // whole-suite sweeps skip `Sweep.excluded` (SparkTestBase). Frame
  // sampling is native now (frame_sigs expression), so mm_frame_sample is
  // swept like any query.
  private lazy val sweepPlans: Seq[(String, String)] =
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(Sweep.excluded)
      .map { name =>
        name -> SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
      }

  test("no query plans a ScalaUDF: the whole function surface is codegen-tier") {
    val offenders = sweepPlans.collect {
      case (name, p) if p.contains("ScalaUDF") || p.contains("UDF(") => name
    }
    assert(offenders.isEmpty, s"queries still planning UDFs: $offenders")
  }

  test("no query plans a CartesianProduct: every cross is a tiny broadcast") {
    // a crossJoin against a broadcast-sized side plans BroadcastNested-
    // LoopJoin (fine: one side is O(1)); CartesianProductExec means an
    // unbounded pairwise blow-up reached the planner — always a bug at
    // 100 TB
    val offenders = sweepPlans.collect {
      case (name, p) if p.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty, s"queries planning cartesian products: $offenders")
  }

  test("j7 bloom prune keeps the fact side join-free") {
    // the whole point of the operator: membership is a codegen'd filter
    // against a bitmap literal, so the only exchange in the query is the
    // final tiny aggregation — never a join on the fact table
    val p = plan("j7_bloom_prune")
    assert(!p.contains("Join"), p)
  }

  test("w6 batch sessionize shuffles once: agg reuses the window partitioning") {
    val p = plan("w6_sessionize")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("o6 salted join plans a shuffled join, never a broadcast") {
    val p = plan("o6_salted_join")
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("o7 group-wise top-k plans a WindowGroupLimit (pre-shuffle heaps)") {
    val p = plan("o7_topk_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dedup_paragraph line election is aggregation-based: no window " +
    "operator anywhere in the plan") {
    val p = plan("dedup_paragraph")
    assert(!p.contains("Window ["), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("exactRank consumers keep their only unpartitioned window on " +
    "the O(distinct) value histogram, never the corpus") {
    for (q <- Seq("pack_shards", "sample_curriculum", "stats_gini",
        "stats_qnorm", "pack_e2e")) {
      val p = plan(q)
      val wins = p.linesIterator.filter(_.contains("Window [")).toSeq
      // Window prints `[exprs], [order]` unpartitioned and
      // `[exprs], [partition], [order]` partitioned
      val unpart = wins.filter(l => "\\], \\[".r.findAllIn(l).length == 1)
      assert(unpart.size == 1, s"$q:\n${wins.mkString("\n")}")
      assert(unpart.head.contains("__v"), s"$q: ${unpart.head}")
    }
  }

  test("stats_bootstrap shuffles only the 32 resample keys, not the " +
    "exploded corpus") {
    val p = plan("stats_bootstrap")
    // one aggregation exchange on b; the explode stays map-side
    val exchanges = "Exchange hashpartitioning\\(b".r.findAllIn(p).length
    assert(exchanges == 1, p)
    assert(!p.contains("Exchange hashpartitioning(doc_id"), p)
  }

  test("stats_spearman windows are all PARTITIONED by event_type: no " +
    "task ever owns more than one group's ranks") {
    val p = plan("stats_spearman")
    val wins = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wins.size == 4, wins.mkString("\n")) // rank + tie-count, ×2
    // every windowspecdefinition partitions on event_type (a bare
    // `], [order]` global window would not mention it there)
    assert(wins.forall(_.contains("windowspecdefinition(event_type")),
      wins.mkString("\n"))
    // and they all ride ONE exchange: the single hashpartitioning on
    // event_type below feeds all four
    assert("Exchange hashpartitioning\\(event_type"
      .r.findAllIn(p).length == 1, p)
  }

  test("text_ttr is a pure map: zero exchanges") {
    val p = plan("text_ttr")
    assert(!p.contains("Exchange"), p)
  }

  test("stats_analyze reads the table once: one scan, one Expand for " +
    "the shared distinct counts") {
    val p = plan("stats_analyze")
    assert("FileScan parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("Expand"), p)
  }

  test("t16_decay broadcasts the one-row 'now' anchor, never shuffles " +
    "the fact side for it") {
    val p = plan("t16_decay")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    // the only hash exchange is the user_id aggregation
    val agg = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(agg >= 1, p)
  }

  test("embed_drift scans the corpus once: the final plan consumes the " +
    "materialized O(labels × 64) histogram, never a parquet rescan") {
    val p = plan("embed_drift")
    // both the global re-agg and the cosine read the checkpointed
    // per-(label, pos) sums — a second FileScan would mean the corpus
    // posexplode ran twice
    assert("FileScan parquet".r.findAllIn(p).isEmpty, p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("stats_welch scans the corpus once: totals re-aggregate the " +
    "checkpointed per-source moments") {
    val p = plan("stats_welch")
    assert("FileScan parquet".r.findAllIn(p).isEmpty, p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
  }

  test("ann_rerank re-rank stage joins only broadcast candidate sets " +
    "against the corpus — no shuffle join") {
    val p = plan("ann_rerank")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("layout_depth sweep windows are partitioned by layout and run " +
    "over the checkpointed O(files) manifest") {
    val p = plan("layout_depth")
    // the rank/histogram stage lives behind the manifest checkpoint —
    // the query-path windows (sweep depth + lead) are all partitioned
    val wins = p.linesIterator.filter(_.contains("Window [")).toSeq
    val unpart = wins.filter(l => "\\], \\[".r.findAllIn(l).length == 1)
    assert(unpart.isEmpty, wins.mkString("\n"))
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("k23 bloom-skip lookup reads through the planning-time bloom " +
    "index, with no collected partition-id literal in the plan") {
    val p = plan("k23_bloom_skip")
    // the lookup scan's file listing is the IndexedFileIndex (which
    // consults `_bloom` in listFiles); the pre-round-11 shape collected
    // qualified group ids and planned them as a g-isin PartitionFilter
    assert(p.contains("IndexedFileIndex"), p)
    assert(!p.contains("PartitionFilters: [g"), p)
  }

  test("t18_decompose windows are partitioned by event_type") {
    val p = plan("t18_decompose")
    val wins = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wins.nonEmpty, p)
    assert(wins.forall(_.contains("windowspecdefinition(event_type")),
      wins.mkString("\n"))
  }

  test("graph_assortativity plans no cartesian product and one final " +
    "single-row aggregate") {
    val p = plan("graph_assortativity")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_novelty first-occurrence window is partitioned on the " +
    "shingle hash — no join-back, no global window") {
    val p = plan("text_novelty")
    val wins = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wins.size == 1, wins.mkString("\n"))
    assert(wins.head.contains("windowspecdefinition(h#"), wins.head)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedup_cross_corpus joins only on bucket/id keys — no cartesian " +
    "or nested-loop pair generation") {
    val p = plan("dedup_cross_corpus")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("stats_mutual_info margins re-aggregate the checkpointed cells " +
    "— one corpus scan") {
    val p = plan("stats_mutual_info")
    assert("FileScan parquet".r.findAllIn(p).isEmpty, p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("cluster_silhouette scores through broadcast joins only: the " +
    "corpus never shuffles to meet the k-row centroid table") {
    val p = plan("cluster_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_zipf plans TakeOrdered over the term aggregate — no " +
    "global sort of the vocabulary") {
    val p = plan("text_zipf")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("stats_ipw's only unpartitioned window runs over the O(distinct " +
    "n_ev) histogram, never the user relation") {
    // exactRank's cumulative window sees one row per distinct n_ev
    // value; the user relation itself is only hash-aggregated
    val p = plan("stats_ipw")
    // a global Window directly over the ue aggregate would show a full
    // user-relation sort feeding Window; the histogram path sorts only
    // the __v/__n cells. Pin: exactly one Sort feeds each Window and no
    // window partitions on user_id.
    assert(!p.contains("Window [row_number() windowspecdefinition(user_id"),
      p)
  }

  test("driver smoke: entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("GraftFunctions.register exposes the function surface to SQL") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq("See [[A|b]] and http://x.io now {{Tmpl}}").toDF("t")
      .createOrReplaceTempView("reg_in")
    val row = spark.sql(
      """SELECT size(extract_links(t)) AS links, size(extract_refs(t)) AS refs,
        |  size(extract_templates(t)) AS tmpls, normalize_title('a b#c') AS norm,
        |  lang_id('the cat is on the mat') AS lang
        |FROM reg_in""".stripMargin).collect().head
    assert(row.getInt(0) == 1 && row.getInt(1) == 1 && row.getInt(2) == 1)
    assert(row.getString(3) == "A_b" && row.getString(4) == "en")
  }
}
