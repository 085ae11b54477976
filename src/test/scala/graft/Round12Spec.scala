package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, GraphOps, SkewOps}

/** Round-12 pins: session-conf hygiene across the whole query map, the
  * key-sanity cap, the shared-pass minhash recall harness, the
  * curate_e2e prefix plan, and pagerank's dangling-mass law. */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // --- session-conf hygiene (r11 item 5) -------------------------------

  // `Sweep.excluded` (SparkTestBase) skips the builders with side
  // effects; every st_* query runs on the StreamTrace session clone
  // (`StreamTrace.session`), so a conf leak there cannot touch the
  // shared session by construction
  test("no query builder mutates the shared session conf (k30-style " +
    "leaks caught across the full map)") {
    val offenders = Sweep.built.collect {
      case (name, b) if b.confChanged.nonEmpty => name -> b.confChanged
    }
    assert(offenders.isEmpty,
      s"builders mutated shared session conf: $offenders")
  }

  // --- key-sanity cap (r11 item 6) -------------------------------------

  private def skewed = (Seq.tabulate(10)(i => (77L, 100L + i, i.toDouble)) ++
    Seq((5L, 100L, 1.0), (5L, 101L, 2.0), (5L, 102L, 3.0)))
    .toDF("user_id", "event_id", "value")

  test("capHotKeys drops every row of over-cap keys and nothing else") {
    val kept = SkewOps.capHotKeys(skewed, "user_id", maxRows = 5L)
    assert(kept.count() == 3L)
    assert(kept.select("user_id").distinct().as[Long].collect()
      .toSet == Set(5L))
    // cap exactly at the group size keeps the group (strict >)
    assert(SkewOps.capHotKeys(skewed, "user_id", 10L).count() == 13L)
  }

  test("capHotKeys drops an over-cap NULL-key cohort too (null-safe " +
    "anti-join), agreeing with hotKeyAudit's count") {
    val withNulls = (Seq.tabulate(6)(i =>
        (None: Option[Long], 200L + i, i.toDouble)) ++
      Seq((Some(9L), 300L, 1.0), (Some(9L), 301L, 2.0)))
      .toDF("user_id", "event_id", "value")
    val kept = SkewOps.capHotKeys(withNulls, "user_id", maxRows = 5L)
    assert(kept.count() == 2L, "the 6-row null cohort must drop")
    val audit = SkewOps.hotKeyAudit(withNulls, "user_id", maxRows = 5L)
      .head()
    assert(audit.getAs[Long]("n_rows_dropped") == 6L)
  }

  test("hotKeyAudit reports total, capped keys and dropped rows") {
    val r = SkewOps.hotKeyAudit(skewed, "user_id", maxRows = 5L).head
    assert(r.getLong(0) == 2L) // n_keys
    assert(r.getLong(1) == 1L) // n_keys_capped
    assert(r.getLong(2) == 10L) // n_rows_dropped
  }

  test("capHotKeys plans a broadcast anti-join: the corpus never " +
    "shuffles for the cap") {
    val p = SkewOps.capHotKeys(skewed, "user_id", 5L)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  // --- shared-pass minhash recall harness (r11 item 3) ------------------

  test("minhashRecallStats equals the two-leg composition it replaced, " +
    "including empty-doc and short-doc edges") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "one two three four five six seven eight nine"),
      (4L, "one two three four five six seven eight nine"), // exact dup of 3
      (5L, "totally different content with no overlap at all"),
      (6L, "ab cd"), // short doc: single joined shingle
      (7L, "ab cd"), // its dup
      (8L, ""), // empty doc
      (9L, "")) // empty doc: jaccard(8,9) = 1.0 by the empty-set rule
      .toDF("doc_id", "text")
    val got = DedupOps.minhashRecallStats(base, "doc_id", "text",
      truthThreshold = 0.5, candThreshold = 0.4).head
    val truth = DedupOps.jaccardPairs(base, "doc_id", "text", 0.5)
      .select(col("id_a"), col("id_b"), lit(1L).as("tr"))
    val cand = DedupOps.verifiedNearDups(base, "doc_id", "text", 0.4)
      .select(col("id_a"), col("id_b"), lit(1L).as("cd"))
    val want = truth.join(cand, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(when(col("tr").isNotNull, 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("cd").isNotNull, 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("tr").isNotNull && col("cd").isNotNull, 1L)
          .otherwise(0L)).as("n_hits")).head
    assert(got.getLong(0) == want.getLong(0), s"n_truth: $got vs $want")
    assert(got.getLong(1) == want.getLong(1), s"n_candidates: $got vs $want")
    assert(got.getLong(2) == want.getLong(2), s"n_hits: $got vs $want")
    // the fixture exercises the edges: empty-empty candidate pair kept
    assert(want.getLong(1) >= 3L) // (1,2)-ish, (3,4), (6,7), (8,9) families
  }

  // --- curate_e2e prefix plan (r11 item 1) ------------------------------

  test("curate_e2e's near-dup stage plans the prefix-filtered candidate " +
    "path (rarity row_number window present)") {
    // the named seam curate_e2e composes — inside the full query the CC
    // fixpoint executes eagerly and truncates this subtree's lineage,
    // so the pin reads the stage's own plan
    val docs = Tables.table(spark, sf, "documents")
    val p = SparkEntry.curateNearDupPairs(docs)
      .queryExecution.executedPlan.toString
    // row_number appears ONLY in jaccardPairsPrefix's by-rarity prefix
    // selection — the plain inverted-index join has no window at all
    assert(p.contains("row_number"), p)
  }

  // --- pagerank dangling-mass law (r11 item 7) --------------------------

  test("pagerank drops sink mass: one-round rank sum follows " +
    "teleport*N + d*(1 - sink_share) exactly") {
    // node 3 is a sink (no out-edges); initial ranks 1/3 each
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val ranks = GraphOps.pagerank(edges, iters = 1)
    val total = ranks.agg(sum("rank")).head.getDouble(0)
    val expected = 0.15 + 0.85 * (1.0 - 1.0 / 3.0)
    assert(math.abs(total - expected) < 1e-12,
      s"sum=$total expected=$expected")
    assert(total < 1.0) // the mass is dropped, not redistributed
  }

  test("personalizedPagerank drops sink mass too (rank sum < 1 on a " +
    "graph with sinks)") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val total = GraphOps.personalizedPagerank(edges, Seq(1L), iters = 3)
      .agg(sum("rank")).head.getDouble(0)
    assert(total < 1.0 && total > 0.0, s"sum=$total")
  }

  // --- native shingle-hash kernel ---------------------------------------

  test("shingle_hashes equals fnv64 over the joined shingle strings, " +
    "including unicode tokens and k=1") {
    import graft.operators.TermOps
    val docs = Seq("the quick brown fox jumps over", "a b",
      "x y z", "café naïve 東京 都内 test tokens", "solo").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (k <- Seq(1, 3)) {
      val toks = TermOps.tokens(col("text"))
      val rows = docs.select(
        GraftFunctions.shingleHashes(toks, k).as("kern"),
        when(size(toks) < k, expr("array()").cast("array<bigint>"))
          .otherwise(transform(TermOps.shingleStrings(toks, k),
            x => GraftFunctions.fnv64(x))).as("ref"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k: $r")
      }
    }
  }

  // --- Gopher rule bits -------------------------------------------------

  test("gopherRules bits fire rule by rule on crafted docs") {
    val sixty = Seq.fill(15)("the scan is fast").mkString(" ")
    val docs = Seq(
      (1L, sixty),                                    // passes everything
      (2L, "tiny doc the a is"),                      // fails word count only
      (3L, (1 to 10).map(i => s"- bullet $i").mkString("\n")), // all-bullet
      (4L, sixty + " " + Seq.fill(20)("#").mkString(" ")),     // symbol-heavy
      (5L, Seq.fill(60)("12345").mkString(" "))       // no letters, no stops
    ).toDF("doc_id", "text")
    val r = graft.operators.TextAnalysisOps.gopherRules(docs, "doc_id", "text")
      .collect().map(row => row.getLong(0) -> row).toMap
    def bit(id: Long, name: String): Boolean =
      r(id).getBoolean(r(id).fieldIndex(name))
    assert(bit(1L, "keep"))
    assert(!bit(2L, "r_word_count") && bit(2L, "r_stop") && !bit(2L, "keep"))
    assert(!bit(3L, "r_bullet") && !bit(3L, "keep"))
    assert(!bit(4L, "r_symbol") && bit(4L, "r_word_count") && !bit(4L, "keep"))
    assert(!bit(5L, "r_alpha") && !bit(5L, "r_stop") && !bit(5L, "keep"))
  }

  test("gopherRules is a pure map: zero exchanges in the plan") {
    val p = graft.operators.TextAnalysisOps
      .gopherRules(Tables.table(spark, sf, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  // --- centroid outliers ------------------------------------------------

  test("centroidOutliers flags the vector pointing away from its label " +
    "centroid; collinear labels score cosine 1") {
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(0.9f, 0.1f)),
      (3L, 0, Array(1.0f, 0.1f)), (4L, 0, Array(-1.0f, 0.0f)),
      (5L, 1, Array(0.0f, 1.0f)), (6L, 1, Array(0.0f, 0.8f))
    ).toDF("vec_id", "label", "embedding")
    val out = graft.operators.SimilarityOps
      .centroidOutliers(vecs, "vec_id", "label", "embedding", threshold = 0.0)
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Double]("cos_c"), r.getAs[Boolean]("outlier")))).toMap
    assert(out(4L)._2 && out(4L)._1 < 0.0)
    assert(!out(1L)._2 && !out(2L)._2 && !out(3L)._2)
    assert(out(5L)._1 == 1.0 && out(6L)._1 == 1.0)
    assert(!out(5L)._2 && !out(6L)._2)
  }

  test("centroidOutliers scores via a broadcast join — the corpus is " +
    "never shuffled for the per-vector pass") {
    val p = graft.operators.SimilarityOps
      .centroidOutliers(Tables.table(spark, sf, "embeddings"),
        "vec_id", "label", "embedding", threshold = 0.0)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  // --- MaxScore-pruned retrieval ---------------------------------------

  test("maxScoreSearch equals the unpruned bm25Search byte-for-byte on " +
    "a skewed-df query AND on an all-common query (θ = −∞ fallback)") {
    val docs = Tables.table(spark, "/root/testdata/sf0.01", "documents")
    for (terms <- Seq(Seq("dup", "scan", "join"),
                      Seq("scan", "join", "merge"))) {
      val pruned = graft.operators.TermOps
        .maxScoreSearch(docs, "doc_id", "text", terms, k = 20).collect()
      val full = graft.operators.TermOps
        .bm25Search(docs, "doc_id", "text", terms, k = 20).collect()
      assert(pruned.toSeq == full.toSeq, s"terms=$terms")
    }
  }

  test("maxScore pruning is real: on the skewed-df query most matching " +
    "docs never reach exact scoring") {
    val docs = Tables.table(spark, "/root/testdata/sf0.01", "documents")
    val terms = Seq("dup", "scan", "join")
    val (_, _, candidates) = graft.operators.TermOps
      .maxScoreCandidates(docs, "doc_id", "text", terms, k = 20)
    val nCand = candidates.count()
    val nMatching = docs.filter(
      size(filter(graft.operators.TermOps.tokens(col("text")),
        t => t.isin(terms: _*))) > 0).count()
    // sf0.01: 'dup' df ≈ 25, near-stopwords match ~all 500 docs — the
    // candidate set must stay within ~2× the rare-term df
    assert(nCand < nMatching / 5,
      s"candidates=$nCand matching=$nMatching — pruning ineffective")
    assert(nCand >= 20, s"candidates=$nCand must cover top-k")
  }

  // --- interval-overlap join edges -------------------------------------

  test("intervalOverlapJoin: half-open adjacency and zero-length " +
    "intervals don't match; bucket-crossing pairs emit exactly once") {
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val left = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 10:00:00"), 100L),
      (1L, ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 101L), // zero-length
      (2L, ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"), 102L)) // spans 2 day-buckets
      .toDF("k", "ls", "le", "lid")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 20:00:00"), 200L), // adjacent to 100: no overlap
      (1L, ts("2024-01-01 09:00:00"), ts("2024-01-01 11:00:00"), 201L), // overlaps 100
      (1L, ts("2024-01-01 11:00:00"), ts("2024-01-01 13:00:00"), 202L), // contains the zero-length 101: still no overlap (empty interval)
      (2L, ts("2024-01-01 23:00:00"), ts("2024-01-02 01:00:00"), 203L)) // crosses midnight inside 102
      .toDF("k", "rs", "re", "rid")
    val got = graft.operators.AsofOps.intervalOverlapJoin(
        left, right, "k", "ls", "le", "rs", "re", bucketMs = 86400000L)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
    // 100⨯201 overlap; 100⨯200 adjacent (half-open); 101 zero-length
    // matches nothing; 102⨯203 overlaps and shares TWO buckets — one row
    assert(got == Seq((100L, 201L), (102L, 203L)), got.toString)
  }

  // --- delta join-view algebra ------------------------------------------

  test("deltaJoinRefresh multiplies duplicate keys exactly like the " +
    "from-scratch join") {
    val a0 = Seq((1L, "a1"), (2L, "a2")).toDF("k", "av")
    val da = Seq((1L, "a3"), (3L, "a4")).toDF("k", "av")
    val b0 = Seq((1L, "b1"), (1L, "b2"), (3L, "b3")).toDF("k", "bv")
    val db = Seq((1L, "b4"), (2L, "b5")).toDF("k", "bv")
    val j0 = a0.join(b0, Seq("k"))
    val inc = graft.operators.MergeOps
      .deltaJoinRefresh(j0, a0, b0, da, db, Seq("k"))
      .select("k", "av", "bv").as[(Long, String, String)]
      .collect().toSeq.sorted
    val full = a0.unionByName(da).join(b0.unionByName(db), Seq("k"))
      .select("k", "av", "bv").as[(Long, String, String)]
      .collect().toSeq.sorted
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc.size == 8) // k=1: 3 a-rows × ... exact fan-out preserved
  }

  // --- gumbel top-k ------------------------------------------------------

  test("gumbelTopK returns the whole population when k exceeds it, " +
    "ranked deterministically") {
    val df = Seq((1L, 10L), (2L, 1L), (3L, 1000L), (4L, 0L))
      .toDF("id", "w")
    val out = graft.operators.SketchOps.gumbelTopK(df, "id", "w", k = 10)
      .collect()
    assert(out.length == 3, "w <= 0 rows drop, rest all return")
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    // re-running yields the identical ranking (hash-deterministic)
    val again = graft.operators.SketchOps.gumbelTopK(df, "id", "w", k = 10)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(again == out.map(_.getAs[Long]("id")).toSeq)
  }

  // --- partition evolution ---------------------------------------------

  test("k32_partition_evolution: the fine generation hour-prunes via " +
    "PartitionFilters, the coarse generation cannot") {
    val df = SparkEntry.queries("k32_partition_evolution")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.split("FileScan parquet").drop(1)
    assert(scans.length == 2, s"expected two generation scans:\n$plan")
    val (fine, coarse) = {
      val f = scans.filter(_.contains("PartitionFilters: [isnotnull(hr"))
      val c = scans.filterNot(_.contains("PartitionFilters: [isnotnull(hr"))
      (f, c)
    }
    // exactly one branch prunes on hr; the other's partition filters
    // carry no hr predicate (day-only layout predates the hr column)
    assert(fine.length == 1, s"fine-generation scan not hr-pruned:\n$plan")
    assert(coarse.length == 1 && !coarse.head.contains("hr#"),
      s"coarse scan unexpectedly sees an hr partition column:\n$plan")
  }
}
