package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

class Round9OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- DedupOps.semanticDedup ----

  test("semanticDedup keeps the min-id member of each within-cluster near-dup group") {
    // two DIRECTIONALLY separated groups (cosine is scale-invariant, so
    // groups must differ in direction, not magnitude); each contains an
    // identical pair that must collapse to its min id
    val vA = Array.tabulate(8)(i => if (i % 2 == 0) 1.0 else 0.1)
    val vB = Array.tabulate(8)(i => if (i % 2 == 0) 0.1 else 1.0)
    val vA2 = vA.clone(); vA2(1) = 0.4 // same direction-ish, cos ≈ 0.99
    val emb = Seq(
      (1L, vA), (2L, vA),   // identical pair, group A
      (3L, vA2),            // group A, below the threshold
      (10L, vB), (11L, vB)  // identical pair, group B
    ).toDF("vec_id", "embedding")
    val out = DedupOps.semanticDedup(emb, k = 2, iters = 2, threshold = 0.999999)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && !out(2L))   // 2 drops against identical 1
    assert(out(10L) && !out(11L)) // 11 drops against identical 10
    assert(out(3L))               // similar-but-below-threshold survives
    // identical vectors must land in the same cluster
    val cl = DedupOps.semanticDedup(emb, k = 2, iters = 2, threshold = 0.999999)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(cl(1L) == cl(2L) && cl(10L) == cl(11L))
  }

  test("semanticDedup pair generation joins on the cluster key, never all-pairs") {
    val emb = (1L to 20L).map(id => (id, Array.tabulate(8)(i => id * 1.0 + i)))
      .toDF("vec_id", "embedding")
    val p = DedupOps.semanticDedup(emb, k = 2, iters = 1, threshold = 0.99)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert("Exchange hashpartitioning\\(cluster".r.findFirstIn(p).isDefined, p)
  }

  // ---- ClusterOps plan-depth invariance (lineage truncation) ----

  test("kmeansAssign plan size is constant in iters (centroids checkpoint per round)") {
    val emb = (1L to 12L).map(id => (id, Array.tabulate(4)(i => (id % 3) * 5.0 + i)))
      .toDF("vec_id", "embedding")
    def planNodes(iters: Int): Int =
      ClusterOps.kmeansAssign(emb, k = 2, iters = iters)
        .queryExecution.optimizedPlan.collect { case n => n }.size
    assert(planNodes(4) == planNodes(2))
  }

  // ---- CompactionOps ----

  test("assignBins packs size-desc sequential-fill bins deterministically") {
    val stats = Seq(("a", 10L), ("b", 7L), ("c", 5L), ("d", 3L)).toDF("f", "sz")
    val bins = CompactionOps.assignBins(stats, "f", "sz", target = 12L)
      .select("f", "bin").as[(String, Long)].collect().toMap
    // excl cumsums in (sz desc, f asc) order: a=0, b=10, c=17, d=22
    assert(bins == Map("a" -> 0L, "b" -> 0L, "c" -> 1L, "d" -> 1L))
  }

  test("assignBins ties break on the file id") {
    val stats = Seq(("y", 5L), ("x", 5L), ("z", 5L)).toDF("f", "sz")
    val bins = CompactionOps.assignBins(stats, "f", "sz", target = 10L)
      .select("f", "bin").as[(String, Long)].collect().toMap
    // order x, y, z -> excl cumsums 0, 5, 10 -> bins 0, 0, 1
    assert(bins == Map("x" -> 0L, "y" -> 0L, "z" -> 1L))
  }

  test("compact routing moves data through exactly one hash exchange, on bin") {
    val df = (1L to 100L).map(id => (id % 8, id)).toDF("g", "event_id")
    // stats arrive as the file-level metadata relation they are (one row
    // per file — recomputing them here would add an unrelated exchange)
    val stats = (0L to 7L).map(g => (g, 12L + g % 2)).toDF("g", "sz")
    val bins = CompactionOps.assignBins(stats, "g", "sz", target = 40L)
    val p = CompactionOps.compact(df, "g", bins)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning\\(([a-zA-Z_]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx == Seq("bin"), s"hash exchanges on: $hashEx\n$p")
  }

  // ---- SimilarityOps residual IVFPQ ----

  test("ivfpqResidualTopK separates planted groups like the plain PQ paths") {
    // two directionally distinct tight groups in 8-dim space
    val vecs = (1L to 20L).map { id =>
      val hot = if (id <= 10) 0 else 1
      (id, Array.tabulate(8)(j =>
        (if (j % 2 == hot) 5.0 else 0.5) + 0.01 * ((id + j) % 5)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfpqResidualTopK(df,
      df.filter(col("vec_id").isin(1L, 15L)), k = 3,
      nCentroids = 4, nProbe = 2, m = 2, codes = 4, dims = 8)
      .select("query_id", "nbr_id", "rank").as[(Long, Long, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ(1L).size == 3 && byQ(1L).forall(_._2 <= 10))
    assert(byQ(15L).size == 3 && byQ(15L).forall(_._2 > 10))
  }

  // ---- LayoutOps guard ----

  test("zorder refuses an input that already carries a _z column") {
    val df = Seq((1L, 2L, 3L)).toDF("x", "y", "_z")
    val e = intercept[IllegalArgumentException] {
      LayoutOps.zorder(df, col("x"), col("y"), numFiles = 2)
    }
    assert(e.getMessage.contains("_z"))
  }

  // ---- SkewOps deterministic salts ----

  test("saltedJoin salts are stable under recomputation and results exact") {
    val big = (1L to 60L).map(i => (i % 3, i)).toDF("k", "v")
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "tag")
    val salted = SkewOps.saltedJoin(big, small, "k", salts = 4)
      .select("k", "v", "tag")
    val plain = big.join(small, "k").select("k", "v", "tag")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // no nondeterministic expressions anywhere in the plan
    val lp = salted.queryExecution.optimizedPlan
    assert(lp.expressions.forall(_.deterministic))
  }

  // ---- SketchOps HLL ----

  test("hll registers merge by cell-wise max across shards to the global registers") {
    val df = (1L to 500L).map(i => (i, i % 7)).toDF("k", "shard")
    val global = SketchOps.hllRegisters(df, "k")
    val merged = (0L to 6L)
      .map(sh => SketchOps.hllRegisters(df.filter(col("shard") === sh), "k"))
      .reduce(_ unionByName _)
      .groupBy("bucket").agg(max(col("rho")).as("rho"))
    assert(merged.exceptAll(global).isEmpty && global.exceptAll(merged).isEmpty)
  }

  test("hll estimate lands in the expected error band on both branches") {
    val est = SketchOps.hllSummary((1L to 2000L).toDF("k"), "k")
      .select("est").as[Double].collect().head
    // sigma ≈ 1.04/sqrt(64) ≈ 13%; allow 3 sigma
    assert(math.abs(est - 2000.0) / 2000.0 < 0.4, s"est=$est")
    // a small set lands on the linear-counting branch, near-exact
    val estS = SketchOps.hllSummary((1L to 20L).toDF("k"), "k")
      .select("est").as[Double].collect().head
    assert(math.abs(estS - 20.0) < 5.0, s"est=$estS")
  }

  // ---- SketchOps.histogramQuantiles ----

  test("histogram quantile read-off lands within one bin of the exact rank") {
    val df = (0 until 1000).map(i => ("g", i.toDouble)).toDF("g", "v")
    val q = SketchOps.histogramQuantiles(df, "g", "v", 8.0, Seq(0.5, 0.9))
      .select("p", "q_est").as[(Double, Double)].collect().toMap
    assert(math.abs(q(0.5) - 500.0) <= 8.0, q.toString)
    assert(math.abs(q(0.9) - 900.0) <= 8.0, q.toString)
  }

  // ---- PackOps.mixtureSample ----

  test("mixtureSample hits exact targets, clamps scarce domains, drops unlisted ones") {
    val docs = ((1L to 50L).map(i => (i, "en")) ++
      (51L to 53L).map(i => (i, "de")) ++
      (54L to 60L).map(i => (i, "fr"))).toDF("id", "lang")
    val out = PackOps.mixtureSample(docs, "id", "lang",
        Map("en" -> 10L, "de" -> 5L))
      .groupBy("domain").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(out == Map("en" -> 10L, "de" -> 3L)) // de clamps; fr excluded
    // deterministic: a re-run selects the identical id set
    val a = PackOps.mixtureSample(docs, "id", "lang", Map("en" -> 10L))
      .select("doc_id").as[Long].collect().toSet
    val b = PackOps.mixtureSample(docs, "id", "lang", Map("en" -> 10L))
      .select("doc_id").as[Long].collect().toSet
    assert(a == b && a.size == 10)
  }

  // ---- k14 bucketed join + downstream agg: zero exchanges ----

  test("k14 bucketed join and its downstream aggregation plan zero exchanges") {
    val out = SparkEntry.queries("k14_bucketed_join")(
      spark, "/root/testdata/sf0.001")
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(p.contains("SortMergeJoin"), p)
  }

  // ---- streaming CMS bucket goldens ----

  test("st_cms trace buckets match the batch count-min bucket family") {
    val rows = Seq("1", "2").toDF("k")
      .select(col("k"), expr("fnv64(concat(k, '#0')) & 255").as("b0"),
        expr("fnv64(concat(k, '#1')) & 255").as("b1"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows == Map("1" -> (135L, 212L), "2" -> (54L, 233L)))
  }

  // ---- SketchOps.prioritySample ----

  test("prioritySample is partition-invariant and exact below k") {
    val docs = (1L to 300L).map(i => (i, i % 50 + 1)).toDF("id", "w")
    val a = SketchOps.prioritySample(docs, "id", "w", k = 40)
      .select("id").as[Long].collect().toSet
    val b = SketchOps.prioritySample(docs.repartition(13), "id", "w", k = 40)
      .select("id").as[Long].collect().toSet
    assert(a == b && a.size == 40)
    // population smaller than k: everything sampled, estimator exact
    val small = Seq((1L, 5L), (2L, 7L), (3L, 2L)).toDF("id", "w")
    val est = SketchOps.prioritySample(small, "id", "w", k = 10)
      .select("w", "w_est").as[(Double, Double)].collect()
    assert(est.length == 3 && est.forall { case (w, e) => e == w })
  }

  test("prioritySample estimator weight is max(w, tau) with tau the k+1-th priority") {
    val docs = (1L to 50L).map(i => (i, 10L)).toDF("id", "w")
    val out = SketchOps.prioritySample(docs, "id", "w", k = 5)
      .select("priority", "w_est").as[(Double, Double)].collect()
    assert(out.length == 5)
    // equal weights: tau < every selected priority, and tau > w exactly
    // when the 6th priority exceeds the weight
    val full = SketchOps.prioritySample(docs, "id", "w", k = 49)
      .select("priority").as[Double].collect().sorted.reverse
    val tau = full(5) // 6th-highest priority
    assert(out.forall { case (p, e) => p > tau && e == math.max(10.0, tau) })
  }

  // ---- ValidationOps.expectations ----

  test("expectations counts violations per check in one pass") {
    val df = Seq(
      (Some(1L), "en", 10L), (Some(2L), "xx", 20L), (Some(2L), "de", -3L),
      (None, "en", 5L))
      .toDF("doc_id", "lang", "n_chars")
    val out = ValidationOps.expectations(df,
      Seq(
        "id_not_null" -> col("doc_id").isNull,
        "lang_known" -> !col("lang").isin("en", "de"),
        "chars_positive" -> (col("n_chars") <= 0L)),
      uniqueKeys = Seq("id_unique" -> "doc_id"))
      .select("check_name", "n_violations").as[(String, Long)].collect().toMap
    assert(out == Map("id_not_null" -> 1L, "lang_known" -> 1L,
      "chars_positive" -> 1L, "id_unique" -> 1L))
    // single aggregation pass: exactly one scan of the input relation
    val plan = ValidationOps.expectations(df,
        Seq("id_not_null" -> col("doc_id").isNull))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  // ---- MergeOps incremental aggregate state ----

  test("mergeAggState over batch partials equals the from-scratch aggregate") {
    val ev = (1L to 200L).map(i => (i % 9, (i % 13).toDouble)).toDF("k", "v")
    val full = MergeOps.aggState(ev, "k", "v")
    val base = (1L to 120L).map(i => (i % 9, (i % 13).toDouble)).toDF("k", "v")
    val delta = (121L to 200L).map(i => (i % 9, (i % 13).toDouble)).toDF("k", "v")
    val m2 = MergeOps.mergeAggState(
      MergeOps.aggState(base, "k", "v"), MergeOps.aggState(delta, "k", "v"), "k")
    val f = full.select("k", "n", "min_v", "max_v").as[(Long, Long, Double, Double)]
      .collect().toSet
    val g = m2.select("k", "n", "min_v", "max_v").as[(Long, Long, Double, Double)]
      .collect().toSet
    assert(f == g)
  }

  // ---- GraphOps.bfs ----

  test("bfs labels exact hop distances, multi-source, bounded by maxHops") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val out = GraphOps.bfs(edges, Seq(1L, 10L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 10L -> 0L, 11L -> 1L))
    // node 4 is 3 hops out: beyond the bound, absent
    assert(!out.contains(4L))
    // a node reachable two ways gets the SHORTER distance
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val d = GraphOps.bfs(tri, Seq(1L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(d(3L) == 1L)
  }

  test("bfs plan size is constant in maxHops (frontier checkpoints per round)") {
    val edges = (1L to 30L).map(i => (i, i + 1)).toDF("src", "dst")
    def planNodes(h: Int): Int =
      GraphOps.bfs(edges, Seq(1L).toDF("node"), maxHops = h)
        .queryExecution.optimizedPlan.collect { case n => n }.size
    assert(planNodes(4) == planNodes(2))
  }

  // ---- ValidationOps.ksDrift ----

  test("ksDrift is 0 on identical distributions and 1 on disjoint ones") {
    val same = (1 to 100).flatMap(i =>
      Seq(("g", i % 10, 0L), ("g", i % 10, 1L)))
      .toDF("grp", "v", "side")
    val ks0 = ValidationOps.ksDrift(same, "grp", "v", col("side") === 1L)
      .select("ks").as[Double].collect().head
    assert(ks0 == 0.0)
    val apart = ((1 to 50).map(i => ("g", i, 0L)) ++
      (101 to 150).map(i => ("g", i, 1L))).toDF("grp", "v", "side")
    val ks1 = ValidationOps.ksDrift(apart, "grp", "v", col("side") === 1L)
      .select("ks").as[Double].collect().head
    assert(ks1 == 1.0)
  }

  test("ksDrift matches the hand-computed statistic on a small fixture") {
    // A = {1,2,3,4}, B = {3,4,5,6}: max ECDF gap = 1/2 at v=2 (and v=4)
    val df = (Seq(1, 2, 3, 4).map(v => ("g", v, 0L)) ++
      Seq(3, 4, 5, 6).map(v => ("g", v, 1L))).toDF("grp", "v", "side")
    val ks = ValidationOps.ksDrift(df, "grp", "v", col("side") === 1L)
      .select("ks").as[Double].collect().head
    assert(ks == 0.5)
  }

  // ---- MergeOps snapshot / CDC ----

  test("snapshotAsOf picks latest-version-wins and honors tombstones") {
    val hist = Seq(
      (1L, "a", 1L, false), (1L, "b", 2L, false), // updated at v2
      (2L, "c", 1L, false), (2L, "c", 3L, true),  // deleted at v3
      (3L, "d", 2L, false))                       // born at v2
      .toDF("k", "v", "version", "deleted")
    def snap(asOf: Long) =
      MergeOps.snapshotAsOf(hist, "k", "version", asOf)
        .select("k", "v").as[(Long, String)].collect().toMap
    assert(snap(1L) == Map(1L -> "a", 2L -> "c"))
    assert(snap(2L) == Map(1L -> "b", 2L -> "c", 3L -> "d"))
    assert(snap(3L) == Map(1L -> "b", 3L -> "d")) // 2 tombstoned
  }

  test("cdcDiff emits insert/update/delete and omits unchanged rows") {
    val old = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
      (4L, Option.empty[String].orNull, 40L)).toDF("k", "v", "n")
    val neu = Seq((1L, "a", 10L),   // unchanged
      (2L, "B", 20L),               // update
      (4L, "now-set", 40L),         // null -> value is an update
      (5L, "e", 50L))               // insert; 3 deleted
      .toDF("k", "v", "n")
    val out = MergeOps.cdcDiff(old, neu, "k")
      .select("k", "change", "v").as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out == Map(
      2L -> ("update", "B"), 3L -> ("delete", "c"),
      4L -> ("update", "now-set"), 5L -> ("insert", "e")))
    assert(!out.contains(1L))
  }

  // ---- MultimodalOps.samplePatches / patch_sigs kernel ----

  test("patch_sigs lays out the grid row-major and hashes ragged edges correctly") {
    // 2x2 patches over a 4-column matrix of 10 bytes: rows = 3 (last
    // ragged with 2 bytes), grid = 2x2 patches
    val payload = Array.tabulate(10)(i => ('a' + i).toByte)
    val df = Seq((1L, payload)).toDF("id", "payload")
    val out = MultimodalOps.samplePatches(df, "payload", width = 4, patch = 2)
      .select("pr", "pc", "patch_sig").as[(Int, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def fold(bs: Seq[Char]): Long =
      bs.foldLeft(1125899906842597L)((h, b) => 31 * h + (b & 0xff))
    // patch (0,0) = bytes a,b,e,f; (0,1) = c,d,g,h; (1,0) = i,j; (1,1) empty
    assert(out == Map(
      (0, 0) -> fold("abef"), (0, 1) -> fold("cdgh"), (1, 0) -> fold("ij")))
  }

  test("samplePatches plans the native expression, no UDF") {
    val df = Seq((1L, "x".getBytes)).toDF("id", "payload")
    val p = MultimodalOps.samplePatches(df, "payload", 64, 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("patch_sigs") && !p.contains("ScalaUDF"), p)
  }

  // ---- featureHash / kmvPairwise / overlapFraction (batch 8) ----

  test("featureHash reproduces the hand-computed signed bucket sums") {
    val df = Seq((1L, "apple apple banana"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val out = TermOps.featureHash(df, "doc_id", "text", dim = 4)
      .as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def bs(term: String): (Int, Long) = {
      val h = graft.functions.Hashing.fnv1a(term)
      ((h & 3L).toInt, ((h >> 2) & 1L) * 2 - 1)
    }
    val expected = Seq((1L, "apple"), (1L, "apple"), (1L, "banana"),
        (2L, "banana"), (2L, "cherry"))
      .map { case (id, term) => val (b, sgn) = bs(term); ((id, b), sgn) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(out == expected)
  }

  test("featureHash rejects a non-power-of-two dimension") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TermOps.featureHash(df, "doc_id", "text", dim = 100)
    }
  }

  test("kmvPairwise below k is exact: jaccard, union and intersection") {
    val rows = ((1 to 10).map(i => ("a", i.toLong)) ++
      (6 to 15).map(i => ("b", i.toLong))).toDF("g", "k")
    val out = SketchOps.kmvPairwise(rows, "g", "k", k = 128)
      .select("g_a", "g_b", "k_union", "rho", "union_est", "inter_est")
      .as[(String, String, Long, Double, Double, Double)].collect()
    assert(out.length == 1)
    val (ga, gb, ku, rho, ue, ie) = out.head
    assert(ga == "a" && gb == "b" && ku == 15L)
    assert(rho == 0.3333 && ue == 15.0 && ie == 5.0)
  }

  test("kmvPairwise disjoint groups estimate zero intersection") {
    val rows = ((1 to 20).map(i => ("a", i.toLong)) ++
      (100 to 119).map(i => ("b", i.toLong))).toDF("g", "k")
    val out = SketchOps.kmvPairwise(rows, "g", "k", k = 64)
      .select("rho", "inter_est").as[(Double, Double)].collect().head
    assert(out == ((0.0, 0.0)))
  }

  test("overlapFraction grades docs against the benchmark gram set") {
    val toks = (1 to 20).map(i => s"w$i")
    val bench = Seq((100L, toks.take(10).mkString(" "))).toDF("doc_id", "text")
    val docs = Seq(
      (1L, toks.take(10).mkString(" ")),     // identical to bench: 1.0
      (2L, toks.slice(2, 14).mkString(" ")), // w3..w14: 5 grams, 1 hit
      (3L, toks.slice(10, 20).mkString(" ")), // disjoint: 0.0
      (4L, "short doc")                      // < 8 tokens: absent
    ).toDF("doc_id", "text")
    val out = TextAnalysisOps.overlapFraction(docs, "doc_id", "text",
        bench, "text")
      .select("doc_id", "n_grams", "n_hits", "frac")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L) == ((5L, 1L, 0.2)))
    assert(out(3L) == ((3L, 0L, 0.0)))
    assert(!out.contains(4L))
  }

  // ---- project / cluster profile (batch 9) ----

  test("project of a basis vector reads off the plane-weight matrix") {
    val e3 = Array.tabulate(8)(i => if (i == 3) 1.0f else 0.0f)
    val df = Seq((1L, e3)).toDF("vec_id", "embedding")
    val out = SimilarityOps.project(df, "vec_id", "embedding",
        inDims = 8, outDims = 4)
      .as[(Long, Int, Double)].collect().map(r => r._2 -> r._3).toMap
    (0 until 4).foreach { p =>
      val w = BigDecimal(SimilarityOps.planeWeight(p, 3, 8))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(p) == w, s"plane $p")
    }
  }

  test("cluster-size profile rolls up components correctly") {
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (10L, 11L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    val prof = DedupOps.connectedComponents(pairs)
      .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .select(col("sz"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs_in"))
      .as[(Long, Long, Long)].collect().toSet
    assert(prof == Set((3L, 1L, 3L), (2L, 1L, 2L)))
  }

  // ---- st_hll merge law / degree-profile bucketing (batch 10) ----

  test("window HLL registers max-merge to the batch union sketch") {
    // the lambda-pattern property st_hll's cells exist for: per-window
    // registers (same hash/rho chain) max-merged == one batch sketch
    // over the union of the windows' keys
    val w0 = Seq(1L, 1L, 2L, 3L).toDF("user_id")
    val w1 = Seq(2L, 3L).toDF("user_id")
    val m0 = SketchOps.hllRegisters(w0, "user_id").withColumnRenamed("rho", "r0")
    val m1 = SketchOps.hllRegisters(w1, "user_id").withColumnRenamed("rho", "r1")
    val merged = m0.join(m1, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        greatest(coalesce(col("r0"), lit(0)), coalesce(col("r1"), lit(0)))
          .as("rho"))
      .as[(Long, Int)].collect().toSet
    val union = SketchOps.hllRegisters(Seq(1L, 2L, 3L).toDF("user_id"),
      "user_id").as[(Long, Int)].collect().toSet
    assert(merged == union)
  }

  test("degree-profile log2 bucketing is integer-exact") {
    val b = Seq(1L, 2L, 3L, 4L, 1023L, 1024L).toDF("deg")
      .select((length(bin(col("deg"))) - 1).as("b")).as[Int].collect()
    assert(b.toSeq == Seq(0, 1, 1, 2, 9, 10))
  }

  // ---- prefix-filtered all-pairs join (batch 11) ----

  test("jaccardPairsPrefix equals the exhaustive index join on a planted corpus") {
    // overlapping token runs plant pairs above and below the 0.5
    // threshold; lossless prefix filtering must reproduce the full
    // join's result EXACTLY
    val mk = (lo: Int, hi: Int) => (lo to hi).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, mk(0, 19)), (2L, mk(0, 19)),   // identical: J = 1.0
      (3L, mk(0, 21)),                     // J(1,3) high
      (4L, mk(10, 29)),                    // partial overlap
      (5L, mk(40, 59)), (6L, mk(40, 49))   // contained run
    ).toDF("doc_id", "text")
    val full = DedupOps.jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val pref = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text",
      threshold = 0.5).as[(Long, Long, Double)].collect().toSet
    assert(full.nonEmpty && pref == full)
  }

  // ---- frame energy kernel (batch 13) ----

  test("frameEnergy meters sampled frames with exact integer stats") {
    // 10 bytes, frameSize 4, stride 2: frames start at 0 and 8; frame 0
    // covers bytes 0-3, frame 1 covers the ragged tail 8-9
    val payload = Array.tabulate(10)(i => (i + 1).toByte)
    val df = Seq((1L, payload)).toDF("id", "payload")
    val out = MultimodalOps.frameEnergy(df, "payload", frameSize = 4,
        stride = 2)
      .select("frame_idx", "energy", "peak").as[(Int, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      0 -> ((1L + 4 + 9 + 16, 4)),     // bytes 1,2,3,4
      1 -> ((81L + 100, 10))))         // bytes 9,10
    val p = MultimodalOps.frameEnergy(df, "payload", 4, 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("frame_energy") && !p.contains("ScalaUDF"), p)
  }

  // ---- streaming near-dup trace assumptions ----

  test("st_neardup trace texts have the pinned band-bucket relationships") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated payload about parquet row groups"),
      (3L, "The  Quick Brown FOX jumps over the LAZY dog"),
      (4L, "the quick brown fox leaps over the lazy dog"),
      (5L, "another fully distinct sentence mentioning shuffle exchanges"),
      (6L, "the quick brown fox jumps over the lazy cat"),
      (9L, "watermark sentinel advancing event time")
    ).toDF("doc_id", "text")
    val b = texts
      .withColumn("sig", GraftFunctions.minhashSig(
        TermOps.tokens(col("text")), lit(2), lit(8)))
      .withColumn("bks", GraftFunctions.bandBuckets(col("sig"), lit(4), lit(2)))
      .select(col("doc_id"), col("bks"))
      .as[(Long, Seq[Long])].collect().toMap
    def shared(a: Long, c: Long) = b(a).toSet.intersect(b(c).toSet).size
    assert(shared(1L, 3L) == 4)  // case/ws variant: identical signature
    assert(shared(1L, 4L) >= 1)  // one-token edit shares a band
    assert(shared(1L, 6L) >= 1)  // the re-emit doc is a genuine near-dup
    // unrelated docs and the sentinel share nothing with anyone
    for (u <- Seq(2L, 5L, 9L); o <- b.keys if o != u)
      assert(shared(u, o) == 0, s"doc $u unexpectedly shares a band with $o")
  }

  // ---- TermOps.fuzzyLookup (SymSpell deletion neighborhood) ----

  test("fuzzyLookup finds every distance-1 term and nothing farther") {
    val dict = Seq(("table", 5L), ("tale", 1L), ("cable", 2L), ("zzzz", 1L))
      .toDF("term", "df")
    val typos = Seq(Tuple1("tble")).toDF("typo")
    val out = TermOps.fuzzyLookup(typos, dict)
      .select("typo", "term", "df").as[(String, String, Long)]
      .collect().toSet
    // "tble": insertion→"table" (d=1), substitution b→a→"tale" (d=1);
    // "cable" is d=2 (candidate via shared variants, killed by verify)
    assert(out == Set(("tble", "table", 5L), ("tble", "tale", 1L)))
  }

  test("fuzzyLookup broadcasts the query variants — dict side never shuffles for a join") {
    val dict = Seq(("table", 5L)).toDF("term", "df")
    val typos = Seq(Tuple1("tble")).toDF("typo")
    val p = TermOps.fuzzyLookup(typos, dict)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  // ---- ValidationOps.rocAuc ----

  test("rocAuc is exact on hand-computed separable and tied cases") {
    // perfect separation → 1.0
    val sep = Seq((1, false), (2, false), (3, true), (4, true))
      .toDF("x", "y")
    val a1 = ValidationOps.rocAuc(sep, col("x"), col("y"))
      .select("n_pos", "n_neg", "auc").as[(Long, Long, Double)].head()
    assert(a1 == ((2L, 2L, 1.0)))
    // full ties across classes → 0.5 via tie-corrected average ranks
    val tied = Seq((1, false), (1, true), (2, false), (2, true))
      .toDF("x", "y")
    val a2 = ValidationOps.rocAuc(tied, col("x"), col("y"))
      .select("auc").as[Double].head()
    assert(a2 == 0.5)
    // anti-predictor → 0.0
    val anti = Seq((1, true), (2, false)).toDF("x", "y")
    assert(ValidationOps.rocAuc(anti, col("x"), col("y"))
      .select("auc").as[Double].head() == 0.0)
  }

  // ---- ValidationOps.rollingZScore ----

  test("rollingZScore flags a spike against its trailing window, nulls the warmup") {
    val counts = (Seq.tabulate(7)(i =>
        ("a", i.toLong, if (i % 2 == 0) 10L else 11L)) :+ (("a", 7L, 100L)))
      .toDF("g", "tick", "n")
    val out = ValidationOps.rollingZScore(counts, "g", "tick", "n")
      .select("tick", "z", "anomaly")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(0L) == ((None, false)))          // cnt = 0
    assert(out(1L) == ((None, false)))          // cnt = 1 < minPts
    assert(out(2L) == ((None, false)))          // cnt = 2 < minPts
    val (z7, flag7) = out(7L)
    assert(flag7 && z7.exists(_ > 100),         // ~168σ spike
      s"expected a flagged spike, got $z7")
    val (z3, flag3) = out(3L)                   // in-pattern point: |z| small
    assert(!flag3 && z3.exists(z => math.abs(z) < 3), s"got $z3")
  }

  test("rollingZScore never divides on a flat baseline (null z, not NaN)") {
    val counts = (0L to 5L).map(t => ("a", t, 10L)) :+ (("a", 6L, 99L))
    val out = ValidationOps.rollingZScore(counts.toDF("g", "tick", "n"),
        "g", "tick", "n")
      .select("tick", "z", "anomaly").as[(Long, Option[Double], Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // variance of the all-10 frame is exactly 0 → guarded to null
    assert(out(6L) == ((None, false)))
  }

  // ---- SimilarityOps.sqTopK ----

  test("sqTopK ranks by quantized cosine and preserves well-separated neighbors") {
    // axis-aligned directions: quantization can't confuse them
    def v(hot: Int) = Array.tabulate(8)(i => if (i == hot) 10.0 else 0.0)
    val emb = Seq((0L, v(0)), (1L, v(0).map(_ * 0.9)), (2L, v(4)),
        (3L, v(4).map(_ * 0.8)), (4L, v(7)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.sqTopK(emb, emb.filter(col("vec_id") === 0L), k = 2)
      .select("nbr_id", "rank").as[(Long, Int)].collect().toMap
    // vec 1 is the same direction as the query — must be rank 1
    assert(out.find(_._2 == 1).map(_._1).contains(1L), out.toString)
  }

  test("sqTopK constant dimensions reconstruct exactly at the envelope point") {
    // dim 1 is constant 5.0 across the corpus; reconstruction must not
    // produce NaN (mx == mn guard) and sims must stay finite
    val emb = Seq((0L, Array(1.0, 5.0)), (1L, Array(2.0, 5.0)),
        (2L, Array(3.0, 5.0))).toDF("vec_id", "embedding")
    val sims = SimilarityOps.sqTopK(emb, emb.filter(col("vec_id") === 0L), 2)
      .select("sim").as[Double].collect()
    assert(sims.nonEmpty && sims.forall(s => !s.isNaN && !s.isInfinite))
  }

  // ---- ValidationOps.chiSquare ----

  test("chiSquare is 0 for an independent table and N for a diagonal one") {
    val ind = Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(10)(("b", "y"))
    val r1 = ValidationOps.chiSquare(ind.toDF("u", "v"), "u", "v")
      .select("n_cells", "dof", "chi2").as[(Int, Int, Double)].head()
    assert(r1 == ((4, 1, 0.0)))
    // perfect association: chi² = N; the two absent cells enter as n=0
    val dia = Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("b", "y"))
    val r2 = ValidationOps.chiSquare(dia.toDF("u", "v"), "u", "v")
      .select("n_cells", "dof", "chi2").as[(Int, Int, Double)].head()
    assert(r2 == ((4, 1, 20.0)))
  }

  // ---- GraphOps.nodeSimilarity ----

  test("nodeSimilarity computes pair Jaccard through shared dsts with the hub cut") {
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L), (2L, 12L),
        (2L, 13L), (3L, 99L), (1L, 50L), (2L, 50L), (3L, 50L))
      .toDF("src", "dst")
    // maxDf=2 excludes dst 50 (df 3); pair (1,2) shares {11,12}
    val out = GraphOps.nodeSimilarity(edges.toDF, maxDf = 2, minCommon = 2)
      .select("src_a", "src_b", "n_common", "deg_a", "deg_b", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 2L, 2L, 3L, 3L, 0.5)))
  }

  // ---- MergeOps.expireVersions ----

  test("expireVersions keeps every as-of read at/after the horizon identical") {
    val hist = Seq(
      (1L, "a", 1L, false), (1L, "b", 2L, false), (1L, "c", 4L, false),
      (2L, "x", 1L, false), (2L, "y", 3L, true),   // deleted after horizon
      (3L, "m", 1L, false), (3L, "n", 2L, true),   // tombstone AT horizon
      (4L, "q", 3L, false)                         // born after horizon
    ).toDF("k", "payload", "version", "deleted")
    val vac = MergeOps.expireVersions(hist, "k", "version", minVersion = 2L)
    // key 3's chain vanishes entirely (latest-at-horizon is a tombstone)
    val kept = vac.select("k", "version").as[(Long, Long)].collect().toSet
    assert(!kept.exists(_._1 == 3L), kept.toString)
    assert(kept == Set((1L, 2L), (1L, 4L), (2L, 2L), (2L, 3L), (4L, 3L)))
    // semantic pin: as-of 2, 3, 4 agree between full and vacuumed history
    for (v <- Seq(2L, 3L, 4L)) {
      val full = MergeOps.snapshotAsOf(hist, "k", "version", v)
        .select("k", "payload").as[(Long, String)].collect().toSet
      val compact = MergeOps.snapshotAsOf(vac, "k", "version", v)
        .select("k", "payload").as[(Long, String)].collect().toSet
      assert(full == compact, s"as-of $v diverged: $full vs $compact")
    }
  }

  // ---- EventStreamOps.throttleEventTime ----

  test("throttleEventTime admits in event-time order regardless of batch split") {
    import graft.streaming.EventStreamOps
    import EventStreamOps.Event
    def ts(m: Int) = new java.sql.Timestamp(1704067200000L + m * 60000L)
    val evs = Seq(
      Event(1, ts(1), 1.0), Event(1, ts(3), 2.0), Event(1, ts(5), 3.0),
      Event(1, ts(2), 1.5), Event(2, ts(12), 5.0))
    val sentinel = Event(99, ts(40), 0.0)
    // two different micro-batch splits must admit the same set
    val results = Seq(evs.splitAt(2), evs.splitAt(4)).map { case (b1, b2) =>
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      implicit val sq = ss.sqlContext
      implicit val enc = org.apache.spark.sql.Encoders.product[Event]
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Event]
      val name = s"throttle_t_${b1.size}"
      val q = EventStreamOps.throttleEventTime(mem.toDS(), 600000L, 2,
          "10 minutes")
        .toDF().writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        mem.addData(b1: _*); q.processAllAvailable()
        mem.addData(b2: _*); q.processAllAvailable()
        mem.addData(sentinel); q.processAllAvailable()
      } finally q.stop()
      ss.table(name).select("user_id", "w_start_ms", "seq", "ts_ms")
        .as[(Long, Long, Int, Long)].collect().toSet
    }
    assert(results(0) == results(1))
    // event-time rule: 00:01 and 00:02 admitted, 00:03 and 00:05 not
    val u1 = results(0).filter(_._1 == 1L).map(r => (r._3, r._4)).toSeq.sorted
    assert(u1 == Seq((1, ts(1).getTime), (2, ts(2).getTime)), u1.toString)
    // user 2's window [00:10, 00:20) closed by the 00:40 sentinel
    assert(results(0).exists(r => r._1 == 2L && r._3 == 1))
  }

  // ---- hashed-linear classifier scoring (curate_classifier shape) ----

  test("classifier logit is invariant to input row order (ordered fold)") {
    def score(docs: Seq[(Long, String)]) = {
      val feats = TermOps.featureHash(docs.toDF("doc_id", "text"),
        "doc_id", "text", dim = 256)
      feats.groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(col("bucket"), col("weight"))))
          .as("arr"))
        .select(col("doc_id"),
          aggregate(col("arr"), lit(0.0d), (acc, x) =>
            acc + (SimilarityOps.hash32Col(x.getField("bucket")
                .cast("long") + lit(1L)).cast("double") /
                lit(2147483648.0) - lit(1.0)) *
              x.getField("weight").cast("double")).as("z"))
        .as[(Long, Double)].collect().toMap
    }
    val docs = Seq((1L, "alpha beta gamma alpha"), (2L, "delta beta"),
      (3L, "zeta eta theta iota kappa"))
    val a = score(docs)
    val b = score(docs.reverse)
    assert(a == b)          // bit-identical, not approximately equal
    assert(a.size == 3 && a.values.forall(z => !z.isNaN))
  }

  test("ann filtered search returns only same-label neighbors with dense ranks") {
    val emb = (0L to 29L).map(id => (id, (id % 3).toInt,
        Array.tabulate(8)(i => (id * 7 % 13) * 1.0 + i)))
      .toDF("vec_id", "label", "embedding")
    val c = emb.select(col("vec_id").as("nbr_id"), col("label"),
      col("embedding").as("nbr_emb"))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("label"),
        col("embedding").as("q_emb"))
    val out = c.join(broadcast(q), Seq("label"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("sim", SimilarityOps.cosine(col("q_emb"), col("nbr_emb")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("nbr_id").asc)))
      .filter(col("rank") <= 5)
      .select("query_id", "label", "nbr_id", "rank")
      .as[(Long, Int, Long, Int)].collect()
    // labels partition ids mod 3 → every neighbor must match its query
    assert(out.forall { case (qid, lbl, nid, _) =>
      lbl == (qid % 3) && (nid % 3) == (qid % 3) })
    // each query gets exactly ranks 1..5 (class size 10 ≥ 5+self)
    val byQ = out.groupBy(_._1).view.mapValues(_.map(_._4).sorted.toSeq)
    assert(byQ.values.forall(_ == (1 to 5)), byQ.toMap.toString)
  }

  // ---- ValidationOps.cusumChangepoint ----

  test("cusumChangepoint locates a hand-traced mean shift exactly") {
    // counts [1,1,1,9,9,9]: N=6, T=30; |6·C_t − t·30| peaks at t=3
    // (value 72) — the last tick before the jump
    val counts = Seq(("a", 0L, 1L), ("a", 1L, 1L), ("a", 2L, 1L),
      ("a", 3L, 9L), ("a", 4L, 9L), ("a", 5L, 9L)).toDF("g", "tick", "n")
    val r = ValidationOps.cusumChangepoint(counts, "g", "tick", "n")
      .select("g", "cp_tick", "n_at_cp", "scaled_dev", "max_dev")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(r.toSeq == Seq(("a", 2L, 1L, 72L, 12.0)))
    // flat series: sdev is 0 everywhere → earliest tick wins the tie
    val flat = Seq(("b", 0L, 5L), ("b", 1L, 5L), ("b", 2L, 5L))
      .toDF("g", "tick", "n")
    val f = ValidationOps.cusumChangepoint(flat, "g", "tick", "n")
      .select("cp_tick", "scaled_dev").as[(Long, Long)].collect()
    assert(f.toSeq == Seq((0L, 0L)))
  }

  // ---- MultimodalOps.nearDupImages ----

  test("nearDupImages pairs payloads sharing >= 4/5 aligned patches") {
    // 128-byte payloads → one 8-patch row in the 64-wide matrix; C
    // differs from A only in bytes 0-7 (patch pc=0), so A~C share 7/8;
    // D is disjoint content
    val a = "a" * 128
    val c = "XXXXXXXX" + ("a" * 120)
    val dd = "z0z1z2z3" * 16
    val imgs = Seq((1L, a), (2L, a), (3L, c), (4L, dd)).toDF("doc_id", "txt")
      .select(col("doc_id"), encode(col("txt"), "UTF-8").as("payload"))
    val out = MultimodalOps.nearDupImages(imgs, "doc_id", "payload",
        width = 64, patch = 8)
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "overlap_frac")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (1L, 2L, 8L, 8L, 8L, 1.0),      // identical payloads
      (1L, 3L, 7L, 8L, 8L, 0.875),    // localized edit: 7/8 ≥ 4/5
      (2L, 3L, 7L, 8L, 8L, 0.875)), out.toString)
  }
}
