package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.UrlFunctions
import graft.sources.GraftSinks

class Round8OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- GraphOps ----

  test("pagerank matches the hand-computed recurrence on a 3-node graph") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val r = GraphOps.pagerank(edges, iters = 1)
      .select(col("node"), round(col("rank"), 6).as("rank"))
      .as[(Long, Double)].collect().toMap
    // N=3, r0=1/3 each; contrib(2)=1/6, contrib(3)=1/2; teleport=0.05
    assert(r(1L) == 0.05)
    assert(r(2L) == 0.191667) // 0.05 + 0.85/6
    assert(r(3L) == 0.475)    // 0.05 + 0.85/2
  }

  test("pagerank mass stays bounded and ordering is stable over rounds") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val r = GraphOps.pagerank(edges, iters = 5).as[(Long, Double)].collect().toMap
    assert(r.values.sum <= 1.0 + 1e-9)
    assert(r(1L) > r(4L)) // 4 is a source-only node: teleport mass only
  }

  test("triangleStats counts a known census exactly once per triangle") {
    // K4 on {1,2,3,4} (4 triangles) plus a pendant 5 and a duplicate +
    // reversed + self edge that must all canonicalize away
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (2L, 1L), (1L, 2L), (3L, 3L)))
      .toDF("src", "dst")
    val r = GraphOps.triangleStats(edges)
      .as[(Long, Long, Long)].collect().head
    assert(r._1 == 7)  // 6 K4 edges + the pendant
    assert(r._3 == 4)  // C(4,3) triangles, each counted once
    assert(r._2 >= r._3)
  }

  // ---- SkewOps profiler ----

  test("groupSizeHistogram buckets group sizes into power-of-two rungs") {
    val df = (Seq.fill(1)("a") ++ Seq.fill(2)("b") ++ Seq.fill(5)("c"))
      .toDF("k")
    val h = SkewOps.groupSizeHistogram(df, "k")
      .select("bucket_lo", "n_keys", "min_sz", "max_sz", "n_rows")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(h.toSeq == Seq((1L, 1L, 1L, 1L, 1L), (2L, 1L, 2L, 2L, 2L),
      (4L, 1L, 5L, 5L, 5L)))
  }

  test("heavyKeys returns the k largest groups with deterministic ties") {
    val df = (Seq.fill(3)(10L) ++ Seq.fill(3)(7L) ++ Seq.fill(1)(5L))
      .toDF("k")
    val top = SkewOps.heavyKeys(df, "k", 2).as[(Long, Long)].collect()
    assert(top.toSeq == Seq((7L, 3L), (10L, 3L))) // size tie → lower key first
  }

  // ---- FunnelOps ----

  test("funnel counts only strictly-ordered step completions") {
    // user 1 completes view→click→purchase in order; user 2's clicks are
    // at or before their first view (same-micro tie must NOT count);
    // user 3 stops after view
    val ev = Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
      (2L, "click", 100L), (2L, "view", 200L), (2L, "click", 200L),
      (3L, "view", 50L)
    ).toDF("user_id", "event_type", "tus")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("tus")).as("ts"))
    val out = FunnelOps.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .as[(Int, String, Long)].collect()
    assert(out.map(r => r._1 -> r._3).toMap ==
      Map(1 -> 3L, 2 -> 1L, 3 -> 1L))
    assert(out.map(r => r._1 -> r._2).toMap ==
      Map(1 -> "view", 2 -> "click", 3 -> "purchase"))
  }

  // ---- SimilarityOps product quantization ----

  test("pqTopK ranks same-cluster vectors first on a planted corpus") {
    // two tight groups in 8-dim space; PQ codes must separate them
    val vecs = (1L to 20L).map { id =>
      val base = if (id <= 10) 1.0 else 9.0
      (id, Array.tabulate(8)(j => base + 0.01 * ((id + j) % 5)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = SimilarityOps.pqTopK(df, df.filter(col("vec_id").isin(1L, 15L)),
      k = 3, m = 2, codes = 4, dims = 8)
      .select("query_id", "nbr_id", "rank").as[(Long, Long, Int)].collect()
    val byQ = out.groupBy(_._1)
    assert(byQ(1L).size == 3 && byQ(1L).forall(_._2 <= 10))
    assert(byQ(15L).size == 3 && byQ(15L).forall(_._2 > 10))
  }

  test("ivfpqTopK with every cell probed equals exhaustive pqTopK") {
    val vecs = (1L to 20L).map { id =>
      val base = if (id <= 10) 1.0 else 9.0
      (id, Array.tabulate(8)(j => base + 0.01 * ((id + j) % 5)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id").isin(1L, 15L))
    def rows(r: org.apache.spark.sql.DataFrame) =
      r.select(col("query_id"), col("nbr_id"), round(col("adc"), 6), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
    val pq = rows(SimilarityOps.pqTopK(df, q, k = 3, m = 2, codes = 4, dims = 8))
    val ivfpq = rows(SimilarityOps.ivfpqTopK(df, q, k = 3,
      nCentroids = 4, nProbe = 4, m = 2, codes = 4, dims = 8))
    assert(ivfpq == pq) // probing all cells removes the pruning entirely
  }

  // ---- VByte doc-vector codec ----

  test("VByteCodec round-trips and matches the Hadoop VInt byte layout") {
    import graft.functions.VByteCodec
    val ids = Array(0L, 1L, 127L, 128L, 255L, 256L, 65535L, 65536L, 16777216L)
    assert(VByteCodec.decode(VByteCodec.encode(ids)).toSeq == ids.toSeq)
    // count byte + value byte, single-byte range
    assert(VByteCodec.encode(Array(1L)).toSeq == Seq[Byte](1, 1))
    // 200 needs the -113 marker + one magnitude byte (0xC8)
    assert(VByteCodec.encode(Array(200L)).toSeq == Seq[Byte](1, -113, -56))
    assert(VByteCodec.decode(VByteCodec.encode(Array.empty[Long])).isEmpty)
    // the SQL surface agrees with the kernel
    val back = spark.sql(
      "SELECT vbyte_decode(vbyte_encode(array(3L, 900L, 70000L))) AS a")
      .as[Seq[Long]].collect().head
    assert(back == Seq(3L, 900L, 70000L))
  }

  // ---- GraftSinks SequenceFile interop ----

  test("sequence file round-trips, including bzip2 block compression") {
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "")).toDF("k", "v")
    val plain = graft.Scratch.dir("seqrt").toString + "/p"
    GraftSinks.writeSequenceFile(df, plain)
    assert(GraftSinks.readSequenceFile(spark, plain)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "alpha"), (2L, "beta"), (3L, "")))
    val bz = graft.Scratch.dir("seqrt").toString + "/b"
    GraftSinks.writeSequenceFile(df, bz,
      Some(classOf[org.apache.hadoop.io.compress.BZip2Codec]))
    assert(GraftSinks.readSequenceFile(spark, bz)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "alpha"), (2L, "beta"), (3L, "")))
  }

  // ---- MergeOps ----

  test("upsert overrides matched keys, appends new, passes the rest") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "lang", "n")
    val upd = Seq((2L, "B", 200L), (3L, "c", 30L)).toDF("id", "lang", "n")
    val out = MergeOps.upsert(base, upd, "id")
      .as[(Long, String, Long)].collect().toSet
    assert(out == Set((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L)))
  }

  // ---- SketchOps bottom-k sample ----

  test("bottomKSample is invariant to partitioning and input order") {
    val df = (1L to 500L).toDF("k")
    val a = SketchOps.bottomKSample(df.repartition(13), "k", 20)
      .select("k").as[Long].collect().toSet
    val b = SketchOps.bottomKSample(df.orderBy(col("k").desc).coalesce(1), "k", 20)
      .select("k").as[Long].collect().toSet
    assert(a == b && a.size == 20)
    // a different salt draws an (almost surely) different sample
    val c = SketchOps.bottomKSample(df, "k", 20, salt = "other")
      .select("k").as[Long].collect().toSet
    assert(a != c)
  }

  // ---- TermOps boolean search ----

  test("booleanSearch requires every term and totals occurrences") {
    val docs = Seq((1L, "scan join scan"), (2L, "scan scan"), (3L, "join"))
      .toDF("doc_id", "text")
    val r = TermOps.booleanSearch(docs, "doc_id", "text", Seq("scan", "join"))
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L)) // docs 2 and 3 miss a term
  }

  // ---- TermOps phrase search ----

  test("phraseMatch counts aligned positional occurrences") {
    val docs = Seq((1L, "a b c a b"), (2L, "b a"), (3L, "a a b"))
      .toDF("doc_id", "text")
    val hits = TermOps.phraseMatch(docs, "doc_id", "text", Seq("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 2L, 3L -> 1L)) // doc 2 has "b a", not "a b"
  }

  // ---- ClusterOps ----

  test("kmeansAssign separates two obvious clusters deterministically") {
    val emb = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
      (2L, Array(1.0, 0.1)), (3L, Array(0.1, 1.0)))
      .toDF("vec_id", "embedding")
    val a = ClusterOps.kmeansAssign(emb, k = 2, iters = 2)
      .as[(Long, Int)].collect().toMap
    // sharded init: {0,2} vs {1,3} — already the true clustering
    assert(a == Map(0L -> 0, 2L -> 0, 1L -> 1, 3L -> 1))
    val again = ClusterOps.kmeansAssign(emb, k = 2, iters = 2)
      .as[(Long, Int)].collect().toMap
    assert(again == a)
  }

  // ---- TextAnalysisOps bigram LM ----

  test("bigramSurprisal matches the hand-computed smoothed bigram model") {
    val docs = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val r = TextAnalysisOps.bigramSurprisal(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    // V=2; c2: "a b"=2,"b a"=1,"a a"=1; c1: a=3, b=1
    // doc1: (2*-ln(2.5/4) + 1*-ln(1.5/2))/3 = 0.4092
    // doc2: -ln(1.5/4) = 0.9808
    assert(r(1L) == ((2L, 0.4092)))
    assert(r(2L) == ((1L, 0.9808)))
  }

  // ---- UrlFunctions ----

  test("normalizeUrl canonicalizes scheme/host/port/params/fragment") {
    val in = Seq(
      "HTTPS://WWW.Example.COM:443/Docs/3/?utm_source=x&id=5&utm_campaign=y#frag",
      "http://Host.com:80/",
      "https://a.b/path/?utm_x=1",
      "https://a.b/p?gclid=1&q=2&fbclid=3",
      "not a url").toDF("url")
    val out = in.select(UrlFunctions.normalizeUrl(col("url"))).as[String].collect()
    assert(out.toSeq == Seq(
      "https://example.com/Docs/3?id=5",
      "http://host.com/",
      "https://a.b/path",
      "https://a.b/p?q=2",
      "not a url"))
  }

  // ---- PruneOps bloom filter ----

  test("bloomPrune never drops a true key and is deterministic") {
    val small = Seq(1L, 5L, 9L).toDF("k")
    val big = (0L to 63L).toDF("bk")
    val kept = PruneOps.bloomPrune(big, "bk", small, "k", mBits = 64, k = 3)
      .as[Long].collect().toSet
    assert(Set(1L, 5L, 9L).subsetOf(kept))
    val again = PruneOps.bloomPrune(big, "bk", small, "k", mBits = 64, k = 3)
      .as[Long].collect().toSet
    assert(kept == again)
  }

  test("bloomPrune ignores null keys on both sides") {
    val small = Seq(Some(1L), None, Some(9L)).toDF("k")
    val big = Seq(Some(1L), Some(2L), None, Some(9L)).toDF("bk")
    val kept = PruneOps.bloomPrune(big, "bk", small, "k", mBits = 64, k = 3)
      .as[Option[Long]].collect().flatten.toSet
    // null never passes; the null small-side row must not corrupt word 0
    // (a corrupted bitmap would drop 1 or 9, or admit extra low keys
    // whose positions land in word 0)
    assert(kept.contains(1L) && kept.contains(9L))
    val noNull = PruneOps.bloomPrune(big, "bk",
      Seq(1L, 9L).toDF("k"), "k", mBits = 64, k = 3)
      .as[Option[Long]].collect().flatten.toSet
    assert(kept == noNull)
  }

  test("sessionize drops null keys and timestamps instead of seeding sessions") {
    val df = Seq(
      (Option(1L), Option(new java.sql.Timestamp(1700000000000L)), 1.0),
      (Option(1L), None, 2.0),
      (None, Option(new java.sql.Timestamp(1700000005000L)), 3.0))
      .toDF("user_id", "ts", "value")
    val out = SessionOps.sessionize(df, "user_id", "ts", "value", 60000L)
      .select(col("user_id"), col("n_events"), col("sum_value"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 1L, 1.0)))
  }

  test("well-sized bloomPrune equals the exact semi-join on this key space") {
    val small = (0L until 50L).filter(_ % 7 == 0).toDF("k")
    val big = (0L until 1000L).toDF("bk")
    val kept = PruneOps
      .bloomPrune(big, "bk", small, "k", mBits = 1 << 16, k = 5)
      .as[Long].collect().toSet
    // fp probability per candidate ~ (8*5/65536)^5 ≈ 8e-17: exact here
    assert(kept == (0L until 1000L).filter(k => k < 50 && k % 7 == 0).toSet)
  }

  test("bloomPrune of the big side plans as scan+filter: no join, no exchange") {
    val small = Seq(1L).toDF("k")
    val big = spark.range(100).toDF("bk")
    val p = PruneOps.bloomPrune(big, "bk", small, "k", 256, 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange"), p)
  }

  // ---- SketchOps count-min ----

  test("countMin estimates are upper bounds, tight for the heavy key") {
    val df = (Seq.fill(100)("hot") ++ (1 to 50).map(i => s"k$i")).toDF("k")
    val exact = df.groupBy("k").count().as[(String, Long)].collect().toMap
    val est = SketchOps
      .countMinEstimates(df, "k", df.select("k"), depth = 3, width = 16)
      .as[(String, Long)].collect().toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, n) => assert(est(k) >= n, s"underestimated $k") }
    // the heavy key's min-cell can absorb at most every other row
    assert(est("hot") <= 150L)
  }

  test("countMin sketch stays depth*width cells whatever the key cardinality") {
    val df = (1 to 2000).map(i => s"k$i").toDF("k")
    val sk = SketchOps.countMin(df, "k", depth = 4, width = 32)
    assert(sk.count() <= 4 * 32)
    assert(sk.agg(sum(col("cnt"))).as[Long].head() == 4L * 2000)
  }

  test("kmvDistinctByKey is exact below k and bounded-error above") {
    val df = (for (g <- Seq("a", "b"); i <- 1 to (if (g == "a") 5 else 900))
      yield (g, i.toLong)).toDF("g", "key")
    val r = SketchOps.kmvDistinctByKey(df, "g", "key", k = 64)
      .select(col("g"), col("k_used"), col("estimate"))
      .as[(String, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r("a")._2 == 5L && r("a")._3 == 5.0) // exact small-set path
    assert(r("b")._2 == 64L)
    assert(math.abs(r("b")._3 - 900.0) / 900.0 < 0.35) // KMV k=64 error
  }

  // ---- LayoutOps z-order ----

  test("zValue interleaves bits (Morton code)") {
    val df = Seq((3L, 5L), (0L, 0L), (65535L, 0L), (0L, 65535L)).toDF("x", "y")
    val z = df.select(LayoutOps.zValue(col("x"), col("y"))).as[Long].collect()
    assert(z.toSeq == Seq(39L, 0L, 0x55555555L, 0xAAAAAAAAL))
  }

  test("batch sessionize agrees with the event-time streaming sessionizer") {
    import graft.streaming.EventStreamOps
    // the st_sessions trace: user 1 -> [0, 30s] then [1h]; user 2 -> two
    // singleton sessions an hour apart (gap 60s)
    val rows = Seq((1L, 0L, 1.0), (1L, 30000L, 2.0), (2L, 10000L, 4.0),
      (1L, 3600000L, 5.0), (2L, 3600000L, 6.0))
    val df = rows.map { case (u, ms, v) =>
      (u, new java.sql.Timestamp(1700000000000L + ms), v)
    }.toDF("user_id", "ts", "value")
    val batch = SessionOps.sessionize(df, "user_id", "ts", "value", 60000L)
      .select(col("user_id"), col("start_ms") - 1700000000000L,
        col("end_ms") - 1700000000000L, col("n_events"), col("sum_value"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(batch == Set((1L, 0L, 30000L, 2L, 3.0), (1L, 3600000L, 3600000L, 1L, 5.0),
      (2L, 10000L, 10000L, 1L, 4.0), (2L, 3600000L, 3600000L, 1L, 6.0)))
    // session_idx numbers sessions 1..n in time order per key
    val idx = SessionOps.sessionize(df, "user_id", "ts", "value", 60000L)
      .select(col("user_id"), col("session_idx"), col("start_ms") - 1700000000000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(idx == Set((1L, 1L, 0L), (1L, 2L, 3600000L),
      (2L, 1L, 10000L), (2L, 2L, 3600000L)))
  }

  test("saltedJoin is exactly the plain equi-join and never broadcasts") {
    val big = Seq((1L, 10.0), (1L, 20.0), (1L, 30.0), (2L, 5.0), (3L, 7.0))
      .toDF("k", "v")
    val small = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("k", "name")
    val salted = SkewOps.saltedJoin(big, small, "k", salts = 4)
    val plain = big.join(small, Seq("k"))
    assert(salted.count() == plain.count())
    assert(salted.select("k", "v", "name").as[(Long, Double, String)]
      .collect().sorted.toSeq ==
      plain.select("k", "v", "name").as[(Long, Double, String)]
        .collect().sorted.toSeq)
    val p = salted.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("zorder range partitions cover disjoint z intervals") {
    val df = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y))
      .toDF("x", "y")
    val parts = LayoutOps.zorder(df, col("x"), col("y"), 8)
      .select(spark_partition_id().as("p"),
        LayoutOps.zValue(col("x"), col("y")).as("z"))
      .groupBy(col("p")).agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .as[(Int, Long, Long)].collect().sortBy(_._2)
    assert(parts.length > 1)
    parts.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._2, s"overlap: $a vs $b")
      case _ => ()
    }
  }
}
