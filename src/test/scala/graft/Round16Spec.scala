package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** Round-16 pins: scratch hygiene and kernel robustness.
  *
  * 1. Scratch rooting — every temp dir the engine creates must live
  *    under the per-process `graft-run-<pid>` root so ONE shutdown
  *    hook reclaims it (r15: stale dirs accumulated across runs and
  *    inflated bench wall-clock ~30%; the record was measuring the
  *    filesystem). Enforced two ways: the behavioral check that
  *    Scratch.dir lands under the root, and a SOURCE audit that no
  *    main/operator/test code creates temp directories outside
  *    Scratch itself.
  * 2. sweepStale — reclaims dead-run roots and pre-r16-style loose
  *    dirs, never the persistent caches (graft-sf*, graft-fixtures)
  *    or the live process's own root.
  * 3. aHash64Data on malformed UTF-8 — the inline decoder must not
  *    read past the buffer or mis-route continuation lead bytes
  *    (r15 advice): truncated tails and stray continuations decode
  *    as single bytes instead of throwing.
  */
class Round16Spec extends AnyFunSuite {

  test("Scratch.dir roots every temp dir under the per-process root") {
    val d = Scratch.dir("spec")
    assert(d.startsWith(Scratch.root), s"$d not under ${Scratch.root}")
    assert(Scratch.root.getFileName.toString ==
      s"graft-run-${ProcessHandle.current().pid()}")
  }

  test("no source file creates temp dirs outside Scratch (the r16 " +
      "hygiene invariant stays true by construction)") {
    import scala.jdk.CollectionConverters._
    val needle = "createTemp" + "Directory" // split so this file passes
    val offenders = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.endsWith("Scratch.scala"))
      .filter(p => java.nio.file.Files.readString(p).contains(needle))
      .map(_.toString).toSeq
    assert(offenders.isEmpty,
      s"temp dirs created outside Scratch.dir: $offenders")
  }

  test("sweepStale reclaims dead-run roots and stale loose dirs, " +
      "spares caches and the live root") {
    val tmp = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    // a "dead run" root: no live pid is ever Long.MaxValue-ish
    val dead = tmp.resolve("graft-run-9223372036854775806")
    java.nio.file.Files.createDirectories(dead)
    // a pre-r16-style loose dir, mtime older than this JVM
    val loose = tmp.resolve("graft_spec_stale")
    java.nio.file.Files.createDirectories(loose)
    loose.toFile.setLastModified(System.currentTimeMillis() - 86400000L)
    // a persistent cache sibling (same age) that must survive
    val cache = tmp.resolve("graft-sfspec")
    java.nio.file.Files.createDirectories(cache)
    cache.toFile.setLastModified(System.currentTimeMillis() - 86400000L)
    val live = Scratch.root // materialize before sweeping
    try {
      Scratch.sweepStale()
      assert(!java.nio.file.Files.exists(dead), "dead-run root not swept")
      assert(!java.nio.file.Files.exists(loose), "stale loose dir not swept")
      assert(java.nio.file.Files.exists(cache), "persistent cache swept!")
      assert(java.nio.file.Files.exists(live), "live process root swept!")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(cache.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(dead.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(loose.toFile)
    }
  }

  private val sf = "/root/testdata/sf0.001"

  test("windowMinhashSpans: exact window dups always collide, unique " +
      "docs never do, and the strided window count is exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val span = (1 to 16).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      // A and B share the exact 16-token span at a window-aligned
      // position → identical bottom-1 sketch, both flagged
      (1L, span + " " + (1 to 8).map(i => s"apad$i").mkString(" ")),
      (2L, span + " " + (1 to 8).map(i => s"bpad$i").mkString(" ")),
      // C: 24 globally-unique tokens → no sketch collision anywhere
      (3L, (1 to 24).map(i => s"cuniq$i").mkString(" ")),
      // D repeats ITS OWN aligned span → in-doc duplication counts
      (4L, span + " " + span + " " + span.split(" ").take(8).mkString(" ")))
      .toDF("doc_id", "text")
    val r = operators.DedupOps.windowMinhashSpans(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2))).toMap
    // 24 tokens, w=16, stride=8 → starts 1 and 9 → 2 windows each;
    // doc 4 has 40 tokens → starts 1, 9, 17, 25 → 4 windows
    assert(r(1L)._1 == 2 && r(2L)._1 == 2 && r(3L)._1 == 2 && r(4L)._1 == 4)
    assert(r(1L)._2 >= 1, "exact cross-doc span not flagged")
    assert(r(2L)._2 >= 1)
    assert(r(3L)._2 == 0, "unique doc flagged dup")
    assert(r(4L)._2 >= 2, "in-doc repeat not flagged")
  }

  test("dedup_substring_approx plans with no Window operator and no " +
      "sort (the cheap tier's contract vs the exact SA row)") {
    val p = SparkEntry.queries("dedup_substring_approx")(TestSpark.spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "approx tier must not window-sort")
    // the title promises "no sort" — pin it (r16 ADVICE: a
    // Sort/Exchange-with-sort slipped past the Window-only assert)
    assert(!p.contains("Sort"), "approx tier must not sort")
  }

  test("pack_fim: piece lengths tile the doc, out_len adds exactly the " +
      "3 sentinels, both branches populated, passthrough fp = fnv64(doc)") {
    val spark = TestSpark.spark
    val r = SparkEntry.queries("pack_fim")(spark, sf)
    val rows = r.collect()
    assert(rows.length == 500)
    val fim = rows.filter(_.getBoolean(2))
    val plain = rows.filterNot(_.getBoolean(2))
    assert(fim.nonEmpty && plain.nonEmpty, "hash split degenerate")
    rows.foreach { x =>
      val (n, pre, mid, suf, out) = (x.getLong(1), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6))
      if (x.getBoolean(2)) {
        assert(pre + mid + suf == n, s"pieces don't tile: $x")
        assert(out == n + 3)
      } else {
        assert(pre == n && mid == 0 && suf == 0 && out == n)
      }
    }
    // passthrough fingerprint is fnv64 of the plain token stream —
    // cross-checked against the independent fnv64-of-tokens query path
    import org.apache.spark.sql.functions._
    val expect = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), GraftFunctions.fnv64(
        array_join(operators.TermOps.tokens(col("text")), " ")).as("fp"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    plain.foreach { x =>
      assert(x.getLong(7) == expect(x.getLong(0)),
        s"passthrough fp mismatch for doc ${x.getLong(0)}")
    }
  }

  test("curate_source_contamination rolls up exactly the per-doc " +
      "overlap verdicts and covers every doc") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val agg = SparkEntry.queries("curate_source_contamination")(spark, sf)
      .collect()
    assert(agg.map(_.getLong(1)).sum == 500, "per-source doc counts " +
      "must cover the corpus")
    val docs = Tables.table(spark, sf, "documents")
    val perDoc = operators.TextAnalysisOps.overlapFraction(docs, "doc_id",
        "text", docs.filter(col("doc_id") % 97 === 0), "text", n = 8)
      .filter(col("n_hits") * 2 >= col("n_grams")).count()
    assert(agg.map(_.getLong(2)).sum == perDoc,
      "rolled-up contaminated count diverges from the per-doc gate")
  }

  test("knnGraphLshAuto: the occupancy law is the exact integer search " +
      "(oracle-mirrored), and identical vectors are rank-1 neighbors") {
    import operators.SimilarityOps.lshPlanesFor
    // the documented law: smallest p >= 4 with 128*2^p >= N
    assert(lshPlanesFor(20) == 4)     // sf0.001-ish
    assert(lshPlanesFor(2000) == 4)   // sf0.1 (128*2^4 = 2048 >= 2000)
    assert(lshPlanesFor(2048) == 4)   // exact boundary: 128*2^4 = 2048
    assert(lshPlanesFor(2049) == 5)   // one past it
    assert(lshPlanesFor(200000) == 11)
    assert(lshPlanesFor(Long.MaxValue) == 20) // capped, never unbounded
    val spark = TestSpark.spark
    import spark.implicits._
    // two identical vectors share every hyperplane sign → same bucket
    // → each other's rank-1 at sim 1.0; the far vector is neither's
    val mk = (seed: Int) => Array.tabulate(64)(i =>
      math.sin(seed * 64.0 + i)) // deterministic, no Math.random
    val emb = Seq((1L, mk(1)), (2L, mk(1)), (3L, mk(7)))
      .toDF("vec_id", "embedding")
    val g = operators.SimilarityOps.knnGraphLshAuto(emb, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g.get(1L).contains(2L) && g.get(2L).contains(1L),
      s"identical pair not mutual rank-1: $g")
  }

  test("aHash64Data survives malformed UTF-8 (truncated tails, stray " +
      "continuation leads) without reading past the buffer") {
    // valid input: guard must not change behavior
    val ok = plans.HashKernels.aHash64Data(
      UTF8String.fromString("hello wörld 世界"))
    assert(ok.getLong(0) == 14L) // numChars
    // truncated 2-/3-/4-byte sequences at the buffer end, and a
    // stray continuation byte mid-stream: must decode, not throw
    val cases = Seq(
      Array(0xc3.toByte),                            // truncated 2-byte
      Array(0xe4.toByte, 0xb8.toByte),               // truncated 3-byte
      Array(0xf0.toByte, 0x9f.toByte, 0x98.toByte),  // truncated 4-byte
      Array(0x61.toByte, 0x80.toByte, 0x62.toByte),  // stray continuation
      Array(0xff.toByte, 0x61.toByte))               // invalid lead
    cases.foreach { bs =>
      val r = plans.HashKernels.aHash64Data(UTF8String.fromBytes(bs))
      assert(r != null) // reached: no ArrayIndexOutOfBoundsException
    }
  }
}
