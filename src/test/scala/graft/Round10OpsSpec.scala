package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-10 operator pins. */
class Round10OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- shared IVF stages: the cents0/cells0 fast path is an identity ----

  test("ivfTopK and ivfpqTopK return identical results with and without " +
    "shared cents/cells (the ann_recall sharing refactor is a no-op on " +
    "values)") {
    import graft.operators.SimilarityOps
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val q = emb.filter(col("vec_id") < 10)
    val cents = SimilarityOps.ivfCentroids(emb).localCheckpoint()
    val cells = SimilarityOps.ivfCellAssign(emb, cents).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("nbr_id"), col("rank"))
        .collect().map(_.toSeq).toSet
    assert(rows(SimilarityOps.ivfTopK(emb, q, k = 5)) ==
      rows(SimilarityOps.ivfTopK(emb, q, k = 5,
        cents0 = Some(cents), cells0 = Some(cells))))
    assert(rows(SimilarityOps.ivfpqTopK(emb, q, k = 5)) ==
      rows(SimilarityOps.ivfpqTopK(emb, q, k = 5,
        cents0 = Some(cents), cells0 = Some(cells))))
  }

  // ---- sliding-window chunking ----

  test("chunkWindows covers every token, honors the stride grid, and " +
    "skips empty docs") {
    import graft.operators.PackOps
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // n=10: start grid 0,4
      (2L, "a b c"),                                  // n=3 < win: one chunk
      (3L, ""),                                       // empty: no chunks
      (4L, (1 to 8).map(i => s"u$i").mkString(" ")))  // n=8=win: one chunk
      .toDF("doc_id", "text")
    val out = PackOps.chunkWindows(docs, "doc_id", "text",
      winTokens = 8, strideTokens = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getString(4))).toList.sorted
    assert(out == List(
      (1L, 0, 0, 8, "t1 t2 t3 t4 t5 t6 t7 t8"),
      (1L, 1, 4, 6, "t5 t6 t7 t8 t9 t10"),
      (2L, 0, 0, 3, "a b c"),
      (4L, 0, 0, 8, "u1 u2 u3 u4 u5 u6 u7 u8")), out.toString)
  }

  // ---- DSIR importance weights ----

  test("dsirWeights ranks every target-vocabulary document above every " +
    "raw-only one, and weights are target-sign-correct") {
    import graft.operators.TextAnalysisOps
    // target slice (doc_id % 4 == 0) speaks a distinctive vocabulary;
    // the rest of the corpus speaks filler — importance weights must
    // separate the two populations with positive target-side weights
    val docs = (1L to 40L).map { i =>
      (i, if (i % 4 == 0) "quantum flux lattice gauge boson"
          else "common filler words appear here often")
    }.toDF("doc_id", "text")
    val m = TextAnalysisOps.dsirWeights(docs, "doc_id", "text",
        isTarget = col("doc_id") % 4 === 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m.size == 40)
    val tgt = (1L to 40L).filter(_ % 4 == 0).map(m)
    val raw = (1L to 40L).filter(_ % 4 != 0).map(m)
    assert(tgt.min > raw.max,
      s"target min ${tgt.min} should exceed raw max ${raw.max}")
    assert(tgt.forall(_ > 0) && raw.forall(_ < 0), m.toString)
  }

  // ---- leakage-free split ----

  test("sample_split_leakfree never splits a near-dup cluster, even when " +
    "doc-keyed hashing would") {
    val out = SparkEntry.queries("sample_split_leakfree")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // every doc present exactly once
    assert(out.length == 500 && out.map(_._1).distinct.length == 500)
    // the leakage property: one split per canonical representative
    val perCluster = out.groupBy(_._2).view.mapValues(_.map(_._3).distinct)
    assert(perCluster.values.forall(_.length == 1),
      perCluster.filter(_._2.length > 1).toMap.toString)
    // and the property is not vacuous: at least one multi-doc cluster
    // exists whose members' DOC-keyed buckets differ (a doc-hash split
    // would have torn it across splits)
    def bucket(id: Long): Long = {
      val h = graft.functions.Hashing.fnv1a(id.toString + "#split")
      java.lang.Math.floorMod(h & 0xffffffffL, 100L)
    }
    def split(b: Long) = if (b < 90) "train" else if (b < 95) "val" else "test"
    val torn = out.groupBy(_._2).filter(_._2.length > 1)
      .filter { case (_, ms) => ms.map(m => split(bucket(m._1))).distinct.length > 1 }
    assert(torn.nonEmpty,
      "fixture has no cluster that a doc-keyed split would tear — " +
        "property check is vacuous")
  }

  // ---- BPE-ish pre-tokenizer analyzer ----

  test("Bpe analyzer splits contractions, glues leading spaces, and " +
    "separates letter/digit/punct runs") {
    import graft.operators.TermOps
    val out = Seq("Don't add 42 items... now!")
      .toDF("text")
      .select(TermOps.tokens(col("text"), TermOps.Bpe).as("t"))
      .first().getSeq[String](0).toList
    // lowercased; "don" + "'t"; " 42" digit run with its leading space;
    // "..." one punct run; "!" glued to its space
    assert(out == List("don", "'t", " add", " 42", " items", "...",
      " now", "!"), out.toString)
  }
}
