package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: sequential microbenchmark of the text-kernel tier
  * (extract_links / extract_links_ctx / extract_refs / extract_templates /
  * plain_text / rev_diff / added_words) over the `documents` table, so the
  * UDF→native-expression promotion has a measured before/after at data
  * scale (the fixture queries in `queries` are 1-3 rows — too small to
  * time). Markup is synthesized around the document text so the link /
  * template / ref scanners do real work.
  *
  * `runMain graft.KernelBench` — env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  * Prints one JSON line of median-of-3 seconds per kernel.
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")

    // wiki-ish markup wrapped around real document text; two bounded token
    // arrays for the diff kernels (full-document DP diff is quadratic by
    // design — the reference diffs at paragraph granularity, mirrored here
    // by the 200-token cap)
    // documents at sf0.1 is 5k rows — replicate so each kernel runs for
    // seconds, not milliseconds (copies differ by a suffix so no
    // cross-row memoization could flatter a run)
    val repl = sys.env.getOrElse("SPARK_GRAFT_KB_REPL", "16").toInt
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), lit(repl - 1))).as("copy"),
        col("text"))
      .withColumn("text", concat(col("text"), lit(" c"), col("copy")))
      .repartition(GraftSession.cpus * 4)
      .select(col("doc_id"),
        concat(lit("See [[Target page|anchor]] and {{Infobox x|y}} "),
          col("text"),
          lit(" more [[Other]] {{cite web|u}} <ref>r</ref> http://x.io/a end"))
          .as("text"))
      .withColumn("toks", slice(graft.operators.TermOps.tokens(col("text")), 1, 200))
      .withColumn("toks2",
        concat(slice(col("toks"), 1, 150), array(lit("zz"), lit("yy"))))
      .persist()
    docs.count() // materialize input once so runs time the kernel only

    def run(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def med3(mk: () => DataFrame): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); run(mk()); (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    }

    val g = GraftFunctions
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "extract_links" -> (() =>
        docs.select(explode(g.extractLinks(col("text"))).as("l"))
          .select(col("l.anchor"), col("l.target"))),
      "extract_links_ctx" -> (() =>
        docs.select(explode(g.extractLinksCtx(col("text"))).as("l"))
          .select(col("l.anchor"), col("l.offset"))),
      "extract_refs" -> (() =>
        docs.select(size(g.extractRefs(col("text"))).as("n"))),
      "extract_templates" -> (() =>
        docs.select(explode(g.extractTemplates(col("text"))).as("t"))),
      "plain_text" -> (() =>
        docs.select(length(g.plainText(col("text"))).as("n"))),
      "rev_diff" -> (() =>
        docs.select(explode(g.revDiff(col("toks"), col("toks2"))).as("d"))
          .select(col("d.op"))),
      "added_words" -> (() =>
        docs.select(explode(g.addedWords(col("toks"), col("toks2"))).as("w"))),
      "minhash_sig" -> (() =>
        docs.select(g.minhashSig(col("toks"), lit(3), lit(32)).as("mh"))
          .select(element_at(col("mh"), 1))),
      "simhash64" -> (() =>
        docs.select(g.simhash64(col("toks")).as("sh"))),
      "band_buckets" -> (() =>
        docs.select(explode(g.bandBuckets(
          g.minhashSig(col("toks"), lit(3), lit(32)), lit(8), lit(4))).as("b"))),
      "lang_id" -> (() =>
        docs.select(g.langId(col("text")).as("l"))),
      "normalize_title" -> (() =>
        docs.select(g.normalizeTitle(col("text")).as("n"))),
      "rolling_fingerprint" -> (() =>
        docs.select(g.rollingFingerprint(col("text")).as("f"))))

    kernels.foreach { case (n, mk) => run(mk()) } // warm codegen paths
    val results = kernels.map { case (n, mk) => n -> med3(mk) }
    val js = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"kernel_bench":$js,"sf":"$sfDir"}""")
    spark.stop()
  }
}
