package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.operators.SkewOps

class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fnv64 native expression matches the Scala kernel (codegen path)") {
    val inputs = Seq("abc", "", "hello world", "日本語テキスト", "a\nb")
    val out = inputs.toDF("v").selectExpr("v", "fnv64(v) AS h")
      .as[(String, Long)].collect().toMap
    inputs.foreach(s => assert(out(s) == Hashing.fnv1a(s), s"mismatch for $s"))
  }

  test("fnv64 is null-safe and visible to spark.sql") {
    Seq(Option("x"), None).toDF("v").createOrReplaceTempView("fnv_in")
    val rows = spark.sql("SELECT fnv64(v) AS h FROM fnv_in")
      .collect().map(r => Option(r.get(0)))
    assert(rows.count(_.isEmpty) == 1)
    assert(rows.flatten.head == Hashing.fnv1a("x"))
  }

  test("fnv64 stays inside whole-stage codegen") {
    val plan = spark.range(10).selectExpr("fnv64(cast(id AS string)) AS h")
      .queryExecution.executedPlan.toString
    // "*(1)" marks a WholeStageCodegen stage; fnv64 must sit inside one
    assert(plan.contains("*(1) Project [fnv64("), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"))
  }

  test("SQL builders reject wrong arity with an AnalysisException, not IOOBE") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_sig(array('a','b'))").collect()
    }
    assert(e.getMessage.contains("minhash_sig"), e.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT fnv64('a', 'b')").collect()
    }
    assert(e2.getMessage.contains("fnv64"), e2.getMessage)
  }

  test("null int literals fail analysis instead of NPE at plan time") {
    Seq(
      "SELECT decode_ez('1,2', cast(null AS int))",
      "SELECT minhash_sig(array('a'), cast(null AS int), 4)",
      "SELECT band_buckets(array(1L), cast(null AS int), 2)",
      "SELECT sign_bits(array(cast(1.0 AS float)), cast(null AS int))"
    ).foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(q).collect()
      }
      assert(e.getMessage.toLowerCase.contains("non-null int literal"),
        s"$q → ${e.getMessage}")
    }
  }

  test("native text kernels match the pure-Scala functions (codegen path)") {
    import graft.functions.{DiffFunctions, TextFunctions}
    val texts = Seq(
      "See [[Spark|the engine]] and [[Scala]] but not [[File:x.png|img]].",
      "'''Bold''' [[link|word]] <ref>x</ref> {{tmpl}} &amp; http://u.com end",
      "{{Infobox x|a}} {{cite web|u}} {{Good one}} http://a.io/b done",
      "", "no markup at all", "日本語 [[リンク|テキスト]] {{テンプレート}}")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("fid", "text")
      .select(col("fid"), col("text"),
        GraftFunctions.extractLinks(col("text")).as("links"),
        GraftFunctions.extractLinksCtx(col("text")).as("ctx"),
        GraftFunctions.extractRefs(col("text")).as("refs"),
        GraftFunctions.extractTemplates(col("text")).as("tmpls"),
        GraftFunctions.plainText(col("text")).as("plain"))
    df.collect().foreach { r =>
      val t = r.getString(1)
      val links = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => graft.model.Link(x.getString(0), x.getString(1)))
      assert(links == TextFunctions.extractLinks(t), s"links for '$t'")
      val ctx = r.getSeq[org.apache.spark.sql.Row](3)
        .map(x => graft.model.LinkCtx(x.getString(0), x.getString(1),
          x.getInt(2), x.getString(3), x.getString(4)))
      assert(ctx == TextFunctions.extractLinksWithContext(t), s"ctx for '$t'")
      assert(r.getSeq[String](4) == TextFunctions.extractReferences(t), s"refs for '$t'")
      assert(r.getSeq[String](5) == TextFunctions.extractTemplates(t), s"tmpls for '$t'")
      assert(r.getString(6) == TextFunctions.plainText(t), s"plain for '$t'")
    }
    // binary kernels: diff + multiset-added-words vs the Scala spec
    val a = Seq("the", "quick", "fox", "dup", "dup")
    val b = Seq("a", "quick", "brown", "fox", "dup", "dup", "dup")
    val row = Seq((a, b)).toDF("o", "r")
      .select(GraftFunctions.revDiff(col("o"), col("r")).as("d"),
        GraftFunctions.addedWords(col("o"), col("r")).as("w"))
      .collect().head
    val deltas = row.getSeq[org.apache.spark.sql.Row](0).map(x =>
      graft.model.Delta(x.getString(0), x.getInt(1), x.getInt(2),
        x.getSeq[String](3), x.getSeq[String](4)))
    assert(deltas == DiffFunctions.diff(a, b))
    assert(row.getSeq[String](1) == DiffFunctions.addedWords(a, b))
  }

  test("native text kernels map null input to empty, never null") {
    val r = Seq(Option.empty[String]).toDF("text")
      .select(GraftFunctions.extractLinks(col("text")).as("links"),
        GraftFunctions.plainText(col("text")).as("plain"),
        GraftFunctions.addedWords(lit(null).cast("array<string>"),
          lit(null).cast("array<string>")).as("w"))
      .collect().head
    assert(r.getSeq[Any](0) == Seq.empty)
    assert(r.getString(1) == "")
    assert(r.getSeq[Any](2) == Seq.empty)
  }

  test("text kernels stay inside whole-stage codegen (no UDF tier)") {
    val plan = Seq("x [[A|b]]").toDF("text")
      .select(explode(GraftFunctions.extractLinks(col("text"))).as("l"),
        GraftFunctions.plainText(col("text")).as("p"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("extract_links("), plan)
    assert(plan.contains("plain_text("), plan)
    assert(!plan.toLowerCase.contains("scalaudf") && !plan.contains("UDF("), plan)
    // the Generate node sits inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Generate"), plan)
  }

  test("native text kernels resolve in SQL with the same semantics") {
    Seq("a [[X|y]] {{cite a}} {{Keep}} http://r.io t ").toDF("t")
      .createOrReplaceTempView("tk_in")
    val r = spark.sql(
      """SELECT size(extract_links(t)) AS nl, size(extract_refs(t)) AS nr,
        |  extract_templates(t)[0] AS tm, plain_text(t) AS pl,
        |  size(rev_diff(array('a','b'), array('a','c'))) AS nd,
        |  added_words(array('a'), array('a','z'))[0] AS aw
        |FROM tk_in""".stripMargin).collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) == 1)
    assert(r.getString(2) == "Keep")
    assert(r.getString(3) == "a y t")
    assert(r.getInt(4) == 1 && r.getString(5) == "z")
  }

  test("native signature kernels match the Hashing definitions bit-for-bit") {
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "日本語")
    val row = Seq(Tuple1(toks)).toDF("toks")
      .select(GraftFunctions.minhashSig(col("toks"), lit(3), lit(8)).as("mh"),
        GraftFunctions.simhash64(col("toks")).as("sh"))
      .collect().head
    assert(row.getSeq[Long](0) ==
      Hashing.minHash(Hashing.shingles(toks, 3).toSet, 8).toSeq)
    assert(row.getLong(1) == Hashing.simHash(toks))
    // short and empty token lists hit the documented shingle edge cases
    for (edge <- Seq(Seq("ab"), Seq.empty[String])) {
      val r = Seq(Tuple1(edge)).toDF("toks")
        .select(GraftFunctions.minhashSig(col("toks"), lit(3), lit(4)).as("mh"))
        .collect().head
      assert(r.getSeq[Long](0) ==
        Hashing.minHash(Hashing.shingles(edge, 3).toSet, 4).toSeq, edge)
    }
    // scalar hashes + sign-bits against their Scala kernels
    val embF = Seq(0.5f, -0.25f, 0.125f, -1.0f)
    val r2 = Seq((1L, "seedme", embF)).toDF("id", "s", "emb")
      .select(GraftFunctions.seededHash(col("s"), lit(7)).as("sh"),
        GraftFunctions.rollingFingerprint(col("s")).as("rf"),
        GraftFunctions.signBitsCol(col("emb"), lit(8)).as("sb"),
        GraftFunctions.signBitsCol(col("emb").cast("array<double>"), lit(8)).as("sbd"))
      .collect().head
    assert(r2.getLong(0) == Hashing.seeded("seedme", 7))
    assert(r2.getLong(1) == Hashing.rollingHash("seedme"))
    val expectedSig = operators.SimilarityOps.signBits(embF.map(_.toDouble), 8)
    assert(r2.getLong(2) == expectedSig && r2.getLong(3) == expectedSig)
  }

  test("scalar text expressions match their kernels incl. null conventions") {
    import graft.functions.TextFunctions
    val r = Seq((1L, "foo bar#sec", "http://www.bbc.co.uk/news", "abcdef",
        "AB5C3,CA1B2", "the cat is on the mat"))
      .toDF("id", "title", "url", "v", "ez", "txt")
      .select(GraftFunctions.normalizeTitle(col("title")).as("norm"),
        GraftFunctions.extractDomain(col("url")).as("dom"),
        GraftFunctions.cutLast(col("v"), lit(2)).as("cut"),
        GraftFunctions.decodeEz(col("ez"), lit(5)).as("days"),
        GraftFunctions.langId(col("txt")).as("lang"),
        GraftFunctions.freebaseEncode(lit("a b$c")).as("fb"))
      .collect().head
    assert(r.getString(0) == TextFunctions.normalizeTitle("foo bar#sec"))
    assert(r.getString(1) == TextFunctions.extractDomain("http://www.bbc.co.uk/news"))
    assert(r.getString(2) == "abcd")
    assert(r.getSeq[Int](3) == EzFunctions.decodeEz("AB5C3,CA1B2", 5).toSeq)
    assert(r.getString(4) == "en")
    assert(r.getString(5) == TextFunctions.freebaseEncode("a b$c"))
    // null conventions: lang_id/decode_ez/cut_last never null; domain and
    // normalize_title stay null-propagating; malformed url → null
    val n = Seq(Tuple1(Option.empty[String])).toDF("s")
      .select(GraftFunctions.langId(col("s")).as("lang"),
        GraftFunctions.decodeEz(col("s"), lit(3)).as("days"),
        GraftFunctions.cutLast(col("s"), lit(1)).as("cut"),
        GraftFunctions.normalizeTitle(col("s")).as("norm"),
        GraftFunctions.extractDomain(lit("not a url")).as("dom"))
      .collect().head
    assert(n.getString(0) == "und")
    assert(n.getSeq[Int](1) == Seq(0, 0, 0))
    assert(n.getString(2) == "")
    assert(n.isNullAt(3) && n.isNullAt(4))
  }

  test("hamming64 resolves to popcount(xor) in SQL") {
    val r = spark.sql("SELECT hamming64(255L, 240L) AS h").collect().head
    assert(r.getInt(0) == Hashing.hamming(255L, 240L))
  }

  test("saltedSum equals the direct aggregation") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 7}", i.toDouble))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val salted = SkewOps.saltedSum(df, "k", "v")
      .as[(String, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (s, n)) =>
      assert(n == direct(k)._2)
      assert(math.abs(s - direct(k)._1) < 1e-6)
    }
  }
}
