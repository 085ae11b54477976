package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.functions.{DiffFunctions, Hashing, TextFunctions}

/** Property tests for the pure kernels (SURVEY §5 names title
  * normalization, link extraction and the diff as property-friendly). */
class PropertiesSpec extends AnyFunSuite {

  /** Seeded sampling from raw ScalaCheck generators (no scalatest bridge
    * in the offline cache): 100 deterministic cases per property. */
  private def samples[T](g: Gen[T], n: Int = 100): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(1000L + i)))

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    samples(ga).zip(samples(gb)).foreach { case (a, b) => f(a, b) }

  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    samples(ga).foreach(f)

  private val word: Gen[String] = Gen.chooseNum(1, 6)
    .flatMap(n => Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
  private val tokenList: Gen[List[String]] = Gen.listOf(word)

  /** Two token lists over one 2-6 word vocabulary, so tokens repeat and
    * many alignments tie. */
  private val vocabPair: Gen[(List[String], List[String])] =
    Gen.chooseNum(2, 6).flatMap { v =>
      val tok = Gen.chooseNum(0, v - 1).map(i => s"w$i")
      Gen.zip(Gen.listOf(tok), Gen.listOf(tok))
    }

  test("diff deltas replay orig into rev") {
    forAll(tokenList, tokenList) { (a, b) =>
      assert(LcsOracle.replay(a.toIndexedSeq, DiffFunctions.diff(a, b)) == b)
    }
    samples(vocabPair, 1000).foreach { case (a, b) =>
      assert(LcsOracle.replay(a.toIndexedSeq, DiffFunctions.diff(a, b)) == b)
    }
  }

  test("diff edits the fewest tokens: deleted + inserted = n + m - 2·LCS") {
    samples(vocabPair, 1000).foreach { case (a, b) =>
      val edited = DiffFunctions.diff(a, b)
        .map(d => d.origLines.length + d.revLines.length).sum
      assert(edited == a.length + b.length - 2 * LcsOracle.lcs(a, b), (a, b))
    }
  }

  test("diff of identical lists is empty; delta count bounded by edits") {
    forAll(tokenList) { a =>
      assert(DiffFunctions.diff(a, a).isEmpty)
    }
    // chunks sit between aligned tokens, so there are at most LCS + 1
    samples(vocabPair, 1000).foreach { case (a, b) =>
      assert(DiffFunctions.diff(a, b).length <= LcsOracle.lcs(a, b) + 1, (a, b))
    }
  }

  test("addedWords is the clipped multiset difference") {
    forAll(tokenList, tokenList) { (a, b) =>
      val added = DiffFunctions.addedWords(a, b)
      val ca = a.groupBy(identity).view.mapValues(_.size)
      val cb = b.groupBy(identity).view.mapValues(_.size)
      val expect = cb.map { case (w, n) =>
        w -> math.max(0, n - ca.getOrElse(w, 0))
      }.filter(_._2 > 0).toMap
      assert(added.groupBy(identity).view.mapValues(_.size).toMap == expect)
    }
  }

  test("normalizeTitle is idempotent") {
    forAll(Gen.asciiPrintableStr) { s =>
      val once = TextFunctions.normalizeTitle(s)
      assert(TextFunctions.normalizeTitle(once) == once)
    }
  }

  test("freebaseEncode round-trips through its own decoder") {
    def decode(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '$' && i + 4 < s.length) {
          sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
          i += 5
        } else { sb += s.charAt(i); i += 1 }
      }
      sb.toString
    }
    forAll(Gen.asciiPrintableStr) { s =>
      assert(decode(TextFunctions.freebaseEncode(s)) == s)
    }
  }

  test("shingle count and minhash monotonicity") {
    forAll(tokenList, tokenList) { (a, extra) =>
      val sh = Hashing.shingles(a, 3)
      if (a.isEmpty) assert(sh.isEmpty)
      else assert(sh.length == math.max(1, a.length - 2))
      // adding shingles can only lower (or keep) each signature component
      val base = Hashing.minHash(Hashing.shingles(a, 3).toSet, 16)
      val more = Hashing.minHash(
        (Hashing.shingles(a, 3) ++ Hashing.shingles(extra, 3)).toSet, 16)
      assert(base.zip(more).forall { case (x, y) => y <= x })
    }
  }

  test("extractLinks output always round-trips from the input text") {
    val linkText: Gen[String] = for {
      pre <- Gen.alphaStr
      t <- word
      a <- word
      post <- Gen.alphaStr
    } yield s"$pre [[$t|$a]] mid [[$t]] $post"
    forAll(linkText) { s =>
      val links = TextFunctions.extractLinks(s)
      assert(links.length == 2)
      links.foreach { l =>
        assert(s.contains(l.target))
        assert(s.contains(l.anchor))
        assert(!l.target.contains(':') && !l.target.startsWith("#"))
      }
    }
  }

  test("decodeEz never produces negatives and ignores out-of-range days") {
    val seg: Gen[String] = for {
      day <- Gen.chooseNum(0, 30)
      hours <- Gen.listOf(for {
        h <- Gen.chooseNum(0, 23)
        v <- Gen.chooseNum(0, 999)
      } yield s"${('A' + h).toChar}$v")
    } yield s"${('A' + day).toChar}${hours.mkString}"
    forAll(Gen.listOf(seg), Gen.chooseNum(1, 31)) { (segs, days) =>
      val out = EzFunctions.decodeEz(segs.mkString(","), days)
      assert(out.length == days)
      assert(out.forall(_ >= 0))
    }
  }

  test("hash32 column form agrees with the scalar for any Long, incl. huge/negative") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val keys = samples(Gen.chooseNum(Long.MinValue, Long.MaxValue), 200) ++
      Seq(0L, -1L, 3465735903L, Long.MaxValue, Long.MinValue, 4294967296L)
    val out = keys.toDF("k")
      .select(col("k"), operators.SimilarityOps.hash32Col(col("k")).as("h"))
      .as[(Long, Long)].collect().toMap
    keys.foreach { k =>
      assert(out(k) == operators.SimilarityOps.hash32(k), s"key $k")
      assert(out(k) >= 0 && out(k) < 4294967296L)
    }
  }

  test("shingleStrings matches Hashing.shingles for token lists of length >= k") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val lists = samples(tokenList.suchThat(_.lengthCompare(3) >= 0), 60)
      .filter(_.length >= 3)
    val out = lists.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("id", "toks")
      .select(col("id"),
        operators.TermOps.shingleStrings(col("toks"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    lists.zipWithIndex.foreach { case (l, i) =>
      assert(out(i.toLong) == Hashing.shingles(l, 3), s"list $l")
    }
  }

  test("fnv64 native expression agrees with the kernel on arbitrary strings") {
    val spark = TestSpark.spark
    import spark.implicits._
    val samples = Gen.listOfN(50, Gen.asciiPrintableStr)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L)).get
    val out = samples.toDF("v").selectExpr("v", "fnv64(v) AS h")
      .as[(String, Long)].collect().toMap
    samples.foreach(s => assert(out(s) == Hashing.fnv1a(s)))
  }

  test("native minhash/simhash/band expressions agree with the Hashing kernels " +
      "on arbitrary token lists") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val lists = samples(tokenList, 80) :+ List.empty[String] :+ List("solo")
    val out = lists.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("id", "toks")
      .select(col("id"),
        GraftFunctions.minhashSig(col("toks"), lit(3), lit(8)).as("mh"),
        GraftFunctions.simhash64(col("toks")).as("sh"))
      .withColumn("bands", GraftFunctions.bandBuckets(col("mh"), lit(2), lit(4)))
      .as[(Long, Seq[Long], Long, Seq[Long])].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    lists.zipWithIndex.foreach { case (l, i) =>
      val (mh, sh, bands) = out(i.toLong)
      val expectedMh = Hashing.minHash(Hashing.shingles(l, 3).toSet, 8).toSeq
      assert(mh == expectedMh, s"minhash for $l")
      assert(sh == Hashing.simHash(l), s"simhash for $l")
      // band fold replayed in Scala from the expected signature
      val expectedBands = (0 until 2).map { b =>
        var h = Hashing.FnvOffset
        var j = b * 4
        while (j < (b + 1) * 4 && j < expectedMh.length) {
          h ^= expectedMh(j); h *= Hashing.FnvPrime; j += 1
        }
        (b.toLong << 56) ^ (h >>> 8)
      }
      assert(bands == expectedBands, s"bands for $l")
    }
  }

  test("native text expressions agree with the kernels on arbitrary markup-ish strings") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val frag: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr, word.map(w => s"[[$w|$w]]"), word.map(w => s"{{$w}}"),
      Gen.const("<ref>r</ref>"), Gen.const("http://x.io/a "), Gen.const("[["),
      Gen.const("}}"), word)
    val texts = samples(Gen.listOf(frag).map(_.mkString(" ")), 80)
    val out = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"),
        GraftFunctions.extractLinks(col("text")).as("l"),
        GraftFunctions.extractTemplates(col("text")).as("t"),
        GraftFunctions.extractRefs(col("text")).as("r"),
        GraftFunctions.plainText(col("text")).as("p"))
      .collect()
      .map(r => r.getLong(0) -> r).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val r = out(i.toLong)
      val links = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => graft.model.Link(x.getString(0), x.getString(1)))
      assert(links == TextFunctions.extractLinks(t), s"links for '$t'")
      assert(r.getSeq[String](2) == TextFunctions.extractTemplates(t), s"tmpl for '$t'")
      assert(r.getSeq[String](3) == TextFunctions.extractReferences(t), s"refs for '$t'")
      assert(r.getString(4) == TextFunctions.plainText(t), s"plain for '$t'")
    }
  }
}
