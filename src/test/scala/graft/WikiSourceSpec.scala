package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.sources.{FileSplits, WikiXml}

class WikiSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixturePath: String = graft.sources.WikiFixtures.standardXmlPath

  /** `bytes` written through a Hadoop codec to a temp file ending in
    * `suffix`. */
  private def compressed(codec: org.apache.hadoop.io.compress.CompressionCodec,
                         bytes: Array[Byte], suffix: String): String = {
    codec.asInstanceOf[org.apache.hadoop.conf.Configurable]
      .setConf(new org.apache.hadoop.conf.Configuration())
    val f = Files.createTempFile("wiki", suffix)
    val out = codec.createOutputStream(Files.newOutputStream(f))
    out.write(bytes)
    out.close()
    f.toString
  }

  private def bz2(bytes: Array[Byte]): String =
    compressed(new org.apache.hadoop.io.compress.BZip2Codec(), bytes, ".xml.bz2")

  /** A dump spanning more than two bz2 blocks. */
  private lazy val noisyBz2: String = {
    val f = bz2(graft.sources.WikiFixtures.noisyXml(2000).getBytes("UTF-8"))
    assert(Files.size(Paths.get(f)) > 2 * 900 * 1000,
      s"need >2 bz2 blocks, got ${Files.size(Paths.get(f))}")
    f
  }

  /** Sorted (rev_id, text) rows, and raw (rev_id, md5) rows, of a read. */
  private def typedRows(path: String, opts: Map[String, String]) =
    WikiXml.read(spark, path, opts).select("rev_id", "text")
      .as[(Long, String)].collect().sorted.toSeq
  private def rawRows(path: String, opts: Map[String, String]) =
    WikiXml.readRaw(spark, path, opts)
      .select(col("rev_id"), md5(col("revision_xml")))
      .as[(Long, String)].collect().sorted.toSeq
  private val Whole = Map("maxSplitBytes" -> Long.MaxValue.toString)

  private def numPartitions(path: String, opts: Map[String, String] = Map.empty) =
    WikiXml.read(spark, path, opts).rdd.getNumPartitions

  test("full read: one row per revision, typed fields, unescaping") {
    val df = WikiXml.read(spark, fixturePath)
    assert(df.count() == 5)
    val alpha = df.filter($"page_id" === 10).orderBy("rev_id")
      .select("page_title", "rev_id", "parent_id", "user", "user_id",
        "comment", "minor", "redirect", "text")
      .collect()
    assert(alpha.length == 3)
    assert(alpha(0).getString(0) == "Alpha & Beta") // entity unescaped
    assert(alpha(0).getLong(2) == -1L)              // no parent
    assert(alpha(1).getString(3) == "192.168.0.1")  // ip contributor
    assert(alpha(1).getLong(4) == -1L)
    assert(alpha(2).getBoolean(6))                  // minor
    assert(!alpha(2).getBoolean(7))                 // not redirect
    assert(alpha(0).getString(8).contains("<tag>")) // text unescaped
    val ts = df.filter($"rev_id" === 101)
      .select(date_format($"timestamp", "yyyy-MM-dd HH:mm:ss")).as[String].head()
    assert(ts == "2020-01-01 00:00:00")
  }

  test("onlyArticles and skipRedirects options prune pages at the scan") {
    val art = WikiXml.read(spark, fixturePath, Map("onlyArticles" -> "true"))
    assert(art.select("page_id").distinct().as[Long].collect().sorted.toSeq == Seq(10L, 20L))
    val clean = WikiXml.read(spark, fixturePath,
      Map("onlyArticles" -> "true", "skipRedirects" -> "true"))
    assert(clean.select("page_id").distinct().as[Long].collect().toSeq == Seq(10L))
  }

  test("time-range option is a half-open interval over revisions") {
    val df = WikiXml.read(spark, fixturePath,
      Map("beginTime" -> "2020-01-01T00:00:00Z", "endTime" -> "2021-01-01T00:00:00Z"))
    assert(df.select("rev_id").as[Long].collect().sorted.toSeq == Seq(101L, 102L))
  }

  test("catalyst filters on namespace/timestamp still yield exact results") {
    val df = WikiXml.read(spark, fixturePath)
      .filter($"page_namespace" === 0 &&
        $"timestamp" >= lit("2020-01-01").cast("timestamp"))
    assert(df.select("rev_id").as[Long].collect().sorted.toSeq ==
      Seq(101L, 102L, 103L))
  }

  test("header-only projection never needs text") {
    val heads = WikiXml.readHeaders(spark, fixturePath)
    assert(heads.columns.toSeq ==
      Seq("page_id", "page_title", "page_namespace", "rev_id", "parent_id",
        "timestamp", "minor", "redirect"))
    assert(heads.count() == 5)
  }

  test("page-boundary splitting: many small splits == one big split") {
    val f = Files.createTempFile("bigwiki", ".xml")
    Files.writeString(f, graft.sources.WikiFixtures.bigXml(60))
    val whole = WikiXml.read(spark, f.toString)
    val split = WikiXml.read(spark, f.toString, Map("maxSplitBytes" -> "4000"))
    assert(split.rdd.getNumPartitions > 5)
    assert(whole.count() == 180)
    assert(split.count() == 180)
    assert(split.agg(sum("rev_id")).as[Long].head() ==
      whole.agg(sum("rev_id")).as[Long].head())
  }

  test("raw mode is split-invariant: same verbatim revisions at any split size") {
    val f = Files.createTempFile("bigwiki-raw", ".xml")
    Files.writeString(f, graft.sources.WikiFixtures.bigXml(60))
    def fingerprints(opts: Map[String, String]) =
      WikiXml.readRaw(spark, f.toString, opts)
        .select(col("rev_id"), md5(col("revision_xml")).as("m"))
        .as[(Long, String)].collect().toSet
    val whole = fingerprints(Map.empty)
    val split = fingerprints(Map("maxSplitBytes" -> "4000"))
    assert(whole.size == 180)
    assert(split == whole)
  }

  test("split index aligns partitions on page boundaries") {
    val f = Files.createTempFile("idxwiki", ".xml")
    Files.writeString(f, graft.sources.WikiFixtures.bigXml(60))
    val idx = graft.sources.IndexSplits.build(spark, f.toString)
    assert(idx.count() == 60) // one offset per page
    val idxPath = graft.Scratch.dir("idx").toString + "/index"
    graft.sources.GraftSinks.writeSplitIndex(idx, idxPath)
    val indexed = WikiXml.read(spark, f.toString,
      Map("maxSplitBytes" -> "4000", "splitIndex" -> idxPath))
    val plain = WikiXml.read(spark, f.toString)
    assert(indexed.rdd.getNumPartitions > 5)
    assert(indexed.count() == 180)
    assert(indexed.agg(sum("rev_id")).as[Long].head() ==
      plain.agg(sum("rev_id")).as[Long].head())
  }

  test("split index planning set is O(ranges), not O(pages)") {
    val f = Files.createTempFile("idxwiki2", ".xml")
    Files.writeString(f, graft.sources.WikiFixtures.bigXml(120))
    val idx = graft.sources.IndexSplits.build(spark, f.toString)
    assert(idx.count() == 120)
    val idxPath = graft.Scratch.dir("idx2").toString + "/index"
    graft.sources.GraftSinks.writeSplitIndex(idx, idxPath)
    val maxSplit = 4000L
    val indexed = WikiXml.read(spark, f.toString,
      Map("maxSplitBytes" -> maxSplit.toString, "splitIndex" -> idxPath))
    // the planned partitions must START at the bucketed index offsets
    // (min page offset per maxSplit-sized bucket) — this fails if the
    // index were silently ignored, because the fallback chunking starts
    // at multiples of maxSplit instead of page boundaries
    val expectedStarts = idx.as[(String, Long)].collect()
      .map(_._2).groupBy(_ / maxSplit).values.map(_.min).toSeq.sorted
    val plannedStarts = indexed.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.partitions.map(
          _.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition]
            .inputPartitions.head
            .asInstanceOf[graft.sources.FileRange].start)
    }.flatten.sorted
    assert(plannedStarts == expectedStarts)
    assert(plannedStarts.size <= Files.size(f) / maxSplit + 1) // O(ranges)
    assert(plannedStarts.size < 120)                           // not O(pages)
    val plain = WikiXml.read(spark, f.toString)
    assert(indexed.count() == plain.count())
    assert(indexed.agg(sum("rev_id")).as[Long].head() ==
      plain.agg(sum("rev_id")).as[Long].head())
  }

  test("bz2-compressed dumps read as a single partition") {
    val f = bz2(Files.readAllBytes(Paths.get(fixturePath)))
    val df = WikiXml.read(spark, f)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 5)
  }

  test("multi-block bz2 splits across partitions with exact results") {
    val whole = WikiXml.read(spark, noisyBz2)
    val split = WikiXml.read(spark, noisyBz2, Map("maxSplitBytes" -> "400000"))
    assert(split.rdd.getNumPartitions > 3)
    assert(whole.count() == 2000)
    assert(split.count() == 2000)
    assert(split.agg(sum("rev_id")).as[Long].head() ==
      whole.agg(sum("rev_id")).as[Long].head())
  }

  test("multi-block bz2 splits by the derived size with exact results") {
    val len = Files.size(Paths.get(noisyBz2))
    val cores = spark.sparkContext.defaultParallelism
    val split = math.max(FileSplits.Bzip2MaxBlock, (len + cores - 1) / cores)
    val parts = numPartitions(noisyBz2)
    assert(parts == ((len + split - 1) / split).toInt)
    assert(parts > 1)
    // balanced: no range holds a short tail while another is full
    val lengths = WikiXml.read(spark, noisyBz2).queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.map { case r: graft.sources.FileRange => r.end - r.start }
    }.flatten
    assert(lengths.size == parts && lengths.sum == len, lengths)
    assert(lengths.max - lengths.min <= parts, lengths)
    assert(typedRows(noisyBz2, Map.empty) == typedRows(noisyBz2, Whole))
    assert(rawRows(noisyBz2, Map.empty) == rawRows(noisyBz2, Whole))
  }

  test("a bz2 block that starts at a page tag or in the gap before it owns that page once") {
    // no byte equals the one before it: bzip2's first stage writes a run of
    // equal bytes as one unit, which would move the block boundary with the
    // padding; the ids skip numbers with a repeated digit
    val words = Array("alpha", "bravo", "delta", "omega", "sigma", "tango")
    val ids = Iterator.from(1).map(_.toString).filter(s => !s.zip(s.tail).exists(p => p._1 == p._2))
      .map(_.toInt).take(900).toSeq
    def dump(pad: Int): String = ids.map { i =>
      val text = (0 until 200).map(j => words((i * 7 + j * 3) % 6)).mkString(" ") +
        (if (i == 1) "ba" * pad take pad else "")
      s"<page>\n<title>P$i</title>\n<ns>0</ns>\n<id>$i</id>\n<revision>\n" +
        s"<id>$i</id>\n<text>$text</text>\n</revision>\n</page>\n"
    }.mkString("<mediawiki>\n", "", "</mediawiki>\n")
    // (decompressed offset, compressed position) where the second block starts
    def secondBlock(f: String): (Long, Long) = {
      val conf = new org.apache.hadoop.conf.Configuration()
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(conf)
      val p = new org.apache.hadoop.fs.Path(f)
      val in = codec.createInputStream(p.getFileSystem(conf).open(p),
        codec.createDecompressor(), 0L, Files.size(Paths.get(f)),
        org.apache.hadoop.io.compress.SplittableCompressionCodec.READ_MODE.BYBLOCK)
      val buf = new Array[Byte](1 << 16)
      val first = in.getPos
      var off = 0L
      var r = in.read(buf, 0, buf.length)
      while (r > 0 && in.getPos == first) { off += r; r = in.read(buf, 0, buf.length) }
      val at = (off, in.getPos)
      in.close()
      assert(r > 0, "need two bz2 blocks")
      at
    }
    val base = dump(0)
    val (boundary, _) = secondBlock(bz2(base.getBytes("UTF-8")))
    val tagBefore = base.lastIndexOf("<page>", boundary.toInt)
    for (gap <- Seq(0, 1)) { // the block opens at '<', or at the byte before it
      val pad = (boundary + gap - tagBefore).toInt
      val xml = dump(pad)
      val f = bz2(xml.getBytes("UTF-8"))
      val (b, blockPos) = secondBlock(f)
      assert(b == boundary && xml.indexOf("<page>", b.toInt - gap) == b + gap)
      val opts = Map("maxSplitBytes" -> (blockPos * 3 / 4).toString)
      assert(numPartitions(f, opts) > 1)
      val got = WikiXml.read(spark, f, opts).select("rev_id").as[Long].collect()
      assert((got.length, got.distinct.length) == (ids.length, ids.length), s"gap=$gap")
    }
  }

  test("a non-splittable codec file is one partition whatever maxSplitBytes") {
    // .deflate has no suffix rule: splittability must come from the codec
    val f = compressed(new org.apache.hadoop.io.compress.DefaultCodec(),
      graft.sources.WikiFixtures.bigXml(60).getBytes("UTF-8"), ".xml.deflate")
    val df = WikiXml.read(spark, f, Map("maxSplitBytes" -> "1000"))
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 180)
    assert(df.select("rev_id").distinct().count() == 180)
  }

  test("a plain dump above the floor plans one partition per core") {
    val conf = spark.sessionState.conf
    val cores = spark.sparkContext.defaultParallelism
    // each core's share must exceed the open-cost floor
    val target = cores * conf.filesOpenCostInBytes + (1 << 20)
    val perPage = graft.sources.WikiFixtures.bigXml(100).length / 100
    val f = Files.createTempFile("bigwiki-derived", ".xml")
    Files.writeString(f, graft.sources.WikiFixtures.bigXml((target / perPage).toInt + 100))
    assert(Files.size(f) > target)
    assert(numPartitions(f.toString) == cores)
    val split = WikiXml.read(spark, f.toString)
    val whole = WikiXml.read(spark, f.toString, Whole)
    assert(split.count() == whole.count())
    assert(split.agg(sum("rev_id")).as[Long].head() ==
      whole.agg(sum("rev_id")).as[Long].head())
    assert(rawRows(f.toString, Map.empty) == rawRows(f.toString, Whole))
  }

  test("small fixtures stay one partition under the derived size") {
    assert(numPartitions(fixturePath) == 1)
  }

  test("scanner hazards across the 64 KB refill point read identically at any split") {
    val (bytes, expected) = BoundaryDump.build()
    val f = Files.createTempFile("boundarywiki", ".xml")
    Files.write(f, bytes)
    val path = f.toString
    val raw = rawRows(path, Whole)
    assert(typedRows(path, Whole) == expected)
    for (split <- Seq(65536, 131072, 100000, 7777)) {
      val opts = Map("maxSplitBytes" -> split.toString)
      assert(numPartitions(path, opts) > 1)
      assert(typedRows(path, opts) == expected, s"typed, maxSplitBytes=$split")
      assert(rawRows(path, opts) == raw, s"raw, maxSplitBytes=$split")
    }
    val doc = new String(bytes, "UTF-8")
    WikiXml.readRaw(spark, path).select("revision_xml").as[String].collect()
      .foreach(r => assert(doc.contains(r)))
  }

  test("no byte-size split constant in the sources package") {
    // split sizes come from FileSplits (the input and the session), never
    // from a per-source constant; needles are split so this file does not
    // match itself
    val literal = ("1024" + """L?\s*\*\s*1024|<<\s*[23]\d""").r
    val found = java.nio.file.Files.walk(Paths.get("src/main/scala/graft/sources"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => literal.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet
    assert(found.isEmpty, s"split-size literal in: $found")
  }

  test("only the shared file-source module names the codec machinery") {
    // the codec, split and ownership rule live in FileSource.scala; needles
    // are split so this file does not match itself
    val names = ("Compression" + "CodecFactory|Splittable" + "CompressionCodec|Codec" + "Pool").r
    val found = java.nio.file.Files.walk(Paths.get("src/main/scala/graft/sources"))
      .iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => names.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSet
    assert(found == Set("FileSource.scala"), s"codec machinery named in: $found")
  }

  test("pushed filters list only what the reader acts on") {
    import org.apache.spark.sql.sources.EqualTo
    def pushed(f: EqualTo) = {
      val b = new graft.sources.FileScanBuilder(graft.sources.WikiRevisionFormat,
        Map("path" -> fixturePath))
      b.pushFilters(Array(f))
      b.pushedFilters().toSeq
    }
    assert(pushed(EqualTo("page_namespace", 4)).isEmpty)
    assert(pushed(EqualTo("page_namespace", 0)) == Seq(EqualTo("page_namespace", 0)))
    // the same rows as the plain read filtered afterwards, pushed or not
    for (ns <- Seq(0, 4)) {
      val expected = WikiXml.read(spark, fixturePath).collect()
        .filter(_.getAs[Int]("page_namespace") == ns).map(_.getAs[Long]("rev_id")).sorted.toSeq
      val got = WikiXml.read(spark, fixturePath).filter($"page_namespace" === ns)
        .select("rev_id").as[Long].collect().sorted.toSeq
      assert(got == expected, s"page_namespace = $ns")
      assert(ns != 0 || got.nonEmpty)
    }
  }

  test("a malformed number in a dump fails with the file, tag and value named") {
    val f = Files.createTempFile("badns", ".xml")
    Files.writeString(f,
      """<mediawiki><page><title>T</title><ns>x</ns><id>1</id>
        |<revision><id>2</id><timestamp>2020-01-01T00:00:00Z</timestamp>
        |<text>t</text></revision></page></mediawiki>
        |""".stripMargin)
    val e = intercept[org.apache.spark.SparkException] {
      WikiXml.read(spark, f.toString).count()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("<ns>") && msg.contains("'x'") &&
      msg.contains(f.getFileName.toString), msg)
  }

  test("parser corner cases: missing ns, self-closing text, no comment, pageless file") {
    val xml =
      """<mediawiki>
        |  <page>
        |    <title>Sparse</title>
        |    <id>99</id>
        |    <revision>
        |      <id>991</id>
        |      <timestamp>2020-01-01T00:00:00Z</timestamp>
        |      <contributor deleted="deleted" />
        |      <text bytes="0" />
        |    </revision>
        |    <revision>
        |      <id>992</id>
        |      <text bytes="1">x</text>
        |    </revision>
        |  </page>
        |  <page>
        |    <title>Empty page</title>
        |    <ns>0</ns>
        |    <id>98</id>
        |  </page>
        |</mediawiki>
        |""".stripMargin
    val f = Files.createTempFile("sparse", ".xml")
    Files.writeString(f, xml)
    val rows = WikiXml.read(spark, f.toString).orderBy("rev_id").collect()
    assert(rows.length == 2) // revision-less page contributes nothing
    val r = rows.head
    assert(r.getAs[Int]("page_namespace") == 0)   // ns defaults to 0
    assert(r.getAs[String]("text") == "")          // self-closing <text/>
    assert(r.getAs[String]("user") == null)        // deleted contributor
    assert(r.getAs[Long]("user_id") == -1L)
    assert(r.getAs[String]("comment") == null)     // absent comment
    assert(r.getAs[Long]("parent_id") == -1L)
    assert(rows(1).getAs[java.sql.Timestamp]("timestamp") == null) // absent ts
  }

  test("raw mode emits each revision's verbatim dump substring") {
    val rows = WikiXml.readRaw(spark, fixturePath)
      .orderBy("rev_id").collect()
    assert(rows.map(_.getAs[Long]("rev_id")).toSeq ==
      Seq(101L, 102L, 103L, 201L, 301L))
    // exact substring check against the authored fixture, no re-serialization
    val fixture = graft.sources.WikiFixtures.standardXml
    rows.foreach { r =>
      val raw = r.getAs[String]("revision_xml")
      assert(raw.startsWith("<revision>") && raw.endsWith("</revision>"), raw.take(40))
      assert(fixture.contains(raw), s"rev ${r.getAs[Long]("rev_id")} not verbatim")
    }
    // page context rides along
    assert(rows.last.getAs[Long]("page_id") == 30L)
    assert(rows.last.getAs[String]("page_title") == "Category:Things")
  }

  test("raw mode composes with pushdown options") {
    val rows = WikiXml.readRaw(spark, fixturePath,
        Map("onlyArticles" -> "true", "skipRedirects" -> "true",
          "beginTime" -> "2020-06-01T00:00:00Z"))
      .select("rev_id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(102L, 103L))
  }

  test("fileNames source lists files") {
    assert(WikiXml.fileNames(spark, fixturePath).count() == 1)
  }

  test("json ingest with the canonical schema") {
    val df = WikiXml.readJson(spark, graft.sources.WikiFixtures.jsonPath)
    assert(df.count() == 2)
    assert(df.select(max("rev_id")).as[Long].head() == 6L)
  }
}

/** A dump that puts each hazard of the reader's bulk scanner across a
  * refill point of its 64 KB buffer (offsets multiple of 64 KB, as read
  * from a partition starting at one): a `<page>` tag, a `</page>` tag, a
  * false partial `</pag` inside text, a multi-byte UTF-8 character, and a
  * page larger than the buffer. Spaces pad between pages and before
  * `</page>`, where the parser ignores them. */
object BoundaryDump {
  val Refill = 1 << 16

  private def head(id: Long): String =
    s"<page>\n    <title>T$id</title>\n    <ns>0</ns>\n    <id>$id</id>\n" +
      s"    <revision>\n      <id>$id</id>\n" +
      "      <timestamp>2020-01-01T00:00:00Z</timestamp>\n" +
      "      <text xml:space=\"preserve\">"
  private val tail = "</text>\n    </revision>\n  "

  /** The dump's bytes and its (rev_id, text) rows, sorted. */
  def build(): (Array[Byte], Seq[(Long, String)]) = {
    val out = new java.io.ByteArrayOutputStream()
    val rows = Seq.newBuilder[(Long, String)]
    def put(s: String): Unit = out.write(s.getBytes("UTF-8"))
    /** Count of ASCII bytes that brings the write position to `before`
      * bytes ahead of the next refill point. */
    def gap(before: Int): Int = {
      val b = ((out.size + before) / Refill + 1) * Refill
      b - before - out.size
    }
    def page(id: Long, text: String, padClose: Int = -1): Unit = {
      put(head(id) + text + tail)
      if (padClose >= 0) put(" " * gap(padClose))
      put("</page>\n")
      rows += id -> text
    }
    /** A page whose text puts `marker` `before` bytes ahead of a refill. */
    def straddle(id: Long, marker: String, before: Int): Unit = {
      val at = out.size + head(id).getBytes("UTF-8").length
      val fill = ((at + before) / Refill + 1) * Refill - before - at
      page(id, "x" * fill + marker + " after")
    }
    put("<mediawiki>\n")
    page(1, "plain")
    put(" " * gap(3)); page(2, "page tag across the refill")
    page(3, "close tag across the refill", padClose = 3)
    straddle(4, "</pagination", 2)
    straddle(5, "\u20ac and \ud834\udd1e", 1)
    page(6, ("large page \u00fc " * 12000).trim)
    page(7, "last")
    put("</mediawiki>\n")
    val bytes = out.toByteArray
    // each hazard really spans a refill point
    def spans(m: String): Boolean = {
      val mb = m.getBytes("UTF-8")
      bytes.indices.exists(i => i % Refill > Refill - mb.length &&
        bytes.startsWith(mb, i))
    }
    Seq("<page>", "</page>", "</pagination", "\u20ac").foreach(m => assert(spans(m), m))
    (bytes, rows.result().sorted)
  }
}
