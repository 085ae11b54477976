package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{Warc, WikiFixtures}

class WarcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fixturePath: String = WikiFixtures.standardWarcPath

  test("full read: one row per record, typed fields, header map") {
    val df = Warc.read(spark, fixturePath)
    assert(df.count() == 4)
    val types = df.select("warc_type").as[String].collect().sorted.toSeq
    assert(types == Seq("metadata", "response", "response", "warcinfo"))
    val r1 = df.filter($"record_id" === "<urn:uuid:0001-resp>").collect().head
    assert(r1.getAs[String]("trec_id") == "clueweb09-en0000-00-00001")
    assert(r1.getAs[String]("target_uri") == "http://example.org/a")
    assert(r1.getAs[String]("content_type") == "application/http;msgtype=response")
    val body = new String(r1.getAs[Array[Byte]]("body"), "UTF-8")
    assert(body.endsWith("<html><body>alpha page about dams</body></html>"))
    assert(r1.getAs[Long]("content_length") == body.getBytes("UTF-8").length)
    val hdrs = r1.getAs[Map[String, String]]("headers")
    assert(hdrs("WARC-Date") == "2020-03-01T00:00:01Z")
    assert(hdrs.contains("Content-Length"))
  }

  test("warc_type pushdown filters records before body materialization") {
    val df = Warc.read(spark, fixturePath).filter($"warc_type" === "response")
    assert(df.count() == 2)
    // the trec ids of both response records survive
    assert(df.select("trec_id").as[String].collect().sorted.toSeq ==
      Seq("clueweb09-en0000-00-00001", "clueweb09-en0000-00-00002"))
    // pin the mechanism at the connector level: the builder accepts the
    // equality and the resulting reader emits only matching records
    val builder = new graft.sources.WarcScanBuilder(Map("path" -> fixturePath))
    builder.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("warc_type", "response")))
    assert(builder.pushedFilters().length == 1)
    val scan = builder.build().asInstanceOf[graft.sources.WarcScan]
    val parts = scan.planInputPartitions()
    val factory = scan.createReaderFactory()
    val n = parts.map { p =>
      val r = factory.createReader(p)
      var c = 0
      while (r.next()) c += 1
      r.close(); c
    }.sum
    assert(n == 2)
  }

  test("gzip archives read as one partition with identical rows") {
    val content = WikiFixtures.standardWarc.getBytes("UTF-8")
    val f = Files.createTempFile("test", ".warc.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
    out.write(content); out.close()
    val gz = Warc.read(spark, f.toString)
    assert(gz.rdd.getNumPartitions == 1)
    val plain = Warc.read(spark, fixturePath)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"record_id", md5($"body"), $"content_length")
        .as[(String, String, Long)].collect().toSet
    assert(key(gz) == key(plain))
    Files.delete(f)
  }

  test("plain-file splits cover every record exactly once") {
    val content = WikiFixtures.bigWarc(300)
    val p = WikiFixtures.materialize("big.warc", content)
    val whole = Warc.read(spark, p)
      .select("record_id").as[String].collect().sorted.toSeq
    assert(whole.length == 300)
    // force many small splits; every record must appear exactly once
    val split = Warc.read(spark, p, Map("maxSplitBytes" -> "65536"))
    assert(split.rdd.getNumPartitions > 3)
    val got = split.select("record_id").as[String].collect().sorted.toSeq
    assert(got == whole)
    // and bodies survive splitting byte-for-byte
    val sums = Warc.read(spark, p, Map("maxSplitBytes" -> "65536"))
      .agg(sum(length($"body")), count(lit(1))).as[(Long, Long)].head()
    val wholeSums = Warc.read(spark, p)
      .agg(sum(length($"body")), count(lit(1))).as[(Long, Long)].head()
    assert(sums == wholeSums)
  }

  test("a record starting exactly on a split boundary is owned exactly once") {
    // ownership rule: a partition owns records whose version line starts
    // in (start, end] — place the boundary precisely on record 2's start
    val records = (1 to 3).map(i => WikiFixtures.warcRecord("1.0", Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> f"<urn:uuid:b$i%04d>",
      "WARC-Target-URI" -> s"http://example.org/b$i",
      "Content-Type" -> "text/plain"), s"body-$i " + ("x" * 50)))
    val content = records.mkString
    val secondStart = records.head.getBytes("UTF-8").length
    val p = WikiFixtures.materialize("boundary.warc", content)
    val df = Warc.read(spark, p, Map("maxSplitBytes" -> secondStart.toString))
    assert(df.rdd.getNumPartitions >= 2)
    val ids = df.select("record_id").as[String].collect().sorted.toSeq
    assert(ids == Seq("<urn:uuid:b0001>", "<urn:uuid:b0002>", "<urn:uuid:b0003>"))
  }

  test("codec-detected files are never split, whatever the extension") {
    // planner and reader must share one splittability rule: the reader
    // decompresses whole-stream for ANY CompressionCodecFactory-recognized
    // file, so a .deflate (DefaultCodec — not .gz/.bz2) exceeding
    // maxSplitBytes must still plan ONE partition, or every byte-range
    // partition would re-emit the whole archive
    val content = WikiFixtures.bigWarc(300).getBytes("UTF-8")
    val f = Files.createTempFile("test", ".warc.deflate")
    val out = new java.util.zip.DeflaterOutputStream(Files.newOutputStream(f))
    out.write(content); out.close()
    assert(Files.size(f) > 65536) // compressed size alone would split
    val df = Warc.read(spark, f.toString, Map("maxSplitBytes" -> "65536"))
    assert(df.rdd.getNumPartitions == 1)
    val ids = df.select("record_id").as[String].collect()
    assert(ids.length == 300 && ids.distinct.length == 300)
    Files.delete(f)
  }

  test("bz2 archives split by compression block, each record once") {
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(new org.apache.hadoop.conf.Configuration())
    val f = Files.createTempFile("test", ".warc.bz2")
    val out = codec.createOutputStream(Files.newOutputStream(f))
    out.write(WikiFixtures.bigWarc(2000).getBytes("UTF-8")); out.close()
    assert(Files.size(f) > 2 * 400000, s"need several blocks, got ${Files.size(f)}")
    val opts = Map("maxSplitBytes" -> "400000")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"record_id", length($"body")).as[(String, Int)].collect().toSeq
    val whole = rows(Warc.read(spark, f.toString))
    val split = Warc.read(spark, f.toString, opts)
    assert(split.rdd.getNumPartitions > 1)
    val got = rows(split)
    assert(got.length == 2000 && got.map(_._1).distinct.length == 2000)
    assert(got.toSet == whole.toSet)
    Files.delete(f)
  }

  test("a malformed Content-Length fails with the file and record named") {
    val bad = "WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Record-ID: <urn:uuid:bad-len>\r\n" +
      "Content-Length: 12junk\r\n\r\n" +
      "hello world!\r\n\r\n"
    val p = WikiFixtures.materialize("badlen.warc", bad)
    val e = intercept[org.apache.spark.SparkException] {
      Warc.read(spark, p).count()
    }
    val msg = e.getCause match { case c if c != null => c.getMessage; case _ => e.getMessage }
    assert(msg.contains("Content-Length") && msg.contains("badlen.warc") &&
      msg.contains("<urn:uuid:bad-len>"), msg)
  }

  test("header-only projection never materializes body bytes") {
    val df = Warc.read(spark, fixturePath).select("record_id", "content_length")
    // column pruning reaches the reader: the scan's read schema drops body
    val scan = df.queryExecution.executedPlan.toString
    assert(!scan.contains("body"), scan)
    assert(df.as[(String, Long)].collect().length == 4)
  }
}
