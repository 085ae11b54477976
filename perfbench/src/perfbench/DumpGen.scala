package perfbench

import java.io.{BufferedOutputStream, BufferedWriter, FileInputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** Seeded generator of a plain MediaWiki revision-history dump plus the
  * tally the ingest checks compare against.
  *
  * Shape of the dump (all drawn from one `java.util.SplittableRandom(seed)`):
  *  - namespaces: 80% articles (ns 0), 10% talk (ns 1), 10% category
  *    (ns 14); 6% of articles are single-revision redirects;
  *  - 1-20 revisions per page, timestamps strictly increasing in a page;
  *  - each revision edits the previous text with a seeded mix of edit
  *    sizes — tiny (<0.5% length change), medium (2-8%), large (15-40%)
  *    and stubs shorter than the sampler's minimum length — so every
  *    branch of the change-ratio sampler fires;
  *  - the text holds `[[target]]` and `[[target|anchor]]` links.
  *
  * The tally counts what the pushdown read (articles, no redirects) must
  * return and replays the sampler's carry rule in plain Scala over those
  * rows, independently of `RevisionOps`, to give the kept `rev_id` set
  * and the number of links in kept revisions.
  *
  * `perfbench.DumpGen <dir> <seed> <megabytes>` (started by run.py) writes
  * `dump.xml`, `dump.xml.bz2` (Hadoop's BZip2Codec) and `tally.txt`.
  */
object DumpGen {
  val Lower = 0.01 // the sampler thresholds ExtractTemporalAnchorText uses
  val Upper = 0.1
  val MinLen = 10.0

  /** One generated revision of an article page, as the tally sees it. */
  final case class Rev(revId: Long, len: Int, links: Int)

  final case class Tally(revisions: Long, rows: Long, eligible: Long,
                         pages: Long, kept: Array[Long], keptLinks: Long,
                         keptWithLinks: Array[Long], xmlBytes: Long) {
    def lines: Seq[String] = Seq(
      s"revisions=$revisions", s"rows=$rows", s"eligible=$eligible",
      s"pages=$pages", s"kept=${kept.length}", s"kept_links=$keptLinks",
      s"kept_with_links=${keptWithLinks.length}", s"xml_bytes=$xmlBytes",
      "kept_ids=" + kept.mkString(","),
      "kept_with_links_ids=" + keptWithLinks.mkString(","))
  }

  object Tally {
    def read(p: Path): Tally = {
      val kv = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").filter(_.contains('=')).map { l =>
          val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
        }.toMap
      def ids(k: String) =
        kv(k).split(",").filter(_.nonEmpty).map(_.toLong)
      Tally(kv("revisions").toLong, kv("rows").toLong, kv("eligible").toLong,
        kv("pages").toLong, ids("kept_ids"), kv("kept_links").toLong,
        ids("kept_with_links_ids"), kv("xml_bytes").toLong)
    }
  }

  /** The sampler's carry rule over one page's eligible rows in time order:
    * below `Lower` the buffer is replaced, above `Upper` the buffer is
    * emitted and replaced, otherwise the row is dropped; the last buffer
    * is always emitted. */
  def carry(page: Seq[Rev]): Seq[Rev] = {
    val out = ArrayBuffer.empty[Rev]
    var buf: Rev = null
    page.foreach { cur =>
      if (buf == null) buf = cur
      else {
        val pl = math.max(buf.len.toDouble, 1.0)
        val r = math.abs(cur.len - pl) / pl
        if (r < Lower) buf = cur
        else if (r > Upper) { out += buf; buf = cur }
      }
    }
    if (buf != null) out += buf
    out.toSeq
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** Writes the dump under `dir`; returns its tally. */
  def generate(dir: Path, seed: Long, megabytes: Int): Tally = {
    Files.createDirectories(dir)
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Array.fill(4000) {
      val n = 2 + rnd.nextInt(9)
      val sb = new StringBuilder(n)
      (0 until n).foreach(_ => sb.append(Letters.charAt(rnd.nextInt(26))))
      sb.toString
    }
    val titles = Array.tabulate(3000)(i =>
      vocab(rnd.nextInt(vocab.length)).capitalize + " " + vocab(i))
    def word(): String = vocab(rnd.nextInt(vocab.length))
    def link(): String =
      if (rnd.nextInt(3) == 0) s"[[${titles(rnd.nextInt(titles.length))}]]"
      else s"[[${titles(rnd.nextInt(titles.length))}|${word()} ${word()}]]"
    // a revision text is a token list; link tokens are counted, never parsed
    def freshTokens(n: Int): ArrayBuffer[String] =
      ArrayBuffer.fill(n)(if (rnd.nextInt(30) == 0) link() else word())
    def insert(t: ArrayBuffer[String], k: Int): Unit =
      (0 until k).foreach(_ => t.insert(rnd.nextInt(t.length + 1),
        if (rnd.nextInt(30) == 0) link() else word()))
    def remove(t: ArrayBuffer[String], k: Int): Unit =
      (0 until math.min(k, t.length - 1)).foreach(_ => t.remove(rnd.nextInt(t.length)))

    val target = megabytes.toLong * 1024 * 1024
    val xmlPath = dir.resolve("dump.xml")
    val out = new CountingWriter(xmlPath)
    out.write("<mediawiki xmlns=\"http://www.mediawiki.org/xml/export-0.11/\" version=\"0.11\">\n")
    var revisions = 0L; var rows = 0L; var eligible = 0L; var pages = 0L
    val kept = ArrayBuffer.empty[Long]
    val keptWithLinks = ArrayBuffer.empty[Long]
    var keptLinks = 0L
    var pageId = 0L; var revId = 0L
    while (out.bytes < target) {
      pageId += 1
      val nsDraw = rnd.nextInt(10)
      val ns = if (nsDraw < 8) 0 else if (nsDraw == 8) 1 else 14
      val redirect = ns == 0 && rnd.nextInt(100) < 6
      val base = titles(rnd.nextInt(titles.length)) + s" $pageId"
      val title = ns match { case 0 => base; case 1 => s"Talk:$base"; case _ => s"Category:$base" }
      out.write(s"  <page>\n    <title>$title</title>\n    <ns>$ns</ns>\n    <id>$pageId</id>\n")
      if (redirect) out.write("    <redirect title=\"Elsewhere\" />\n")
      val nRevs = if (redirect) 1 else 1 + rnd.nextInt(20)
      var ts = 978307200L + rnd.nextLong(600000000L) // 2001 .. 2020
      val page = ArrayBuffer.empty[Rev]
      var tokens = freshTokens(250 + rnd.nextInt(350))
      var parent = -1L
      (0 until nRevs).foreach { j =>
        revId += 1
        ts += 1 + rnd.nextLong(30L * 86400L)
        var stub = false
        if (j > 0) {
          val d = rnd.nextInt(100)
          val n = tokens.length
          if (d < 35) { // tiny: swap one word, maybe add one
            tokens(rnd.nextInt(n)) = word()
            if (rnd.nextBoolean()) insert(tokens, 1)
          } else if (d < 65) { // medium: 2-8% of the tokens
            val k = math.max(1, n * (2 + rnd.nextInt(7)) / 100)
            if (rnd.nextBoolean() || n < 150) insert(tokens, k) else remove(tokens, k)
          } else if (d < 95) { // large: 15-40%
            val k = math.max(1, n * (15 + rnd.nextInt(26)) / 100)
            if (rnd.nextBoolean() || n < 150) insert(tokens, k) else remove(tokens, k)
          } else stub = true // below the sampler's minimum length
          if (tokens.length > 900) tokens = freshTokens(300)
        }
        val text =
          if (redirect) s"#REDIRECT [[${titles(rnd.nextInt(titles.length))}]]"
          else if (stub) "stub"
          else tokens.mkString(" ")
        val links = if (redirect || stub) 0 else tokens.count(_.startsWith("[["))
        val stamp = java.time.Instant.ofEpochSecond(ts).toString
        val contrib =
          if (rnd.nextInt(4) == 0) s"<ip>10.0.${rnd.nextInt(256)}.${rnd.nextInt(256)}</ip>"
          else s"<username>${word()}</username>\n        <id>${rnd.nextInt(100000)}</id>"
        out.write("    <revision>\n")
        out.write(s"      <id>$revId</id>\n")
        if (parent > 0) out.write(s"      <parentid>$parent</parentid>\n")
        out.write(s"      <timestamp>$stamp</timestamp>\n")
        out.write(s"      <contributor>\n        $contrib\n      </contributor>\n")
        if (rnd.nextInt(5) == 0) out.write("      <minor />\n")
        out.write(s"      <comment>${word()} ${word()}</comment>\n")
        out.write("      <model>wikitext</model>\n      <format>text/x-wiki</format>\n")
        out.write(s"""      <text bytes="${text.length}" xml:space="preserve">$text</text>\n""")
        out.write("      <sha1>x</sha1>\n    </revision>\n")
        revisions += 1
        parent = revId
        if (ns == 0 && !redirect) {
          rows += 1
          if (text.length >= MinLen) {
            eligible += 1
            page += Rev(revId, text.length, links)
          }
        }
      }
      out.write("  </page>\n")
      if (ns == 0 && !redirect) {
        pages += 1
        carry(page.toSeq).foreach { r =>
          kept += r.revId
          keptLinks += r.links
          if (r.links > 0) keptWithLinks += r.revId
        }
      }
    }
    out.write("</mediawiki>\n")
    out.close()
    compressBz2(xmlPath, dir.resolve("dump.xml.bz2"))
    val tally = Tally(revisions, rows, eligible, pages, kept.toArray.sorted,
      keptLinks, keptWithLinks.toArray.sorted, Files.size(xmlPath))
    Files.write(dir.resolve("tally.txt"),
      tally.lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    tally
  }

  /** bz2 via Hadoop's codec, in process (no `bzip2` binary needed). */
  def compressBz2(src: Path, dst: Path): Unit = {
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(new org.apache.hadoop.conf.Configuration())
    val in = new FileInputStream(src.toFile)
    val os = codec.createOutputStream(new BufferedOutputStream(
      new FileOutputStream(dst.toFile), 1 << 20))
    try in.transferTo(os) finally { in.close(); os.close() }
  }

  private final class CountingWriter(p: Path) {
    private val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(p.toFile), StandardCharsets.UTF_8), 1 << 20)
    var bytes = 0L // the dump is ASCII: one byte per char
    def write(s: String): Unit = { w.write(s); bytes += s.length }
    def close(): Unit = w.close()
  }

  def main(args: Array[String]): Unit = {
    val t = generate(Paths.get(args(0)), args(1).toLong, args(2).toInt)
    println(t.lines.take(8).mkString(" "))
  }
}
