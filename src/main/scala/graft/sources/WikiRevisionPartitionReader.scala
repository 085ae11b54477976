package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.compress.{CodecPool, CompressionCodecFactory, Decompressor,
  SplitCompressionInputStream, SplittableCompressionCodec}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

/** Streaming page-boundary reader for one byte range of a revision dump.
  *
  * Single pass: scan for `<page>` whose tag position lies in
  * [start, end), capture the page block up to `</page>` (possibly past
  * `end`), parse it, emit one row per revision. Pages failing the
  * namespace/redirect pushdown are abandoned before their revisions are
  * parsed; revisions outside the pushed time range are dropped right
  * after their header; `text` is only captured when projected.
  * (Behavioral spec: io/input/WikiRevisionPageInputFormat.java:112-188,
  * 287-295; io/etl/DefaultRevisionETLReader.java:149-155,215-221.)
  *
  * Tag matching note: the simple one-state fallback on mismatch is exact
  * KMP for `<page>`/`</page>` because '<' only occurs at tag position 0.
  */
class WikiRevisionPartitionReader(part: WikiRevisionInputPartition,
                                  fields: Array[String],
                                  push: WikiRevisionPushdown,
                                  hadoopConf: Configuration = new Configuration())
    extends PartitionReader[InternalRow] {

  private val needText = fields.contains("text")
  private val needComment = fields.contains("comment")
  private val needUser = fields.contains("user") || fields.contains("user_id")
  // S2 raw mode: the verbatim <revision>…</revision> dump substring
  // (reference: io/input/WikiRevisionTextInputFormat.java:17-296)
  private val needRaw = fields.contains("revision_xml")

  // Three stream modes:
  //  - uncompressed: seek to part.start, own pages whose tag starts < end;
  //  - splittable bz2 (part.end finite): BYBLOCK SplitCompressionInputStream
  //    — own pages begun while compressed getPos() <= end (Hadoop's
  //    LineRecordReader convention; the stream self-aligns to the first
  //    compression block of the range);
  //  - other/whole-file compressed: single partition, read everything.
  // The planner keys splittability on the same codec lookup.
  private val codec = new CompressionCodecFactory(hadoopConf).getCodec(new Path(part.path))
  private var pooledDecompressor: Decompressor = _

  private val (in, splitStream): (InputStream, SplitCompressionInputStream) = {
    val p = new Path(part.path)
    val raw = FileSystem.get(p.toUri, hadoopConf).open(p)
    codec match {
      case null =>
        if (part.start > 0) raw.seek(part.start)
        (raw, null)
      case sc: SplittableCompressionCodec if part.end != Long.MaxValue =>
        pooledDecompressor = CodecPool.getDecompressor(codec)
        val cin = sc.createInputStream(raw, pooledDecompressor, part.start, part.end,
          SplittableCompressionCodec.READ_MODE.BYBLOCK)
        (cin, cin)
      case c => (c.createInputStream(raw), null)
    }
  }
  // absolute position for the uncompressed case; decompressed byte count
  // otherwise (only compared against `end` in the uncompressed case)
  private var pos: Long = if (codec == null) part.start else 0L

  // One read buffer for all three modes, refilled only when the scanner
  // needs its next byte: the split bz2 stream stops a read at a block
  // end, so its getPos advances exactly when the first byte of the next
  // block is consumed, as with byte-at-a-time reads.
  private val buf = new Array[Byte](1 << 16)
  private var bufPos = 0
  private var bufLen = 0
  // bytes of the page being captured; grows to the partition's largest page
  private var page = new Array[Byte](1 << 16)
  private var pageLen = 0

  private val PageOpen = "<page>".getBytes(UTF_8)
  private val PageClose = "</page>".getBytes(UTF_8)

  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  private var exhausted = false

  override def next(): Boolean = {
    while (!rows.hasNext && !exhausted) {
      nextPageBlock() match {
        case Some(block) => rows = parsePage(block)
        case None => exhausted = true
      }
    }
    if (rows.hasNext) { current = rows.next(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = {
    in.close()
    if (pooledDecompressor != null) {
      CodecPool.returnDecompressor(pooledDecompressor)
      pooledDecompressor = null
    }
  }

  /** Next `<page>` block owned by this partition. */
  private def nextPageBlock(): Option[String] = {
    if (splitStream != null && splitStream.getPos > part.end) return None
    val tagPos = seek(PageOpen)
    if (tagPos < 0) return None
    if (splitStream == null && tagPos >= part.end) return None
    if (!captureUntil(PageClose)) return None // truncated trailing page
    Some(new String(page, 0, pageLen, UTF_8))
  }

  /** True when `buf` has an unconsumed byte, refilling it if drained;
    * false at EOF. */
  private def fill(): Boolean = {
    if (bufPos < bufLen) return true
    val n = in.read(buf, 0, buf.length)
    bufPos = 0
    bufLen = math.max(n, 0)
    n > 0
  }

  /** Consume `buf` until `tag` is complete or the buffer is drained,
    * continuing a partial match of `matched` bytes; the new match length. */
  private def scan(tag: Array[Byte], matched: Int): Int = {
    var i = matched
    var j = bufPos
    while (j < bufLen && i < tag.length) {
      val b = buf(j)
      j += 1
      if (b == tag(i)) i += 1
      else i = if (b == tag(0)) 1 else 0
    }
    pos += j - bufPos
    bufPos = j
    i
  }

  /** Consume until `tag` fully matched; absolute position of its first
    * byte, or -1 at EOF. */
  private def seek(tag: Array[Byte]): Long = {
    var i = 0
    while (fill()) {
      i = scan(tag, i)
      if (i == tag.length) return pos - tag.length
    }
    -1L
  }

  /** Capture bytes into `page` until `tag` matched (tag excluded); false
    * at EOF. Every consumed byte is copied, so a partial tag match that
    * fails is already content; a full match drops the tag's bytes. */
  private def captureUntil(tag: Array[Byte]): Boolean = {
    pageLen = 0
    var i = 0
    while (fill()) {
      val from = bufPos
      i = scan(tag, i)
      val n = bufPos - from
      if (pageLen + n > page.length)
        page = java.util.Arrays.copyOf(page, math.max(page.length * 2, pageLen + n))
      System.arraycopy(buf, from, page, pageLen, n)
      pageLen += n
      if (i == tag.length) { pageLen -= tag.length; return true }
    }
    false
  }

  // ---- page-block parsing (string ops over one page's XML) ----

  /** Content of the first `<tag …>…</tag>` at/after `from`; null if
    * absent, "" for a self-closing tag. */
  private def tagValue(s: String, tag: String, from: Int = 0): String = {
    val o = s.indexOf(s"<$tag", from)
    if (o < 0) return null
    val gt = s.indexOf('>', o)
    if (gt < 0) return null
    if (s.charAt(gt - 1) == '/') return ""
    val close = s.indexOf(s"</$tag>", gt + 1)
    if (close < 0) return null
    s.substring(gt + 1, close)
  }

  private def unescape(s: String): String =
    if (s == null || s.indexOf('&') < 0) s
    else s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")

  private def parsePage(block: String): Iterator[InternalRow] = {
    val firstRev = block.indexOf("<revision>")
    val head = if (firstRev < 0) block else block.substring(0, firstRev)
    val ns = tagValue(head, "ns") match {
      case null | "" => 0
      case v => v.trim.toInt
    }
    if (push.onlyArticles && ns != 0) return Iterator.empty
    val redirect = head.contains("<redirect")
    if (push.skipRedirects && redirect) return Iterator.empty
    if (firstRev < 0) return Iterator.empty
    val title = unescape(tagValue(head, "title"))
    val pageId = tagValue(head, "id") match {
      case null => -1L
      case v => v.trim.toLong
    }

    def parseRevision(rev: String, raw: String): InternalRow = {
      val tsStr = tagValue(rev, "timestamp")
      // absent timestamp → null column (like the other optional fields);
      // the time-range pushdown only applies to present timestamps
      val micros: java.lang.Long =
        if (tsStr == null) null
        else java.lang.Long.valueOf(
          java.time.Instant.parse(tsStr.trim).toEpochMilli * 1000L)
      if (micros != null &&
        (micros < push.beginMicros || micros >= push.endMicros)) return null
      val revId = tagValue(rev, "id") match {
        case null => -1L
        case v => v.trim.toLong
      }
      val parentId = tagValue(rev, "parentid") match {
        case null => -1L
        case v => v.trim.toLong
      }
      val minor = rev.contains("<minor")
      var user: String = null
      var userId = -1L
      if (needUser) {
        val contrib = tagValue(rev, "contributor")
        if (contrib != null && contrib.nonEmpty) {
          user = unescape(tagValue(contrib, "username")) match {
            case null => unescape(tagValue(contrib, "ip"))
            case u => u
          }
          userId = tagValue(contrib, "id") match {
            case null => -1L
            case v => v.trim.toLong
          }
        }
      }
      val comment = if (needComment) unescape(tagValue(rev, "comment")) else null
      val text = if (needText) unescape(tagValue(rev, "text")) else null

      val values: Array[Any] = fields.map[Any] {
        case "page_id" => pageId
        case "page_title" => UTF8String.fromString(title)
        case "page_namespace" => ns
        case "rev_id" => revId
        case "parent_id" => parentId
        case "timestamp" => if (micros == null) null else micros.longValue()
        case "user" => if (user == null) null else UTF8String.fromString(user)
        case "user_id" => userId
        case "comment" => if (comment == null) null else UTF8String.fromString(comment)
        case "text" => if (text == null) null else UTF8String.fromString(text)
        case "minor" => minor
        case "redirect" => redirect
        case "revision_xml" => UTF8String.fromString(raw)
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
      new GenericInternalRow(values)
    }

    new Iterator[InternalRow] {
      private var cur = firstRev
      private var nextRow: InternalRow = _
      private def advance(): Unit = {
        while (nextRow == null) {
          val o = block.indexOf("<revision>", cur)
          if (o < 0) return
          val c = block.indexOf("</revision>", o)
          if (c < 0) { cur = block.length; return }
          cur = c + 11
          nextRow = parseRevision(block.substring(o + 10, c),
            if (needRaw) block.substring(o, c + 11) else null)
        }
      }
      override def hasNext: Boolean = { advance(); nextRow != null }
      override def next(): InternalRow = {
        advance(); val r = nextRow; nextRow = null; r
      }
    }
  }
}
