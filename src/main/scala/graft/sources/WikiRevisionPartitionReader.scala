package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.unsafe.types.UTF8String

/** Streaming page-boundary reader for one byte range of a revision dump.
  *
  * Single pass: scan for a `<page>` tag the range owns, capture the page
  * block up to `</page>` (possibly past the range end), parse it, emit one
  * row per revision. Pages failing the namespace/redirect pushdown are
  * abandoned before their revisions are parsed; revisions outside the
  * pushed time range are dropped right after their header; `text` is only
  * captured when projected.
  * (Behavioral spec: io/input/WikiRevisionPageInputFormat.java:112-188,
  * 287-295; io/etl/DefaultRevisionETLReader.java:149-155,215-221.)
  */
class WikiRevisionPartitionReader(in: SplitStream, fields: Array[String],
                                  push: WikiRevisionPushdown)
    extends PartitionReader[InternalRow] {
  import WikiRevisionPartitionReader._

  private val needText = fields.contains("text")
  private val needComment = fields.contains("comment")
  private val needUser = fields.contains("user") || fields.contains("user_id")
  // S2 raw mode: the verbatim <revision>…</revision> dump substring
  // (reference: io/input/WikiRevisionTextInputFormat.java:17-296)
  private val needRaw = fields.contains("revision_xml")

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
  override def close(): Unit = in.close()

  /** Next `<page>` block owned by this range. */
  private def nextPageBlock(): Option[String] = {
    val tagPos = in.seek(PageOpen)
    if (tagPos < 0 || !in.owns(tagPos)) None
    else if (!in.captureUntil(PageClose)) None // truncated trailing page
    else Some(in.captured(UTF_8))
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

  /** `parse` of the trimmed value `v` of `<tag>`; a malformed value fails
    * naming the file, the tag and the value, not deep in the task. */
  private def parsed[T](tag: String, v: String)(parse: String => T): T =
    try parse(v.trim) catch {
      case _: NumberFormatException | _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"wikirev: invalid <$tag> '$v' in ${in.path}")
    }

  /** The long value of `<tag>` in `s`; -1 when absent. */
  private def longTag(s: String, tag: String): Long = tagValue(s, tag) match {
    case null => -1L
    case v => parsed(tag, v)(_.toLong)
  }

  private def parsePage(block: String): Iterator[InternalRow] = {
    val firstRev = block.indexOf("<revision>")
    val head = if (firstRev < 0) block else block.substring(0, firstRev)
    val ns = tagValue(head, "ns") match {
      case null | "" => 0
      case v => parsed("ns", v)(_.toInt)
    }
    if (push.onlyArticles && ns != 0) return Iterator.empty
    val redirect = head.contains("<redirect")
    if (push.skipRedirects && redirect) return Iterator.empty
    if (firstRev < 0) return Iterator.empty
    val title = unescape(tagValue(head, "title"))
    val pageId = longTag(head, "id")

    def parseRevision(rev: String, raw: String): InternalRow = {
      val tsStr = tagValue(rev, "timestamp")
      // absent timestamp → null column (like the other optional fields);
      // the time-range pushdown only applies to present timestamps
      val micros: java.lang.Long =
        if (tsStr == null) null
        else parsed("timestamp", tsStr)(s =>
          java.lang.Long.valueOf(java.time.Instant.parse(s).toEpochMilli * 1000L))
      if (micros != null &&
        (micros < push.beginMicros || micros >= push.endMicros)) return null
      val revId = longTag(rev, "id")
      val parentId = longTag(rev, "parentid")
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
          userId = longTag(contrib, "id")
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

object WikiRevisionPartitionReader {
  val PageOpen: Array[Byte] = "<page>".getBytes(UTF_8)
  val PageClose: Array[Byte] = "</page>".getBytes(UTF_8)
}
