package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.functions.{DiffFunctions, Hashing, TextFunctions}
import graft.model.{Delta, Link, LinkCtx}

/** Registers the engine's scalar/table functions into the SQL registry
  * and exposes them as `Column` helpers.
  *
  * Design note (scale): everything that CAN be a built-in
  * `org.apache.spark.sql.functions` call IS one (codegen + pushdown
  * friendly); the genuinely custom kernels from the reference
  * (link/template extraction, markup strip, diff, ez-decode, minhash…)
  * are native Catalyst expressions (graft.plans) whose generated Java
  * calls the pure-Scala kernels' logic on UTF8String/ArrayData — no UDF
  * tier anywhere. Reference behavior specs: SURVEY.md §2.7.
  */
object GraftFunctions {

  /** Idempotent registration of the engine's SQL surface — every named
    * function resolves to a native codegen expression (graft.plans); no
    * UDF tier remains. */
  def register(spark: SparkSession): Unit =
    graft.plans.GraftSparkExtensions.install(spark)

  // ---- Column-level helpers (the library API surface) ----

  // Native functions build their expression from the table directly (no
  // registry dependence); see graft.plans.NativeFunctions.
  private def native(name: String, args: Column*): Column =
    ColumnBridge.column(graft.plans.NativeFunctions(name, args.map(ColumnBridge.expression)))

  def extractLinks(c: Column): Column = native("extract_links", c)
  def extractLinksCtx(c: Column): Column = native("extract_links_ctx", c)
  def extractRefs(c: Column): Column = native("extract_refs", c)
  def extractTemplates(c: Column): Column = native("extract_templates", c)
  def plainText(c: Column): Column = native("plain_text", c)
  def revDiff(a: Column, b: Column): Column = native("rev_diff", a, b)
  def addedWords(a: Column, b: Column): Column = native("added_words", a, b)
  def normalizeTitle(c: Column): Column = native("normalize_title", c)
  def freebaseEncode(c: Column): Column = native("freebase_encode", c)
  def langId(c: Column): Column = native("lang_id", c)
  def decodeEz(c: Column, days: Column): Column = native("decode_ez", c, days)
  def cutLast(c: Column, n: Column): Column = native("cut_last", c, n)
  def extractDomain(c: Column): Column = native("extract_domain", c)
  def minhashSig(toks: Column, k: Column, num: Column): Column =
    native("minhash_sig", toks, k, num)
  def simhash64(toks: Column): Column = native("simhash64", toks)
  def bandBuckets(sig: Column, bands: Column, rows: Column): Column =
    native("band_buckets", sig, bands, rows)
  def signBitsCol(emb: Column, planes: Column): Column = native("sign_bits", emb, planes)
  def seededHash(c: Column, seed: Column): Column = native("seeded_hash", c, seed)
  def sortedIntersectCount(a: Column, b: Column): Column =
    native("sorted_intersect_count", a, b)
  def shingleHashes(toks: Column, k: Int): Column = native("shingle_hashes", toks, lit(k))
  def fnv64(c: Column): Column = native("fnv64", c)
  def cosineSim(a: Column, b: Column): Column = native("cosine_sim", a, b)
  def l2sqDist(a: Column, b: Column): Column = native("l2sq_dist", a, b)
  def rollingFingerprint(c: Column): Column = native("rolling_fingerprint", c)

  /** Whitespace tokenization with lower-casing — the reference's default
    * analyzer path (SURVEY §2.7 F17); single definition in TermOps. */
  def tokens(c: Column): Column = graft.operators.TermOps.tokens(c)

  /** HTML → clean text for WARC/web payloads — the extractor between
    * the s21 WARC loader and the text pipeline (the reference's
    * wiki-markup twin is `plain_text`/F11). Drops script/style/comment
    * blocks, strips tags, decodes the six common entities, collapses
    * whitespace. A pure composition of built-in regexp_replace — stays
    * inside whole-stage codegen (no UDF), and a replaying engine
    * mirrors the identical pattern chain (RE2-safe: lazy quantifiers +
    * (?is) flags, no lookaround). */
  def htmlText(c: Column): Column = {
    var t = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    t = regexp_replace(t, "(?is)<style[^>]*>.*?</style>", " ")
    t = regexp_replace(t, "(?s)<!--.*?-->", " ")
    t = regexp_replace(t, "<[^>]*>", " ")
    t = regexp_replace(t, "&nbsp;", " ")
    t = regexp_replace(t, "&lt;", "<")
    t = regexp_replace(t, "&gt;", ">")
    t = regexp_replace(t, "&quot;", "\"")
    t = regexp_replace(t, "&#39;", "'")
    t = regexp_replace(t, "&amp;", "&")
    trim(regexp_replace(t, "\\s+", " "))
  }

  // ---- Date/time scalar fns (F7-F10, F14) as built-in compositions ----

  /** F7: epoch-millis → `yyyyMMdd` (UTC). */
  def unixToYyyymmdd(ms: Column): Column =
    date_format(timestamp_millis(ms), "yyyyMMdd")

  /** F8: `yyyyMMddHH` string → `yyyyMMdd`. */
  def yyyymmddhhToDay(s: Column): Column = substring(s, 1, 8)

  /** F9: epoch-millis → elastic `yyyy-MM-dd'T'HH:mm:ss`. */
  def unixToElastic(ms: Column): Column =
    date_format(timestamp_millis(ms), "yyyy-MM-dd'T'HH:mm:ss")

  /** F10: `yyyyMMdd` + 1 day. */
  def oneDayMore(s: Column): Column =
    date_format(date_add(to_date(s, "yyyyMMdd"), 1), "yyyyMMdd")

  /** F14: ISO-8601 no-millis timestamp parse. */
  def isoTimestamp(s: Column): Column =
    to_timestamp(s, "yyyy-MM-dd'T'HH:mm:ssXXX")
}

/** Compact pageview decode (F18) — `pagecounts-ez` monthly strings.
  *
  * Format: comma-separated day segments; each segment is a day marker
  * (`A`-`Z[\]^_` → day index 0-30) followed by (hour-letter, digit-run)
  * pairs; the day's total is the sum of its hourly counts.
  * Reference spec: mapreduce/PreprocessEZPageviews.java:239-299
  * (decodeDay :239-257, decodeHour :259-266, extractViewsForOneDay
  * :267-299). Documented divergences from the reference's parse loop
  * (:221-232): we do not skip the first character of the string and we do
  * process a final segment lacking a trailing comma — the reference drops
  * both; the *intended* semantics are implemented here.
  */
object EzFunctions {
  private def decodeDay(c: Char): Int =
    if (c >= 'A' && c <= '_') c - 'A'
    else throw new IllegalArgumentException(s"Unknown day: $c")

  def decodeEz(s: String, days: Int): Array[Int] = {
    val out = new Array[Int](math.max(days, 0))
    if (s == null || s.isEmpty) return out
    s.split(',').foreach { seg =>
      val t = seg.trim
      if (t.nonEmpty) {
        val day = decodeDay(t.charAt(0))
        var dayView = 0
        var hourView = 0
        var sawHour = false
        var i = 1
        while (i < t.length) {
          val c = t.charAt(i)
          if (c >= '0' && c <= '9') hourView = hourView * 10 + (c - '0')
          else { // next hour marker: bank the previous hour's count
            if (sawHour) dayView += hourView
            sawHour = true; hourView = 0
          }
          i += 1
        }
        if (sawHour) dayView += hourView
        if (day < out.length) out(day) += dayView
      }
    }
    out
  }
}
