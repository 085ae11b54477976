package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKit._

/** The revision and WARC sources, the scan-time extractors and the
  * scalar-function golden fixtures (s*, f*, fnv*, pv*, funnel*): one
  * [[Query]] record per query. */
private[graft] object Sources {

  /** The S8 carry sampler replayed sequentially per user over an
    * events-shaped relation `src`: CTEs `r` (row order per user) and
    * the recursive `s` (buffer length, emits), then (user_id, n_kept),
    * n_kept = 1 (the final buffer flush) + #emit transitions. */
  private def carryReplaySql(src: String): String =
    s"""r AS (
       |  SELECT user_id, value,
       |   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM $src),
       |s AS (
       |  SELECT user_id, 1 AS rn, abs(value) AS buf_len, 0 AS emits
       |  FROM r WHERE rn = 1
       |  UNION ALL
       |  SELECT s.user_id, s.rn + 1,
       |   CASE
       |     WHEN abs(abs(r.value) - greatest(abs(s.buf_len), 1.0))
       |       / greatest(abs(s.buf_len), 1.0) < 0.01 THEN abs(r.value)
       |     WHEN abs(abs(r.value) - greatest(abs(s.buf_len), 1.0))
       |       / greatest(abs(s.buf_len), 1.0) > 0.1 THEN abs(r.value)
       |     ELSE s.buf_len END,
       |   s.emits + CASE
       |     WHEN abs(abs(r.value) - greatest(abs(s.buf_len), 1.0))
       |       / greatest(abs(s.buf_len), 1.0) > 0.1 THEN 1
       |     ELSE 0 END
       |  FROM s JOIN r ON r.user_id = s.user_id AND r.rn = s.rn + 1)
       |SELECT user_id, CAST(max_by(emits, rn) + 1 AS BIGINT) AS n_kept
       |FROM s GROUP BY user_id""".stripMargin

  val all: Seq[Query] = Seq(
    Query("f7_day_format", (s, d) =>
      t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyyMMdd").as("day"))
        .agg(count(lit(1)).as("n_events")),
      "SELECT strftime(ts, '%Y%m%d') AS day, count(*) AS n_events FROM events GROUP BY day"),

    Query("f9_elastic_time", (s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(date_format(max(col("ts")), "yyyy-MM-dd'T'HH:mm:ss").as("last_elastic")),
      """SELECT event_type, strftime(max(ts), '%Y-%m-%dT%H:%M:%S') AS last_elastic
        |FROM events GROUP BY event_type""".stripMargin),

    Query("f10_one_day_more", (s, d) =>
      t(s, d, "events")
        .groupBy(date_format(col("ts"), "yyyyMMdd").as("day"),
          GraftFunctions.oneDayMore(date_format(col("ts"), "yyyyMMdd")).as("next_day"))
        .agg(count(lit(1)).as("n_events")),
      """SELECT strftime(ts, '%Y%m%d') AS day,
        | strftime(CAST(ts AS DATE) + 1, '%Y%m%d') AS next_day, count(*) AS n_events
        |FROM events GROUP BY day, next_day""".stripMargin),

    Query("f15_json_field", (s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), round(avg(col("k")), 4).as("avg_k")),
      """SELECT event_type, CAST(sum(CAST(regexp_extract(props, '([0-9]+)', 1) AS INT)) AS BIGINT)
        |  AS sum_k,
        | round(avg(CAST(regexp_extract(props, '([0-9]+)', 1) AS INT)), 4) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin),

    Query("f19_url_params", (s, _) => {
      import s.implicits._
      // URL query-string parsing (F-family coverage beside
      // extract_domain / canonicalization): str_to_map over the part
      // after '?', exploded to (param, value) rows — pure map
      Seq((1L, "https://ex.com/a?x=1&y=2"), (2L, "https://ex.com/b?x=3"),
        (3L, "https://ex.com/c"))
        .toDF("fid", "url")
        .select(col("fid"),
          explode(expr("str_to_map(get(split(url, '\\\\?'), 1), '&', '=')"))
            .as(Seq("param", "value")))
    },
      // k=v pairs replayed by splitting on '&' then '='
      """SELECT fid, split_part(p, '=', 1) AS param,
        | split_part(p, '=', 2) AS value
        |FROM (
        |  SELECT CAST(col0 AS BIGINT) AS fid,
        |   unnest(regexp_split_to_array(split_part(col1, '?', 2), '&')) AS p
        |  FROM (VALUES (1, 'https://ex.com/a?x=1&y=2'),
        |   (2, 'https://ex.com/b?x=3'), (3, 'https://ex.com/c')) t
        |  WHERE contains(col1, '?')) u""".stripMargin),

    Query("f20_html_text", (s, d) => {
      // HTML → clean text (GraftFunctions.htmlText): the extractor
      // between the s21 WARC loader and the text pipeline — script/
      // style/comment blocks drop, tags strip, common entities decode,
      // whitespace collapses. The fixture wraps each doc's fields in a
      // synthetic page built by identical concatenation on both
      // engines (the curate_url_dedup convention), exercising every
      // rule; on real WARC payloads the same function applies to the
      // response body column. Pure codegen regexp chain — no UDF.
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>.c{color:red}</style><title>"),
        col("source"), lit("</title></head><body><h1>"), col("lang"),
        lit("</h1><!-- boilerplate --><p>"), substring(col("text"), 1, 100),
        lit(" &amp; entities &lt;kept&gt; &quot;right&quot;&nbsp;&#39;ok&#39;" +
          "</p></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), GraftFunctions.htmlText(html).as("clean"))
        .select(col("doc_id"), col("clean"),
          length(col("clean")).as("n_chars_clean"))
    },
      // rolling 31-hash with 2^64 wrap-around, HUGEINT-mod in DuckDB (the
      // kernel iterates UTF-16 units; identical to codepoints on BMP text)
      // the identical 11-step regexp chain via DuckDB lateral column
      // aliases; every pattern is RE2-safe and carries the 'g' flag
      """WITH h AS (SELECT doc_id,
        | '<html><head><script type="text/javascript">var x = 1 < 2;' ||
        | '</script><style>.c{color:red}</style><title>' || source ||
        | '</title></head><body><h1>' || lang ||
        | '</h1><!-- boilerplate --><p>' || substr(text, 1, 100) ||
        | ' &amp; entities &lt;kept&gt; &quot;right&quot;&nbsp;&#39;ok&#39;' ||
        | '</p></body></html>' AS html
        | FROM documents),
        |c AS (SELECT doc_id,
        | regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g')
        |   AS t1,
        | regexp_replace(t1, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t2,
        | regexp_replace(t2, '(?s)<!--.*?-->', ' ', 'g') AS t3,
        | regexp_replace(t3, '<[^>]*>', ' ', 'g') AS t4,
        | regexp_replace(t4, '&nbsp;', ' ', 'g') AS t5,
        | regexp_replace(t5, '&lt;', '<', 'g') AS t6,
        | regexp_replace(t6, '&gt;', '>', 'g') AS t7,
        | regexp_replace(t7, '&quot;', '"', 'g') AS t8,
        | regexp_replace(t8, '&#39;', '''', 'g') AS t9,
        | regexp_replace(t9, '&amp;', '&', 'g') AS t10,
        | trim(regexp_replace(t10, '\s+', ' ', 'g')) AS clean
        | FROM h)
        |SELECT doc_id, clean, CAST(length(clean) AS INT) AS n_chars_clean
        |FROM c""".stripMargin),

    Query("f1_extract_links", (s, _) =>
      textFixture(s).filter(col("fid") === 1L)
        .select(explode(GraftFunctions.extractLinks(col("text"))).as("l"))
        .select(col("l.anchor").as("anchor"), col("l.target").as("target")),
      """SELECT * FROM (VALUES ('the engine', 'Spark'), ('Scala', 'Scala'))
        | t(anchor, target)""".stripMargin),

    Query("f3_extract_refs", (s, _) =>
      textFixture(s)
        .select(col("fid"), size(GraftFunctions.extractRefs(col("text"))).as("n_refs")),
      """SELECT CAST(col0 AS BIGINT) AS fid, CAST(col1 AS INT) AS n_refs
        |FROM (VALUES (1, 0), (2, 1), (3, 2)) t(col0, col1)""".stripMargin),

    Query("f4_extract_templates", (s, _) =>
      textFixture(s).filter(col("fid") === 3L)
        .select(explode(GraftFunctions.extractTemplates(col("text"))).as("template")),
      "SELECT * FROM (VALUES ('Infobox x'), ('Good one')) t(template)"),

    Query("f11_plain_text", (s, _) =>
      textFixture(s).filter(col("fid") === 2L)
        .select(GraftFunctions.plainText(col("text")).as("plain")),
      "SELECT 'Bold text with word and & end' AS plain"),

    Query("f13_normalize_title", (s, _) =>
      titleFixture(s)
        .select(col("fid"), GraftFunctions.normalizeTitle(col("title")).as("norm")),
      """SELECT CAST(col0 AS BIGINT) AS fid, col1 AS norm FROM (VALUES
        | (1, 'Foo_bar'), (2, 'A'), (3, 'Quoted_title'),
        | (4, 'Héllo_wörld'), (5, 'Wiki_page')) t(col0, col1)""".stripMargin),

    Query("f5_extract_domain", (s, _) => {
      import s.implicits._
      Seq((1L, "http://www.bbc.co.uk/news"), (2L, "https://example.com/x?y"),
        (3L, "not a url"))
        .toDF("fid", "url")
        .select(col("fid"),
          GraftFunctions.extractDomain(col("url")).as("domain"))
    },
      """SELECT CAST(col0 AS BIGINT) AS fid, col1 AS domain FROM (VALUES
        | (1, 'bbc' || chr(9) || 'co.uk'), (2, 'example' || chr(9) || 'com'),
        | (3, NULL)) t(col0, col1)""".stripMargin),

    Query("f18_decode_ez", (s, _) => {
      import s.implicits._
      Seq((1L, "AB5C3,CA1B2")).toDF("fid", "ez")
        .select(col("fid"),
          posexplode(GraftFunctions.decodeEz(col("ez"), lit(5))).as(Seq("day", "views")))
    },
      """SELECT CAST(1 AS BIGINT) AS fid, CAST(col0 AS INT) AS day, CAST(col1 AS INT) AS views
        |FROM (VALUES (0, 8), (1, 0), (2, 3), (3, 0), (4, 0)) t(col0, col1)""".stripMargin),

    Query("s8_sampler_fixture", (s, _) =>
      RevisionOps.changeRatioSample(samplerFixture(s), "key", "ts", "len")
        .select(col("event_id")),
      """SELECT CAST(col0 AS BIGINT) AS event_id
        |FROM (VALUES (2), (3), (5), (6)) t(col0)""".stripMargin),

    Query("s8_sampler_events", (s, d) =>
      // the sampler at data scale: keyed by user, "length" = value column
      RevisionOps.changeRatioSample(t(s, d, "events"), "user_id", "ts", "value",
          tieBreak = "event_id")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_kept")),
      // the exact carry semantics, replayed sequentially per user by a
      // recursive CTE: n_kept = 1 (final buffer flush) + #emit transitions
      "WITH RECURSIVE " + carryReplaySql("events")),

    Query("s3_xml_scan", (s, _) =>
      graft.sources.WikiXml.read(s, graft.sources.WikiFixtures.standardXmlPath,
          Map("onlyArticles" -> "true", "skipRedirects" -> "true"))
        .select(col("page_id"), col("rev_id"),
          date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
          col("user"), col("user_id"), col("minor")),
      """SELECT CAST(col0 AS BIGINT) AS page_id, CAST(col1 AS BIGINT) AS rev_id,
        | col2 AS ts_str, col3 AS user, CAST(col4 AS BIGINT) AS user_id,
        | CAST(col5 AS BOOLEAN) AS minor
        |FROM (VALUES
        | (10, 101, '2020-01-01 00:00:00', 'alice', 7, FALSE),
        | (10, 102, '2020-06-01 12:00:00', '192.168.0.1', -1, FALSE),
        | (10, 103, '2021-01-01 00:00:00', 'bob', 9, TRUE)) t""".stripMargin),

    Query("s11_header_scan", (s, _) =>
      graft.sources.WikiXml.readHeaders(s, graft.sources.WikiFixtures.standardXmlPath)
        .groupBy(col("page_id"))
        .agg(count(lit(1)).as("n_revs"), max(col("rev_id")).as("max_rev")),
      """SELECT CAST(col0 AS BIGINT) AS page_id, CAST(col1 AS BIGINT) AS n_revs,
        | CAST(col2 AS BIGINT) AS max_rev
        |FROM (VALUES (10, 3, 103), (20, 1, 201), (30, 1, 301)) t""".stripMargin),

    // S2: verbatim per-revision XML — fingerprinted (md5 + length) so the
    // oracle literals stay readable; the expected values are derived from
    // the fixture file with an independent regex extractor, not this scan
    Query("s2_raw_xml", (s, _) =>
      graft.sources.WikiXml.readRaw(s, graft.sources.WikiFixtures.standardXmlPath)
        .select(col("page_id"), col("rev_id"),
          md5(col("revision_xml")).as("xml_md5"),
          length(col("revision_xml")).as("n_chars")),
      """SELECT CAST(col0 AS BIGINT) AS page_id, CAST(col1 AS BIGINT) AS rev_id,
        | col2 AS xml_md5, CAST(col3 AS INT) AS n_chars
        |FROM (VALUES
        | (10, 101, '07bf1d3d0db5553328ce48403d335f69', 407),
        | (10, 102, '7b487d170bb9ecf91ba0c00c9c7aacb8', 389),
        | (10, 103, '7697581f578f8f0e79dbd2a1d636919c', 422),
        | (20, 201, '12ef51f87fafcb86b2937aa86c8d071f', 388),
        | (30, 301, '440ba765ca2b32b88c60f8c0321b0c29', 375)) t""".stripMargin),

    Query("s5_revision_pairs", (s, _) =>
      RevisionOps.pairs(
          graft.sources.WikiXml.read(s, graft.sources.WikiFixtures.standardXmlPath),
          "page_id", "timestamp", Seq("rev_id"), "rev_id")
        .select(col("rev_id"), col("prev_rev_id")),
      """SELECT CAST(col0 AS BIGINT) AS rev_id, CAST(col1 AS BIGINT) AS prev_rev_id
        |FROM (VALUES (101, NULL), (102, 101), (103, 102), (201, NULL),
        | (301, NULL)) t""".stripMargin),

    Query("s15_json_scan", (s, _) =>
      graft.sources.WikiXml.readJson(s, graft.sources.WikiFixtures.jsonPath)
        .select(col("page_id"), col("rev_id"), col("parent_id"),
          col("timestamp").as("ts_ms"), col("user")),
      """SELECT CAST(col0 AS BIGINT) AS page_id, CAST(col1 AS BIGINT) AS rev_id,
        | CAST(col2 AS BIGINT) AS parent_id, CAST(col3 AS BIGINT) AS ts_ms,
        | col4 AS user
        |FROM (VALUES (1, 5, 4, 1577836800000, 'u'),
        | (1, 6, 5, 1577836900000, 'u')) t""".stripMargin),

    Query("f16_rev_diff", (s, _) => {
      import s.implicits._
      val orig = Seq("The quick brown fox jumps over the lazy dog",
        "This sentence stays the same", "But this will be removed.",
        "This will be the same.")
      val rev = Seq("And this has been added.",
        "That quick brown fox jumped over a lazy dog.",
        "This sentence stays the same", "And this has been newly added.",
        "This will be the same.")
      Seq((1L, orig, rev)).toDF("fid", "orig", "rev")
        .select(col("fid"), explode(GraftFunctions.revDiff(col("orig"), col("rev"))).as("d"))
        .select(col("fid"), col("d.op").as("op"), col("d.origPos").as("orig_pos"),
          col("d.revPos").as("rev_pos"), size(col("d.origLines")).as("n_orig"),
          size(col("d.revLines")).as("n_rev"))
    },
      """SELECT CAST(1 AS BIGINT) AS fid, col0 AS op, CAST(col1 AS INT) AS orig_pos,
        | CAST(col2 AS INT) AS rev_pos, CAST(col3 AS INT) AS n_orig,
        | CAST(col4 AS INT) AS n_rev
        |FROM (VALUES ('CHANGE', 0, 0, 1, 2), ('CHANGE', 2, 3, 1, 1)) t""".stripMargin),

    Query("f14_iso_parse", (s, _) => {
      import s.implicits._
      Seq((1L, "2021-03-04T05:06:07Z"), (2L, "1999-12-31T23:59:59Z"))
        .toDF("fid", "iso")
        .select(col("fid"),
          date_format(GraftFunctions.isoTimestamp(col("iso")),
            "yyyy-MM-dd HH:mm:ss").as("parsed"))
    },
      """SELECT CAST(col0 AS BIGINT) AS fid, col1 AS parsed FROM (VALUES
        | (1, '2021-03-04 05:06:07'), (2, '1999-12-31 23:59:59')) t""".stripMargin),

    Query("s6_revision_diffs", (s, _) => {
      val revs = graft.sources.WikiXml
        .read(s, graft.sources.WikiFixtures.standardXmlPath)
        .withColumn("toks", TermOps.tokens(col("text")))
      RevisionOps.diffs(revs, "page_id", "timestamp", "toks", "rev_id",
          GraftFunctions.revDiff)
        .select(col("rev_id"), size(col("deltas")).as("n_deltas"))
    },
      """SELECT CAST(col0 AS BIGINT) AS rev_id, CAST(col1 AS INT) AS n_deltas
        |FROM (VALUES (101, 1), (102, 2), (103, 1), (201, 1), (301, 1)) t""".stripMargin),

    Query("s7_bucket_pairs", (s, d) => {
      // S7: collapse to the last event per (user, rounded-up hour), then
      // pair consecutive buckets per user
      val b = t(s, d, "events")
        .withColumn("bucket",
          date_format(RevisionOps.roundUp(col("ts"), 3600L), "yyyy-MM-dd HH:mm:ss"))
        .groupBy(col("user_id"), col("bucket"))
        .agg(max_by(col("event_id"), col("ts")).as("last_event_id"))
      val w = Window.partitionBy("user_id").orderBy("bucket")
      b.withColumn("prev_bucket", lag(col("bucket"), 1).over(w))
        .withColumn("prev_event_id", lag(col("last_event_id"), 1).over(w))
    },
      """WITH b AS (
        |  SELECT user_id,
        |   strftime(make_timestamp(epoch_us(ts) +
        |     (((0 - epoch_us(ts)) % 3600000000 + 3600000000) % 3600000000)),
        |     '%Y-%m-%d %H:%M:%S') AS bucket,
        |   arg_max(event_id, ts) AS last_event_id
        |  FROM events GROUP BY user_id, bucket)
        |SELECT user_id, bucket, last_event_id,
        | lag(bucket) OVER (PARTITION BY user_id ORDER BY bucket) AS prev_bucket,
        | lag(last_event_id) OVER (PARTITION BY user_id ORDER BY bucket) AS prev_event_id
        |FROM b""".stripMargin),

    Query("s12_link_profile", (s, _) =>
      graft.sources.WikiXml.read(s, graft.sources.WikiFixtures.standardXmlPath)
        .select(col("rev_id"), explode(GraftFunctions.extractLinks(col("text"))).as("l"))
        .select(col("rev_id"), col("l.anchor").as("anchor"), col("l.target").as("target")),
      """SELECT CAST(col0 AS BIGINT) AS rev_id, col1 AS anchor, col2 AS target
        |FROM (VALUES (101, 'anchor', 'Link'),
        | (201, 'Elsewhere', 'Elsewhere')) t""".stripMargin),

    Query("s13_bow_scan", (s, _) =>
      BowOps.changedWordBow(
        graft.sources.WikiXml.read(s, graft.sources.WikiFixtures.standardXmlPath),
        "page_id", "timestamp", "text", "rev_id"),
      """SELECT CAST(col0 AS BIGINT) AS page_id, CAST(col1 AS BIGINT) AS rev_id,
        | col2 AS word, CAST(col3 AS BIGINT) AS cnt
        |FROM (VALUES
        | (10, 101, 'start', 1), (10, 101, 'text', 1), (10, 101, 'with', 1),
        | (10, 101, '[[link|anchor]]', 1), (10, 101, 'and', 1), (10, 101, '<tag>', 1),
        | (10, 102, 'second', 1), (10, 102, 'version', 1),
        | (10, 103, 'third', 1),
        | (20, 201, '#redirect', 1), (20, 201, '[[elsewhere]]', 1),
        | (30, 301, 'category', 1), (30, 301, 'page', 1), (30, 301, 'text', 1)
        |) t""".stripMargin),

    Query("s14_concat_scan", (s, _) =>
      BowOps.concatPatches(
          graft.sources.WikiXml.read(s, graft.sources.WikiFixtures.standardXmlPath),
          "page_id", "timestamp", "text", "rev_id")
        .select(col("page_id"), col("first_text"),
          size(col("patch_words")).as("n_patch_words")),
      """SELECT CAST(col0 AS BIGINT) AS page_id, col1 AS first_text,
        | CAST(col2 AS INT) AS n_patch_words
        |FROM (VALUES
        | (10, 'Start text with [[Link|anchor]] and <tag>', 3),
        | (20, '#REDIRECT [[Elsewhere]]', 0),
        | (30, 'category page text', 0)) t""".stripMargin),

    Query("s20_clean_text", (s, _) =>
      graft.sources.WikiXml.read(s, graft.sources.WikiFixtures.standardXmlPath)
        .select(col("rev_id"), GraftFunctions.plainText(col("text")).as("plain")),
      """SELECT CAST(col0 AS BIGINT) AS rev_id, col1 AS plain
        |FROM (VALUES
        | (101, 'Start text with anchor and'),
        | (102, 'Second version text'),
        | (103, 'Third version text'),
        | (201, '#REDIRECT Elsewhere'),
        | (301, 'category page text')) t""".stripMargin),

    Query("s18_sql_surface", (s, d) => {
      Tables.registerAll(s, d)
      s.sql("""SELECT o_orderpriority, count(*) AS n_orders,
              | round(sum(o_totalprice), 2) AS sum_price
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment <> 'BUILDING'
              |GROUP BY o_orderpriority""".stripMargin)
    },
      """SELECT o_orderpriority, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment <> 'BUILDING'
        |GROUP BY o_orderpriority""".stripMargin),

    Query("f2_extract_links_ctx", (s, _) => {
      import s.implicits._
      Seq((1L, "0123456789[[T|a]]post")).toDF("fid", "text")
        .select(col("fid"), explode(GraftFunctions.extractLinksCtx(col("text"))).as("l"))
        .select(col("fid"), col("l.anchor").as("anchor"), col("l.target").as("target"),
          col("l.offset").as("offset"), col("l.pre").as("pre"), col("l.post").as("post"))
    },
      """SELECT CAST(1 AS BIGINT) AS fid, 'a' AS anchor, 'T' AS target,
        | CAST(10 AS INT) AS offset, '0123456789' AS pre, 'post' AS post""".stripMargin),

    Query("f6_cut_last", (s, _) => {
      import s.implicits._
      Seq((1L, "abcdef"), (2L, "ab")).toDF("fid", "v")
        .select(col("fid"),
          GraftFunctions.cutLast(col("v"), lit(2)).as("cut"))
    },
      """SELECT CAST(col0 AS BIGINT) AS fid, col1 AS cut
        |FROM (VALUES (1, 'abcd'), (2, '')) t(col0, col1)""".stripMargin),

    Query("f8_hour_to_day", (s, d) =>
      t(s, d, "events")
        .groupBy(GraftFunctions.yyyymmddhhToDay(
          date_format(col("ts"), "yyyyMMddHH")).as("day"))
        .agg(count(lit(1)).as("n_events")),
      """SELECT substr(strftime(ts, '%Y%m%d%H'), 1, 8) AS day, count(*) AS n_events
        |FROM events GROUP BY day""".stripMargin),

    Query("s8_sampler_capped", (s, d) =>
      // the S8 carry sampler behind the key-sanity cap — the documented
      // mitigation for its sequential-per-key floor (r11 skew table:
      // 2.9× under a planted 50%-of-events user; capped: the hot key
      // never reaches the carry scan). Semantics: identical to
      // s8_sampler_events on every surviving key; over-cap keys are
      // excluded wholesale (and surfaced by o9_key_cap_audit)
      RevisionOps.changeRatioSample(
          SkewOps.capHotKeys(t(s, d, "events"), "user_id", maxRows = 85L),
          "user_id", "ts", "value", tieBreak = "event_id")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_kept")),
      // the s8 recursive carry chain over the CAPPED event relation: the
      // cap replays as a null-safe ANTI JOIN against the over-cap keys —
      // mirroring capHotKeys' <=> anti-join, so an under-cap NULL-key
      // cohort survives on BOTH sides (the previous inner JOIN USING
      // dropped null keys unconditionally)
      s"""WITH RECURSIVE $cappedEventsSql,
        |${carryReplaySql("ev")}""".stripMargin),

    Query("fnv64_native", (s, _) => {
      import s.implicits._
      Seq((1L, "abc"), (2L, ""), (3L, "hello world"), (4L, "graft"))
        .toDF("fid", "v")
        .selectExpr("fid", "fnv64(v) AS h")
    },
      """SELECT CAST(col0 AS BIGINT) AS fid, CAST(col1 AS BIGINT) AS h FROM (VALUES
        | (1, -1792535898324117685), (2, -3750763034362895579),
        | (3, 8618312879776256743), (4, 3648338088737783365)) t(col0, col1)""".stripMargin),

    Query("pv_pipeline", (s, _) => {
      import s.implicits._
      val lines = Seq(
        "en.z Foo_bar#x 10 AB5C3,CA1B2",
        "en.z foo_bar 7 AA7",
        "de.z Ignored 5 AA5",
        "en.z Baz 2 BA2").toDF("value")
      PageviewOps.pipeline(lines, days = 5)
        .select(col("title"), col("total"),
          posexplode(col("daily")).as(Seq("day", "views")))
    },
      """SELECT col0 AS title, CAST(col1 AS BIGINT) AS total,
        | CAST(col2 AS INT) AS day, CAST(col3 AS INT) AS views
        |FROM (VALUES
        | ('Foo_bar', 17, 0, 15), ('Foo_bar', 17, 1, 0), ('Foo_bar', 17, 2, 3),
        | ('Foo_bar', 17, 3, 0), ('Foo_bar', 17, 4, 0),
        | ('Baz', 2, 0, 0), ('Baz', 2, 1, 2), ('Baz', 2, 2, 0),
        | ('Baz', 2, 3, 0), ('Baz', 2, 4, 0)) t""".stripMargin),

    Query("funnel_steps", (s, d) =>
      // 3-step first-touch funnel view → click → purchase; per-step
      // frontier = one row per surviving user, joins keyed on user_id
      FunnelOps.funnel(t(s, d, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase")),
      // first-touch funnel: frontier CTEs mirror FunnelOps.funnel's
      // earliest-completion chaining at micro-second resolution
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |f1 AS (SELECT user_id, min(tus) AS t FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |f2 AS (SELECT e.user_id, min(e.tus) AS t FROM ev e
        |  JOIN f1 ON e.user_id = f1.user_id AND e.tus > f1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |f3 AS (SELECT e.user_id, min(e.tus) AS t FROM ev e
        |  JOIN f2 ON e.user_id = f2.user_id AND e.tus > f2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 1 AS step, 'view' AS event_type,
        |  (SELECT count(*) FROM f1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM f2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM f3)""".stripMargin),

    Query("s10_time_window_scan", (s, _) =>
      // S10: beginTime inclusive (rev 101 sits exactly on it), endTime
      // exclusive (rev 103 sits exactly on it) — the half-open contract
      graft.sources.WikiXml.read(s, graft.sources.WikiFixtures.standardXmlPath,
          Map("beginTime" -> "2020-01-01T00:00:00Z",
            "endTime" -> "2021-01-01T00:00:00Z"))
        .select(col("rev_id")),
      """SELECT CAST(col0 AS BIGINT) AS rev_id
        |FROM (VALUES (101), (102)) t""".stripMargin),

    // S21: WARC web-archive source (reference ClueWeb09WarcLoader) —
    // typed record fields + body fingerprint over the authored fixture;
    // oracle literals computed by an independent Python md5 over the
    // same authored record bodies
    Query("s21_warc_scan", (s, _) =>
      graft.sources.Warc.read(s, graft.sources.WikiFixtures.standardWarcPath)
        .select(col("record_id"), col("warc_type"), col("trec_id"),
          md5(col("body")).as("body_md5"),
          col("content_length")),
      """SELECT col0 AS record_id, col1 AS warc_type, col2 AS trec_id,
        | col3 AS body_md5, CAST(col4 AS BIGINT) AS content_length
        |FROM (VALUES
        | ('<urn:uuid:0000-info>', 'warcinfo', CAST(NULL AS VARCHAR),
        |  '6d1d3f3c70f22eaa2c92cb36cc02217a', 61),
        | ('<urn:uuid:0001-resp>', 'response', 'clueweb09-en0000-00-00001',
        |  '21dff58ccf724359bca345fc7af03d4a', 91),
        | ('<urn:uuid:0002-resp>', 'response', 'clueweb09-en0000-00-00002',
        |  'b2b70db8b4f7280f294306d2475ef75f', 140),
        | ('<urn:uuid:0003-meta>', 'metadata', 'clueweb09-en0000-00-00002',
        |  'bc07a97108a08612a6cc4531bc5c5056', 18)) t""".stripMargin),

    Query("s17_file_names", (s, _) => {
      // S17: one row per dump file in a directory (FileNullInputFormat)
      val dir = Scratch.dir("s17")
      java.nio.file.Files.writeString(dir.resolve("a.xml"), "<x/>")
      java.nio.file.Files.writeString(dir.resolve("b.xml"), "<y/>")
      java.nio.file.Files.writeString(dir.resolve("c.xml"), "<z/>")
      graft.sources.WikiXml.fileNames(s, dir.toString)
        .agg(count(lit(1)).as("n_files"))
    },
      "SELECT CAST(3 AS BIGINT) AS n_files"),

    Query("s19_split_index", (s, _) => {
      // S19: the split-index build finds exactly one offset per <page>,
      // strictly increasing within the file
      // file lives under the per-process Scratch root (a bare temp-file
      // call leaked one top-level /tmp xml per run; the r16 audit only
      // watched directory creation — Round17Spec now watches files too)
      val f = Scratch.dir("s19").resolve("dump.xml")
      java.nio.file.Files.writeString(f, graft.sources.WikiFixtures.bigXml(60))
      val idx = graft.sources.IndexSplits.build(s, f.toString)
      idx.agg(count(lit(1)).as("n_offsets"),
        countDistinct(col("offset")).as("n_distinct"),
        (min(col("offset")) >= 0).as("non_negative"))
    },
      """SELECT CAST(60 AS BIGINT) AS n_offsets, CAST(60 AS BIGINT) AS n_distinct,
        | TRUE AS non_negative""".stripMargin)
  )
}
