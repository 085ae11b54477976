package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKit._

/** Text analytics and BPE tokenization (text*, bpe*): one [[Query]] record
  * per query. */
private[graft] object Text {

  /** One BPE pair-count + argmax round over word table `sTab` —
    * emits CTEs `p_tag` (pair counts) and `b_tag` (the argmax merge
    * under the exact (count DESC, l, r) order). */
  private def bpePairsFromSql(sTab: String, tag: String): String =
    s"""p_$tag AS (
       |  SELECT pr[1] AS l, pr[2] AS r,
       |   CAST(sum(cnt) AS BIGINT) AS pair_count
       |  FROM (SELECT unnest(list_transform(
       |          generate_series(1, len(syms) - 1),
       |          i -> [syms[i], syms[i + 1]])) AS pr, cnt
       |        FROM $sTab WHERE len(syms) >= 2)
       |  GROUP BY 1, 2),
       |b_$tag AS (SELECT l, r, pair_count FROM p_$tag
       |           ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1)"""
      .stripMargin

  /** The greedy left-to-right non-overlapping merge application fold —
    * emits CTE `outTab` = `inTab` with merge `bTab` applied (mirrors
    * TermOps.bpeCore's aggregate fold). */
  private def bpeMergeFromSql(inTab: String, bTab: String,
                              outTab: String): String =
    s"""$outTab AS MATERIALIZED (
       |  SELECT list_reduce(list_prepend(CAST([] AS VARCHAR[]),
       |          list_transform(syms, x -> [x])),
       |         (acc, xw) -> CASE WHEN len(acc) > 0
       |             AND acc[-1] = b.l AND xw[1] = b.r
       |           THEN list_append(acc[1:len(acc) - 1], b.l || b.r)
       |           ELSE list_append(acc, xw[1]) END) AS syms, cnt
       |  FROM $inTab CROSS JOIN $bTab b)""".stripMargin

  /** The 3-round BPE training chain (word table w, merges b_1..b_3,
    * applied tables s1/s2) — shared verbatim by the `bpe_train` gate
    * and the `bpe_apply` audit (which extends it with the final
    * apply). Emits the CTE list WITHOUT the leading WITH. */
  private lazy val bpeChainSql: String =
    s"""w AS MATERIALIZED (
       |  SELECT regexp_split_to_array(term, '') AS syms,
       |   CAST(count(*) AS BIGINT) AS cnt
       |  FROM ($tokensSub) WHERE term <> '' GROUP BY term),
       |${bpePairsFromSql("w", "1")},
       |${bpeMergeFromSql("w", "b_1", "s1")},
       |${bpePairsFromSql("s1", "2")},
       |${bpeMergeFromSql("s1", "b_2", "s2")},
       |${bpePairsFromSql("s2", "3")}""".stripMargin

  /** 8-gram overlap vs the doc_id ≤ 2 probe set (text_contamination). */
  private val contaminationSql =
    s"""$arrsSql,
      |$grams8Sql,
      |p AS (SELECT doc_id AS probe_id, g FROM g WHERE doc_id <= 2)
      |SELECT g.doc_id, p.probe_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM g JOIN p USING (g)
      |GROUP BY 1, 2""".stripMargin

  val all: Seq[Query] = Seq(
    Query("text_zipf", (s, d) => {
      // Zipf-law fit over the top-50 corpus terms: OLS of ln(cf) on
      // ln(rank) — slope ≈ −1 is the healthy-natural-text signature, a
      // flat slope flags templated/boilerplate corpora and a cliff
      // flags vocabulary collapse (the corpus-health scorecard beside
      // text_ttr/text_quality). The heavy lifting is one term-frequency
      // aggregation (map-side combined) + TakeOrdered(50); the fit then
      // runs over exactly 50 points as ONE rank-ordered fold of
      // (x, y, xy, x², y²) products — both engines fold identical
      // doubles in identical order, so the unrounded co-moments match
      // bit-for-bit before the mirrored slope/intercept/r² divisions.
      val top = TermOps.termStats(t(s, d, "documents"), "doc_id", "text")
        .select(col("term"), col("cf"))
        .orderBy(col("cf").desc, col("term").asc).limit(50)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cf").desc, col("term").asc)))
      val pts = top.select(col("rank"),
          log(col("rank").cast("double")).as("x"),
          log(col("cf").cast("double")).as("y"))
        .select(col("rank"), col("x"), col("y"),
          (col("x") * col("y")).as("xy"), (col("x") * col("x")).as("xx"),
          (col("y") * col("y")).as("yy"))
      val zero = array(lit(0.0d), lit(0.0d), lit(0.0d), lit(0.0d), lit(0.0d))
      pts.agg(count(lit(1)).cast("double").as("n"),
          array_sort(collect_list(struct(col("rank"), col("x"), col("y"),
            col("xy"), col("xx"), col("yy")))).as("arr"))
        .withColumn("s", aggregate(col("arr"), zero, (acc, p) => array(
          acc.getItem(0) + p.getField("x"), acc.getItem(1) + p.getField("y"),
          acc.getItem(2) + p.getField("xy"), acc.getItem(3) + p.getField("xx"),
          acc.getItem(4) + p.getField("yy"))))
        .select(col("n"), col("s").getItem(0).as("sx"),
          col("s").getItem(1).as("sy"), col("s").getItem(2).as("sxy"),
          col("s").getItem(3).as("sxx"), col("s").getItem(4).as("syy"))
        .withColumn("slope", (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
        .select(col("n").cast("long").as("n_terms"),
          round(col("slope"), 6).as("slope"),
          round((col("sy") - col("slope") * col("sx")) / col("n"), 6)
            .as("intercept"),
          round(((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
    },
      // OLS over exactly 50 (ln rank, ln cf) points as one rank-ordered
      // 5-state list fold (the t14 list-state rule); ln on identical
      // doubles matches Spark's log() bit-for-bit (the dsir precedent)
      s"""WITH cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf
         |            FROM ($tfSub) GROUP BY term),
         |top AS (SELECT term, cf,
         |   CAST(row_number() OVER (ORDER BY cf DESC, term ASC) AS INT)
         |     AS rank
         |  FROM cf ORDER BY cf DESC, term ASC LIMIT 50),
         |pts AS (SELECT rank, ln(CAST(rank AS DOUBLE)) AS x,
         |         ln(CAST(cf AS DOUBLE)) AS y FROM top),
         |p2 AS (SELECT rank, x, y, x*y AS xy, x*x AS xx, y*y AS yy
         |       FROM pts),
         |f AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |       list_reduce(list_prepend(
         |         [0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
         |          0.0::DOUBLE],
         |         list([x, y, xy, xx, yy] ORDER BY rank)),
         |         (acc, p) -> [acc[1]+p[1], acc[2]+p[2], acc[3]+p[3],
         |                      acc[4]+p[4], acc[5]+p[5]]) AS s
         |      FROM p2),
         |g AS (SELECT n, s[1] AS sx, s[2] AS sy, s[3] AS sxy,
         |       s[4] AS sxx, s[5] AS syy FROM f),
         |h AS (SELECT n, sx, sy, sxy, sxx, syy,
         |       (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope FROM g)
         |SELECT CAST(n AS BIGINT) AS n_terms, round(slope, 6) AS slope,
         | round((sy - slope*sx) / n, 6) AS intercept,
         | round(((n*sxy - sx*sy) * (n*sxy - sx*sy)) /
         |   ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
         |FROM h""".stripMargin),

    Query("text_boilerplate", (s, _) => {
      // line-level boilerplate strip over an authored multi-line fixture:
      // the banner lines repeat across docs (df >= 2) and must vanish,
      // unique content lines survive in order
      import s.implicits._
      Seq(
        (1L, "unique first line\nsubscribe to our newsletter\nreal content one"),
        (2L, "subscribe to our newsletter\nreal content two\ncookie banner text"),
        (3L, "cookie banner text\nreal content three"),
        (4L, "subscribe to our newsletter\ncookie banner text"))
        .toDF("doc_id", "text")
        .transform(df =>
          TextAnalysisOps.stripBoilerplate(df, "doc_id", "text", minDf = 2L))
    },
      """SELECT CAST(col0 AS BIGINT) AS doc_id, col1 AS clean_text
        |FROM (VALUES
        | (1, 'unique first line' || chr(10) || 'real content one'),
        | (2, 'real content two'),
        | (3, 'real content three')) t""".stripMargin),

    Query("text_contamination", (s, d) => {
      // decontamination scan: the two lowest-id documents act as the
      // "benchmark" probe set; every corpus doc sharing an 8-gram with
      // them (themselves + their near-dups) surfaces with its count
      val docs = t(s, d, "documents")
      TextAnalysisOps.contamination(docs, "doc_id", "text",
        docs.filter(col("doc_id") <= 2), "doc_id", "text", n = 8)
    },
      contaminationSql),

    Query("text_ttr", (s, d) =>
      // lexical diversity per doc: type-token ratio off the whitespace
      // analyzer (F17 seam) — the vocabulary-collapse signal that
      // catches template/generated text the repetition scorer's fixed
      // n-gram window can miss. Pure map: tokenize, distinct within the
      // row's own array, two sizes and one division — zero exchanges.
      t(s, d, "documents")
        .select(col("doc_id"), TermOps.tokens(col("text")).as("tok"))
        .select(col("doc_id"), size(col("tok")).cast("long").as("n_tokens"),
          size(array_distinct(col("tok"))).cast("long").as("n_types"))
        .filter(col("n_tokens") > 0)
        .withColumn("ttr",
          round(col("n_types").cast("double") / col("n_tokens"), 6)),
      // same whitespace-analyzer split as the engine's F17 seam
      """WITH tk AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS tok
        |  FROM documents)
        |SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(tok)) AS BIGINT) AS n_types,
        | round(CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok), 6) AS ttr
        |FROM tk WHERE len(tok) > 0""".stripMargin),

    Query("text_novelty", (s, d) => {
      // corpus-order novelty: the fraction of a doc's distinct 3-gram
      // shingles whose FIRST corpus occurrence (min doc_id) is this doc
      // — the redundancy-over-time signal behind "is the crawl still
      // contributing new content". Shingles ride as 64-bit FNV keys
      // (the jaccardPairs convention); the first-occurrence map is a
      // partition-only min WINDOW on the one (shingle)-keyed exchange —
      // no self-join, no checkpoint, the corpus shuffles once on h and
      // once on doc_id (the 4.1× join-back variant is in SCALE.md).
      val hashed = t(s, d, "documents")
        .select(col("doc_id"), TermOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(array_distinct(
          graft.GraftFunctions.shingleHashes(col("toks"), 3))).as("h"))
      hashed
        .withColumn("first_doc",
          min(col("doc_id")).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_shingles"), 6))
    },
      // first-occurrence map over the jaccard shingle convention
      s"""$arrsSql,
        |$shinglesSql,
        |fo AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        | CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_novel,
        | round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*), 6) AS novelty
        |FROM sh s JOIN fo f USING (sh) GROUP BY 1""".stripMargin),

    Query("text_line_stats", (s, d) =>
      // line-structure profile per doc (the boilerplate-adjacent signal
      // the char-level quality metrics miss): line count, blank-line
      // ratio, mean non-blank line length — pure map, zero exchanges
      t(s, d, "documents")
        .select(col("doc_id"), split(col("text"), "\n").as("ls"))
        .select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"),
          size(filter(col("ls"), l => length(l) === 0)).cast("long")
            .as("n_blank"),
          aggregate(filter(col("ls"), l => length(l) > 0), lit(0L),
            (acc, l) => acc + length(l)).as("sum_len"))
        .select(col("doc_id"), col("n_lines"), col("n_blank"),
          round(col("n_blank").cast("double") / col("n_lines"), 6)
            .as("blank_ratio"),
          when(col("n_lines") - col("n_blank") > 0,
            round(col("sum_len").cast("double") /
              (col("n_lines") - col("n_blank")), 6)).as("mean_line_len")),
      // char-length folds over the line split, mirrored
      """WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls
        |           FROM documents),
        |f AS (SELECT doc_id, ls,
        |   CAST(len(ls) AS BIGINT) AS n_lines,
        |   CAST(len(list_filter(ls, x -> length(x) = 0)) AS BIGINT)
        |     AS n_blank,
        |   CAST(list_reduce(list_prepend(0::BIGINT,
        |     list_transform(list_filter(ls, x -> length(x) > 0),
        |       x -> length(x)::BIGINT)), (a, b) -> a + b) AS BIGINT)
        |     AS sum_len
        |  FROM t)
        |SELECT doc_id, n_lines, n_blank,
        | round(CAST(n_blank AS DOUBLE) / n_lines, 6) AS blank_ratio,
        | CASE WHEN n_lines - n_blank > 0 THEN
        |   round(CAST(sum_len AS DOUBLE) / (n_lines - n_blank), 6)
        | END AS mean_line_len
        |FROM f""".stripMargin),

    Query("text_keywords", (s, d) => {
      // per-document keyword extraction: top-3 terms by tf·idf — the
      // summary/labeling primitive every corpus browser ships. One
      // (term)-keyed df pass broadcasts back onto the (doc, term) tf
      // relation; the per-doc top-3 is a WindowGroupLimit (pre-shuffle
      // heaps, the o7 shape), never a global sort.
      // NO checkpoint here: both consumers re-run the map-only tokenize
      // (pipelined, embarrassingly parallel) rather than serializing a
      // corpus-sized (doc, term, tf) materialization — measured 3.1×
      // at ×10 with the eager checkpoint vs 1.6× without
      val tf = TermOps.termFrequencies(t(s, d, "documents"), "doc_id", "text")
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = tf.select(countDistinct(col("doc_id")).as("nd"))
      tf.join(dft, "term").crossJoin(broadcast(n))
        .withColumn("score",
          col("tf") * log(col("nd").cast("double") / col("df")))
        .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"),
          round(col("score"), 6).as("score"))
    },
      // tf·idf over the shared tf chain; ln on identical doubles
      s"""WITH tf AS ($tfSub),
         |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |        FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM tf),
         |sc AS (SELECT tf.doc_id, tf.term,
         |        tf.tf * ln(CAST(nd.nd AS DOUBLE) / dft.df) AS score
         |       FROM tf JOIN dft USING (term), nd),
         |r AS (SELECT doc_id, term, score,
         |       CAST(row_number() OVER (PARTITION BY doc_id
         |         ORDER BY score DESC, term ASC) AS INT) AS rk FROM sc)
         |SELECT doc_id, rk, term, round(score, 6) AS score
         |FROM r WHERE rk <= 3""".stripMargin),

    Query("text_langid_eval", (s, d) =>
      // confusion matrix of the n-gram lang-id heuristic against the
      // labeled lang column — the precision audit a heuristic gate needs
      // before it filters a corpus (which languages it eats, which it
      // leaks). One tokenise map + one (label, prediction) exchange.
      TextAnalysisOps.withLangId(t(s, d, "documents"), "text")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n")),
      // the lang-id chain joined back to the labels
      s"""WITH pred AS ($langIdSql)
         |SELECT d.lang, p.pred_lang, count(*) AS n
         |FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         |GROUP BY 1, 2""".stripMargin),

    Query("text_bigram_entropy", (s, d) => {
      // corpus conditional entropy rate H(next | prev) of the bigram
      // distribution, in bits — the information-theoretic corpus-health
      // number beside text_perplexity (a low rate flags templated /
      // repetitive corpora long before eyeballing does): H = Σ_prev
      // p(prev) · H(next|prev), with each inner entropy folded over the
      // cur-sorted cells of ONE prev (partitioned — no fold ever sees
      // more than a vocabulary's worth of cells) and the outer fold
      // over the prev-sorted vocabulary tier (the a5/o2 dictionary
      // tier; its documented scalable escape applies past ~10⁷ types).
      // Exact integer counts; ln(x)/ln(2.0) on identical doubles both
      // engines (the stats_divergence convention).
      val cells = t(s, d, "documents")
        .select(TermOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
            |         slice(toks, 2, size(toks) - 1),
            |         (a, b) -> struct(a AS prev, b AS cur))""".stripMargin))
          .as("bg"))
        .select(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
        .groupBy("prev", "cur").agg(count(lit(1)).as("c"))
      val perPrev = cells.groupBy("prev")
        .agg(sum(col("c")).as("cp"),
          array_sort(collect_list(struct(col("cur"), col("c")))).as("arr"))
        .withColumn("hp", aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc - (x.getField("c").cast("double") / col("cp")) *
            (log(x.getField("c").cast("double") / col("cp")) /
              log(lit(2.0)))))
        .select(col("prev"), col("cp"), col("hp"))
      perPrev.agg(sum(col("cp")).as("n_bigrams"),
          count(lit(1)).as("vocab_prev"),
          array_sort(collect_list(struct(col("prev"), col("cp"),
            col("hp")))).as("arr"))
        .withColumn("h", aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + (x.getField("cp").cast("double") /
            col("n_bigrams")) * x.getField("hp")))
        .select(col("n_bigrams"), col("vocab_prev"),
          round(col("h"), 6).as("cond_entropy_bits"),
          round(pow(lit(2.0), col("h")), 4).as("bg_perplexity"))
    },
      // two-level entropy folds: per-prev over cur-ordered cells, then
      // the vocabulary tier over prev-ordered rows; parallel unnests zip
      """WITH tk AS (SELECT
        |   list_filter(regexp_split_to_array(lower(text), '\s+'),
        |     x -> x <> '') AS toks
        |  FROM documents),
        |d2 AS (SELECT toks FROM tk WHERE len(toks) >= 2),
        |bg AS (SELECT
        |   unnest(list_transform(generate_series(1, len(toks) - 1),
        |     i -> toks[i])) AS prev,
        |   unnest(list_transform(generate_series(1, len(toks) - 1),
        |     i -> toks[i + 1])) AS cur
        |  FROM d2),
        |cells AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
        |          FROM bg GROUP BY 1, 2),
        |pc AS (SELECT prev, CAST(sum(c) AS BIGINT) AS cp
        |       FROM cells GROUP BY prev),
        |pp AS (SELECT cells.prev AS prev, cp,
        |   list_reduce(list_prepend(0.0::DOUBLE,
        |     list(-(CAST(c AS DOUBLE) / cp) *
        |          (ln(CAST(c AS DOUBLE) / cp) / ln(2.0::DOUBLE))
        |       ORDER BY cur)),
        |     (a, b) -> a + b) AS hp
        |  FROM cells JOIN pc ON cells.prev = pc.prev
        |  GROUP BY cells.prev, cp),
        |t2 AS (SELECT CAST(sum(cp) AS BIGINT) AS n_bigrams,
        |        CAST(count(*) AS BIGINT) AS vocab_prev FROM pp),
        |f AS (SELECT n_bigrams, vocab_prev,
        |   list_reduce(list_prepend(0.0::DOUBLE,
        |     list((CAST(cp AS DOUBLE) / n_bigrams) * hp ORDER BY prev)),
        |     (a, b) -> a + b) AS h
        |  FROM pp CROSS JOIN t2 GROUP BY n_bigrams, vocab_prev)
        |SELECT n_bigrams, vocab_prev, round(h, 6) AS cond_entropy_bits,
        | round(pow(2.0::DOUBLE, h), 4) AS bg_perplexity
        |FROM f""".stripMargin),

    Query("text_perplexity", (s, d) =>
      TextAnalysisOps.bigramSurprisal(t(s, d, "documents"), "doc_id", "text"),
      // add-0.5-smoothed bigram LM, scored on the (doc, bigram, n)
      // compressed relation exactly as TextAnalysisOps.bigramSurprisal
      surprisalSql),

    Query("text_readability", (s, d) => {
      import s.implicits._
      // Flesch reading-ease (the curation-filter classic): words =
      // whitespace tokens, sentences = [.!?]+ runs (floored at 1 — the
      // word-soup corpus has none), syllables ≈ vowel-group runs per
      // text (the standard regex approximation). Score arithmetic on
      // identical literal doubles both engines; planted prose pins real
      // sentence/syllable behavior beside the soup.
      val planted = Seq(
        (9300001L, "The cat sat. The dog ran fast! Is it good?"),
        (9300002L,
          "Comprehensive establishments demonstrate extraordinary capabilities.")
      ).toDF("doc_id", "text")
      t(s, d, "documents").select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0)))
            .as("n_words"),
          greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"),
            lit(0))), lit(1)).as("n_sents"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
            lit(0))).as("n_syll"))
        .filter(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
          round(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sents")) -
            lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 4)
            .as("flesch"))
    },
      // word/sentence/vowel-group counts + the Flesch formula on
      // identical literal doubles
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(col0 AS BIGINT), col1 FROM (VALUES
        |   (9300001, 'The cat sat. The dog ran fast! Is it good?'),
        |   (9300002, 'Comprehensive establishments demonstrate extraordinary capabilities.')) t),
        |m AS (SELECT doc_id,
        |   len(regexp_extract_all(text, '[^\s]+')) AS n_words,
        |   greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
        |   len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
        |  FROM base)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        | CAST(n_sents AS INT) AS n_sents, CAST(n_syll AS INT) AS n_syll,
        | round(206.835::DOUBLE
        |  - 1.015::DOUBLE * (CAST(n_words AS DOUBLE) / n_sents)
        |  - 84.6::DOUBLE * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
        |FROM m WHERE n_words > 0""".stripMargin),

    Query("text_num_normalize", (s, d) => {
      import s.implicits._
      // digit-run normalization (the GPT-2/C4 vocabulary-compaction
      // preprocessing step): lowercase, every digit run → <num>,
      // whitespace collapsed — plus the digit-run count on the
      // ORIGINAL text; only changed docs emit (the corpus is again
      // the false-positive control)
      val planted = Seq(
        (9100001L, "Call 911 or wait 30 minutes for THE 2nd response"),
        (9100002L, "IPv4 10.0.0.1  port  8080"),
        (9100003L, "no digits here at all")
      ).toDF("doc_id", "text")
      t(s, d, "documents").select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
            .as("n_nums"),
          trim(regexp_replace(
            regexp_replace(lower(col("text")), lit("[0-9]+"), lit("<num>")),
            lit("\\s+"), lit(" "))).as("norm"))
        .filter(col("n_nums") > 0)
    },
      // lower → digit runs → <num> → whitespace collapse, counts on the
      // original text
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(col0 AS BIGINT), col1 FROM (VALUES
        |   (9100001, 'Call 911 or wait 30 minutes for THE 2nd response'),
        |   (9100002, 'IPv4 10.0.0.1  port  8080'),
        |   (9100003, 'no digits here at all')) t)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_nums,
        | trim(regexp_replace(
        |   regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
        |   '\s+', ' ', 'g')) AS norm
        |FROM base
        |WHERE len(regexp_extract_all(text, '[0-9]+')) > 0""".stripMargin),

    Query("text_pii_scrub", (s, d) => {
      import s.implicits._
      // PII redaction over corpus ∪ planted fixtures
      // (TextAnalysisOps.piiScrub): emails scrub before phones (fixed,
      // mirrored order), counts ride along, and only flagged docs
      // return — the organic corpus is the false-positive control (a
      // spurious match would surface as an extra row). Planted row 4
      // pins the boundary cases: spaced-out non-email, short digit run.
      val planted = Seq(
        (9000001L,
          "contact alice.smith+test@Example.COM or bob@sub.domain.org today"),
        (9000002L, "call 555-123-4567 or 555.987.6543 before noon"),
        (9000003L, "mixed: carol@x.io then 800-555-0199 but not fragment@nodot"),
        (9000004L, "edge not-an-email @ spaced.com and 12-345-6789 short")
      ).toDF("doc_id", "text")
      val corpus = t(s, d, "documents").select("doc_id", "text")
        .unionByName(planted)
      TextAnalysisOps.piiScrub(corpus, "doc_id", "text")
        .filter(col("n_emails") + col("n_phones") > 0)
    },
      // PII scrub replay: email pass first, phone counts on the
      // email-scrubbed text (same fixed order as piiScrub), only flagged
      // docs returned
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(col0 AS BIGINT), col1 FROM (VALUES
        |   (9000001, 'contact alice.smith+test@Example.COM or bob@sub.domain.org today'),
        |   (9000002, 'call 555-123-4567 or 555.987.6543 before noon'),
        |   (9000003, 'mixed: carol@x.io then 800-555-0199 but not fragment@nodot'),
        |   (9000004, 'edge not-an-email @ spaced.com and 12-345-6789 short')) t),
        |e AS (SELECT doc_id,
        |   len(regexp_extract_all(text,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |   regexp_replace(text,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |     AS t1
        |  FROM base),
        |p AS (SELECT doc_id, n_emails,
        |   len(regexp_extract_all(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
        |     AS n_phones,
        |   regexp_replace(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')
        |     AS scrubbed
        |  FROM e)
        |SELECT doc_id, CAST(n_emails AS INT) AS n_emails,
        | CAST(n_phones AS INT) AS n_phones, scrubbed
        |FROM p WHERE n_emails + n_phones > 0""".stripMargin),

    Query("text_quality", (s, d) =>
      TextAnalysisOps.qualityMetrics(t(s, d, "documents"), "doc_id", "text"),
      """SELECT doc_id,
        | CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS INT)
        |   AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
        |   AS n_bpe_tokens,
        | round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) /
        |   greatest(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |     x -> x <> '')) AS DOUBLE), 1.0), 4) AS mean_tok_len,
        | round(CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) /
        |   greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS punct_ratio,
        | round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) /
        |   greatest(CAST(length(text) AS DOUBLE), 1.0), 4) AS digit_ratio
        |FROM documents""".stripMargin),

    Query("text_stopword_ratio", (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysisOps.stopwordRatio(col("text")).as("sw_ratio")),
      """SELECT doc_id, round(
        | CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |   x -> x <> ''), x -> x IN ('the','of','and','to','in','is','that','it',
        |   'was','for','with','as','on','are','a'))) AS DOUBLE) /
        | greatest(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |   x -> x <> '')) AS DOUBLE), 1.0), 4) AS sw_ratio
        |FROM documents""".stripMargin),

    Query("text_lang_id", (s, d) =>
      TextAnalysisOps.withLangId(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("pred_lang")),
      langIdSql),

    Query("text_pii_mask", (s, d) => {
      // PII scrubbing (the Dolma/CCNet pre-training hygiene pass):
      // emails, IPv4s and phone-shaped tokens counted and masked to
      // typed placeholders. The fixture plants one of each per doc by
      // identical concatenation on both engines (the f20_html_text
      // convention) so every rule fires on every row; on real data the
      // same chain applies to the raw text column. Pure codegen regexp
      // chain (three counts + three global replaces), RE2-safe
      // patterns — no lookarounds, no backrefs.
      val payload = concat(
        lit("reach "), col("source"), lit(".team@example.com or 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
        pmod(col("doc_id") * 7, lit(256)).cast("string"),
        lit(" tel 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" :: "), substring(col("text"), 1, 120))
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      val phone = "555-[0-9]{4}"
      t(s, d, "documents")
        .select(col("doc_id"), payload.as("raw"))
        // counts via the DSL (a SQL-literal '$pat' would re-interpret
        // backslashes: '\.'' parses to '.' and over-counts)
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(email)).cast("long").as("n_email"),
          regexp_count(col("raw"), lit(ip)).cast("long").as("n_ip"),
          regexp_count(col("raw"), lit(phone)).cast("long").as("n_phone"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("raw"), lit(email), lit("<EMAIL>")),
              lit(ip), lit("<IP>")),
            lit(phone), lit("<PHONE>")).as("masked"))
    },
      // identical planted payload; counts via regexp_extract_all, masks
      // via regexp_replace with the 'g' flag (Spark replaces all by
      // default)
      """WITH raw AS (SELECT doc_id,
        |   concat('reach ', source, '.team@example.com or 10.0.',
        |     CAST(doc_id % 256 AS VARCHAR), '.',
        |     CAST((doc_id * 7) % 256 AS VARCHAR), ' tel 555-',
        |     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' :: ',
        |     text[1:120]) AS raw
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(raw,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |   AS n_email,
        | CAST(len(regexp_extract_all(raw,
        |   '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip,
        | CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS BIGINT)
        |   AS n_phone,
        | regexp_replace(regexp_replace(regexp_replace(raw,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |   'g'), '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
        |   '555-[0-9]{4}', '<PHONE>', 'g') AS masked
        |FROM raw""".stripMargin),

    Query("text_llm_watermark", (s, d) => {
      // greenlist-watermark detector (Kirchenbauer et al. 2023, "A
      // Watermark for Large Language Models"): a watermarking LLM
      // biases each token toward a pseudorandom "green list" seeded by
      // the previous token; the detector recounts — for every bigram,
      // green = low bit of fnv64("prev cur") — and scores the excess
      // over the n/2 null with z = (2G − n)/√n. Flag at z > 4
      // (~3·10⁻⁵ false-positive rate). Unwatermarked text scores ~0;
      // the operator is the screening harness a training-data pipeline
      // runs to keep synthetic/LLM text out of the corpus. Everything
      // is integer until z: the bigram fold runs inside the tokens
      // array (no explode of positions), one doc-keyed aggregation.
      val tk = TermOps.tokens(col("text"))
      t(s, d, "documents").select(col("doc_id"), tk.as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          """zip_with(slice(toks, 1, size(toks) - 1),
            |         slice(toks, 2, size(toks) - 1),
            |         (a, b) -> concat(a, ' ', b))""".stripMargin))
          .as("bg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(pmod(GraftFunctions.fnv64(col("bg")), lit(2L))).as("green"))
        .withColumn("zraw", (lit(2.0) * col("green") - col("n_bigrams")) /
          sqrt(col("n_bigrams").cast("double")))
        .select(col("doc_id"), col("n_bigrams"), col("green"),
          round(col("zraw"), 6).as("z"),
          (col("zraw") > 4.0).as("flagged"))
    },
      // green bit = low bit of the fnv64 HUGEINT (two's-complement low
      // bit == unsigned low bit, the dedup_simhash convention); z on
      // identical doubles, flag compared on the UNROUNDED z both sides
      s"""WITH tk AS (SELECT doc_id,
         |   list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |     x -> x <> '') AS toks
         |  FROM documents),
         |d2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 2),
         |bg AS (SELECT doc_id,
         |   unnest(list_transform(generate_series(1, len(toks) - 1),
         |     i -> toks[i] || ' ' || toks[i + 1])) AS bg
         |  FROM d2),
         |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |   CAST(sum(CAST(${fnvSql("bg")} % 2 AS BIGINT)) AS BIGINT)
         |     AS green
         |  FROM bg GROUP BY doc_id),
         |z AS (SELECT doc_id, n_bigrams, green,
         |   (2.0::DOUBLE * green - n_bigrams) /
         |     sqrt(CAST(n_bigrams AS DOUBLE)) AS zraw
         |  FROM g)
         |SELECT doc_id, n_bigrams, green, round(zraw, 6) AS z,
         | zraw > 4.0::DOUBLE AS flagged
         |FROM z""".stripMargin),

    Query("text_fingerprint", (s, d) =>
      TextAnalysisOps.withFingerprint(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("fingerprint")),
      """SELECT doc_id,
        | CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |   THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |   AS fingerprint
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::HUGEINT,
        |      list_transform(regexp_split_to_array(text, ''), c -> unicode(c)::HUGEINT)),
        |      (h, c) -> (h * 31 + c) % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)""".stripMargin),

    Query("text_scrub", (s, d) => {
      import s.implicits._
      // planted rows prove the substitutions fire; the organic corpus
      // proves no false positives
      val planted = Seq(
        (9000001L, "contact bob@example.com or https://ex.com/a?b=1 ref 55512345678 end"),
        (9000002L, "no pii here at all")).toDF("doc_id", "text")
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .unionByName(planted)
        .select(col("doc_id"), TextAnalysisOps.scrubPii(col("text")).as("scrubbed"))
    },
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(col0 AS BIGINT), col1 FROM (VALUES
        |   (9000001, 'contact bob@example.com or https://ex.com/a?b=1 ref 55512345678 end'),
        |   (9000002, 'no pii here at all')) t(col0, col1))
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |   'https?://[^\s]+', '<URL>', 'g'),
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
        |FROM base""".stripMargin),

    Query("text_repetition", (s, d) => {
      import s.implicits._
      val planted = Seq(
        (9000001L, "spam spam spam spam spam spam"),
        (9000002L, "all words here are fully distinct tokens")).toDF("doc_id", "text")
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .unionByName(planted)
        .select(col("doc_id"),
          TextAnalysisOps.repetitionRatio(col("text")).as("rep_ratio"))
    },
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(col0 AS BIGINT), col1 FROM (VALUES
        |   (9000001, 'spam spam spam spam spam spam'),
        |   (9000002, 'all words here are fully distinct tokens')) t(col0, col1)),
        |arrs AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '') AS a
        |  FROM base),
        |sh AS (
        |  SELECT doc_id,
        |   list_transform(generate_series(1, len(a) - 2),
        |     i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2]) AS s,
        |   len(a) AS n
        |  FROM arrs)
        |SELECT doc_id,
        | CASE WHEN n < 3 THEN 0.0
        |      ELSE round(1.0 - len(list_distinct(s)) * 1.0 / len(s), 4)
        | END AS rep_ratio
        |FROM sh""".stripMargin),

    Query("text_surprisal", (s, d) =>
      TextAnalysisOps.surprisal(t(s, d, "documents"), "doc_id", "text"),
      s"""WITH tf AS ($tfSub),
         |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
         |g AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf)
         |SELECT doc_id,
         | round(sum(tf.tf * -log2(CAST(cf.cf AS DOUBLE) / g.total)) /
         |   CAST(sum(tf.tf) AS DOUBLE), 4) AS mean_surprisal
         |FROM tf JOIN cf USING (term) CROSS JOIN g
         |GROUP BY doc_id""".stripMargin),

    Query("text_token_count", (s, d) => {
      // token-budget estimation per doc: whitespace words vs the
      // GPT-2-ish pre-tokenizer split (TermOps.Bpe) — the context-window
      // planning number; pure map, zero exchanges
      val ws = size(TermOps.tokens(col("text")))
      val bpe = size(TermOps.tokens(col("text"), TermOps.Bpe))
      t(s, d, "documents").select(col("doc_id"),
        ws.as("n_ws"), bpe.as("n_bpe"),
        when(ws === 0, lit(0.0))
          .otherwise(round(bpe.cast("double") / ws.cast("double"), 4))
          .as("bpe_per_ws"))
    },
      // same lookahead-free GPT-2-ish pattern (TermOps.BpePattern) — Java
      // regex and RE2 both run it with leftmost-first alternation
      """SELECT doc_id,
        | CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |   x -> x <> '')) AS INT) AS n_ws,
        | CAST(len(list_filter(regexp_extract_all(lower(text),
        |   '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
        |   x -> x <> '')) AS INT) AS n_bpe,
        | CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |   x -> x <> '')) = 0 THEN 0.0
        |  ELSE round(CAST(len(list_filter(regexp_extract_all(lower(text),
        |   '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
        |   x -> x <> '')) AS DOUBLE) /
        |   CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |   x -> x <> '')) AS DOUBLE), 4) END AS bpe_per_ws
        |FROM documents""".stripMargin),

    Query("text_gopher_rules", (s, d) =>
      // the Gopher hard-rule gate bits (Rae et al. 2021 §A1.1) — every
      // rule an integer cross-multiplied compare, pure map
      TextAnalysisOps.gopherRules(t(s, d, "documents"), "doc_id", "text"),
      // every rule is an integer cross-multiplied compare — no float
      // boundary anywhere, so the bits decide identically in both engines
      gopherSql),

    Query("bpe_train", (s, d) =>
      // distributed BPE merge training (3 greedy rounds over the
      // corpus word-frequency table) — the tokenizer-TRAINING half of
      // the F17 seam; the learned merge table is the artifact a real
      // pipeline ships to its serving tokenizer. See TermOps.bpeTrain.
      TermOps.bpeTrain(t(s, d, "documents"), "doc_id", "text",
        rounds = 3),
      // three unrolled greedy merge rounds over the word-frequency
      // table; the merge application is the wrapped-element list_reduce
      // fold (greedy left-to-right, the engine's aggregate() mirrored)
      s"""WITH $bpeChainSql
         |SELECT 1 AS round, l AS merge_left, r AS merge_right, pair_count
         |FROM b_1
         |UNION ALL SELECT 2, l, r, pair_count FROM b_2
         |UNION ALL SELECT 3, l, r, pair_count FROM b_3""".stripMargin),

    Query("bpe_apply", (s, d) =>
      // the SERVING half of bpe_train: apply the freshly learned merge
      // table to the corpus word table and audit what the vocabulary
      // buys — pieces per word (fertility) and chars per piece
      // (compression) over frequency-weighted exact integers. The
      // train→apply loop a tokenizer team runs before shipping a vocab.
      // See TermOps.bpeSegment.
      TermOps.bpeSegment(t(s, d, "documents"), "doc_id", "text",
        rounds = 3),
      // the SAME learned-merge chain, extended by the final apply (s3)
      // and aggregated: frequency-weighted piece/char totals, two final
      // divisions — the train→apply audit
      s"""WITH $bpeChainSql,
         |${bpeMergeFromSql("s2", "b_3", "s3")}
         |SELECT CAST(sum(cnt) AS BIGINT) AS n_words,
         | CAST(count(*) AS BIGINT) AS n_types,
         | CAST(sum(list_sum(list_transform(syms, x -> length(x))) * cnt)
         |   AS BIGINT) AS n_chars,
         | CAST(sum(len(syms) * cnt) AS BIGINT) AS n_pieces,
         | round(CAST(sum(len(syms) * cnt) AS DOUBLE) /
         |   CAST(sum(cnt) AS DOUBLE), 4) AS pieces_per_word,
         | round(CAST(sum(list_sum(list_transform(syms, x -> length(x)))
         |     * cnt) AS DOUBLE) /
         |   CAST(sum(len(syms) * cnt) AS DOUBLE), 4) AS chars_per_piece
         |FROM s3""".stripMargin),

    Query("text_fertility", (s, d) => {
      // tokenizer fertility (BPE-ish pieces per whitespace word) BY
      // LANGUAGE — the aggregate tokenizer-choice audit over
      // text_token_count's per-doc signal: a language whose fertility
      // runs hot pays proportionally more context window. One exchange
      // on the |langs|-sized key; token counting stays map-side.
      val ws = size(TermOps.tokens(col("text"))).cast("long")
      val bpe = size(TermOps.tokens(col("text"), TermOps.Bpe)).cast("long")
      val chars = aggregate(
        transform(TermOps.tokens(col("text")), x => length(x).cast("long")),
        lit(0L), (a, x) => a + x)
      t(s, d, "documents")
        .groupBy("lang")
        .agg(sum(ws).as("n_ws"), sum(bpe).as("n_bpe"),
          sum(chars).as("n_tok_chars"))
        .select(col("lang"), col("n_ws"), col("n_bpe"),
          round(col("n_bpe").cast("double") /
            greatest(col("n_ws"), lit(1L)).cast("double"), 4).as("fertility"),
          round(col("n_tok_chars").cast("double") /
            greatest(col("n_ws"), lit(1L)).cast("double"), 4).as("avg_tok_len"))
    },
      """WITH b AS (
        | SELECT lang,
        |  CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS BIGINT) AS ws,
        |  CAST(len(list_filter(regexp_extract_all(lower(text),
        |   '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
        |   x -> x <> '')) AS BIGINT) AS bpe,
        |  CAST(coalesce(list_sum(list_transform(
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> ''), x -> length(x))), 0) AS BIGINT) AS tc
        | FROM documents)
        |SELECT lang, CAST(sum(ws) AS BIGINT) AS n_ws,
        | CAST(sum(bpe) AS BIGINT) AS n_bpe,
        | round(CAST(sum(bpe) AS DOUBLE) /
        |   CAST(greatest(sum(ws), 1) AS DOUBLE), 4) AS fertility,
        | round(CAST(sum(tc) AS DOUBLE) /
        |   CAST(greatest(sum(ws), 1) AS DOUBLE), 4) AS avg_tok_len
        |FROM b GROUP BY 1""".stripMargin),

    Query("text_oov_rate", (s, d) => {
      // tokenizer-vocabulary coverage: OOV fraction per doc against the
      // corpus dictionary (minDf ≥ 5) — the go/no-go before committing
      // a tokenizer; vocab is bounded so it broadcasts, corpus pays one
      // doc-keyed exchange
      val docs = t(s, d, "documents")
      TextAnalysisOps.oovProfile(docs, "doc_id", "text",
        TermOps.termStats(docs, "doc_id", "text", minDf = 5L)
          .select(col("term")))
    },
      s"""WITH dict AS (
         |  SELECT term FROM ($tfSub) GROUP BY term HAVING count(*) >= 5),
         |toks AS (
         |  SELECT doc_id, term FROM ($tokensSub) WHERE term <> ''),
         |j AS (
         |  SELECT t.doc_id,
         |   CASE WHEN d.term IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM toks t LEFT JOIN dict d USING (term))
         |SELECT doc_id, count(*) AS n_tokens,
         | CAST(sum(oov) AS BIGINT) AS n_oov,
         | round(CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
         |  AS oov_rate
         |FROM j GROUP BY doc_id""".stripMargin),

    Query("text_distinctive", (s, d) => {
      // per-lang distinctive terms: rank by lang-tf / corpus-df — the
      // integer-rational tf-idf proxy (one exact-rounded division, so
      // rank order replays identically in any engine; ties break on
      // term). The per-source vocabulary fingerprint a mixture planner
      // reads next to the KMV overlap matrix
      val toks = t(s, d, "documents").select(col("lang"), col("doc_id"),
        explode(TermOps.tokens(col("text"))).as("term"))
      val langTf = toks.groupBy(col("lang"), col("term"))
        .agg(count(lit(1)).as("tf_lang"))
      val dfc = toks.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df_corpus"))
      val w = Window.partitionBy(col("lang"))
        .orderBy((col("tf_lang").cast("double") / col("df_corpus")).desc,
          col("term").asc)
      langTf.join(dfc, Seq("term"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("lang"), col("term"), col("tf_lang"), col("df_corpus"),
          col("rank"))
    },
      """WITH toks AS (
        |  SELECT lang, doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tt AS (
        |  SELECT lang, term, count(*) AS tf_lang FROM toks GROUP BY lang, term),
        |dfc AS (
        |  SELECT term, count(*) AS df_corpus
        |  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term),
        |r AS (
        |  SELECT lang, tt.term, tf_lang, df_corpus,
        |   row_number() OVER (PARTITION BY lang
        |     ORDER BY CAST(tf_lang AS DOUBLE) / df_corpus DESC, tt.term)
        |     AS rank
        |  FROM tt JOIN dfc ON tt.term = dfc.term)
        |SELECT lang, term, CAST(tf_lang AS BIGINT) AS tf_lang,
        | CAST(df_corpus AS BIGINT) AS df_corpus, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 3""".stripMargin),

    Query("text_overlap_frac", (s, d) => {
      // graded decontamination: every 97th doc plays the benchmark set;
      // each corpus doc reports the fraction of its distinct 8-grams
      // that are benchmark-tainted (bench docs themselves score 1.0 —
      // the self-hit sanity rows)
      val docs = t(s, d, "documents")
      TextAnalysisOps.overlapFraction(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", n = 8)
    },
      // per-doc distinct 8-grams left-joined against the benchmark gram
      // set (string equality here; Spark probes 64-bit gram hashes — equal
      // relations barring an fnv64 collision, the contamination precedent)
      s"""$arrsSql,
        |$grams8Sql,
        |$benchGramHitsSql
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        | CAST(n_hits AS BIGINT) AS n_hits,
        | round(n_hits * 1.0 / n_grams, 4) AS frac
        |FROM j""".stripMargin)
  )
}
