package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKit._

/** Statistics and sketches (stats*, sketch*): one [[Query]] record per
  * query. */
private[graft] object Stats {

  /** One-row exact co-moments of `n_chars` per doc_id-parity arm — arm
    * 1 even, arm 2 odd: count n, Σx as s and Σx² as q (DECIMAL(38,0),
    * so no square can overflow). */
  private def parityMoments(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select((col("doc_id") % 2 === 0).as("arma"), col("n_chars"))
    docs.agg(
        sum(when(col("arma"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("arma"), col("n_chars")).otherwise(0L)).as("s1"),
        sum(when(col("arma"), (col("n_chars") * col("n_chars"))
            .cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("q1"),
        sum(when(!col("arma"), 1L).otherwise(0L)).as("n2"),
        sum(when(!col("arma"), col("n_chars")).otherwise(0L)).as("s2"),
        sum(when(!col("arma"), (col("n_chars") * col("n_chars"))
            .cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("q2"))
  }

  /** `arms` with the unbiased sample variances v1, v2 of both arms off
    * their exact (n, Σx as s, Σx² as q) co-moments. */
  private def withArmVariances(arms: DataFrame): DataFrame =
    arms
      .withColumn("v1", (col("n1").cast("double") * col("q1") -
          col("s1").cast("double") * col("s1")) /
        (col("n1").cast("double") * (col("n1") - 1)))
      .withColumn("v2", (col("n2").cast("double") * col("q2") -
          col("s2").cast("double") * col("s2")) /
        (col("n2").cast("double") * (col("n2") - 1)))

  /** The documents ranked within their language: `r`, the row number
    * in (n_chars, doc_id) order, and `n`, the language's doc count —
    * the exact rank-rule quantile convention. */
  private def langRanked(s: SparkSession, d: String): DataFrame = {
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    t(s, d, "documents")
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("r", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
  }

  /** CTE `b` (bucket, rest): each non-null user's 32-bit FNV hash split
    * into its 64-register bucket and the remaining bits, as a WITH
    * prefix — the HLL register input. */
  private val hllBucketsSql =
    s"""WITH b AS (
       |  SELECT CAST(fu % 64 AS BIGINT) AS bucket,
       |   CAST(fu // 64 AS BIGINT) AS rest
       |  FROM (SELECT ${fnvSql("CAST(user_id AS VARCHAR) || '#hll'")}
       |          % 4294967296::HUGEINT AS fu
       |        FROM events WHERE user_id IS NOT NULL))""".stripMargin

  /** Rank-exact two-sample KS per event type (even vs odd event_ids)
    * — shared by stats_drift (the monitor) and stats_fdr (the
    * multiple-testing correction over those monitors). */
  private lazy val ksDriftSql: String =
    """WITH cells AS (
      |  SELECT event_type, value AS v,
      |   CAST(count(*) FILTER (WHERE event_id % 2 = 0) AS BIGINT) AS ca,
      |   CAST(count(*) FILTER (WHERE event_id % 2 = 1) AS BIGINT) AS cb
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS n_a,
      |   CAST(sum(cb) AS BIGINT) AS n_b FROM cells GROUP BY 1),
      |c AS (SELECT event_type,
      |   CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY v)
      |     AS BIGINT) AS cuma,
      |   CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v)
      |     AS BIGINT) AS cumb
      |  FROM cells)
      |SELECT c.event_type, t.n_a, t.n_b,
      | round(max(abs(CAST(cuma AS DOUBLE) / CAST(n_a AS DOUBLE)
      |   - CAST(cumb AS DOUBLE) / CAST(n_b AS DOUBLE))), 6) AS ks
      |FROM c JOIN t USING (event_type)
      |GROUP BY 1, 2, 3""".stripMargin

  val all: Seq[Query] = Seq(
    Query("stats_profile", (s, d) =>
      TextAnalysisOps.corpusProfile(t(s, d, "documents"), "lang", "n_chars"),
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | round(avg(n_chars), 4) AS mean_val,
        | round(quantile_cont(n_chars, 0.5), 4) AS p50,
        | round(quantile_cont(n_chars, 0.9), 4) AS p90,
        | round(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents GROUP BY lang""".stripMargin),

    Query("stats_gini", (s, d) => {
      // Gini concentration of per-user event counts — the "is my corpus
      // owned by a few heavy keys" balance audit. G = 2·Σ i·cᵢ/(n·Σc) −
      // (n+1)/n over ascending-sorted counts: integer sums until ONE
      // final division, and the rank comes from PackOps.exactRank so
      // even the O(keys) aggregate never needs a global-sort window
      val counts = t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("c"))
      PackOps.exactRank(counts, "c", "user_id")
        .agg(count(lit(1)).as("n_users"), sum(col("c")).as("total"),
          sum(col("rank") * col("c")).as("ic"))
        .select(col("n_users"), col("total"),
          round(lit(2.0) * col("ic") / (col("n_users") * col("total")) -
            (col("n_users") + 1).cast("double") / col("n_users"), 6)
            .as("gini"))
    },
      // Gini over per-user activity: integer sums, one final division;
      // 2.0·Σic/(n·Σc) − (n+1)/n with identical operation order
      """WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM c)
        |SELECT count(*) AS n_users, CAST(sum(c) AS BIGINT) AS total,
        | round(2.0 * sum(i * c) / (count(*) * sum(c)) -
        |   (count(*) + 1) * 1.0 / count(*), 6) AS gini
        |FROM r""".stripMargin),

    Query("stats_qnorm", (s, d) => {
      // cross-source quantile calibration: a quality threshold tuned on
      // one source transfers only if "top 10% of src3" means the same
      // thing globally — pr_src is the within-source percent_rank
      // (partitioned window, scale-safe), pr_global comes from the
      // distributed exactRank, and delta is the calibration gap a
      // curation gate must correct for
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), col("source"))
      val n = docs.count()
      val wSrc = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      PackOps.exactRank(docs, "n_chars", "doc_id")
        .withColumn("pr_src", percent_rank().over(wSrc))
        .select(col("doc_id"), col("source"),
          round(col("pr_src"), 6).as("pr_src"),
          round((col("rank") - 1).cast("double") / lit((n - 1).toDouble), 6)
            .as("pr_global"))
        .withColumn("delta", round(col("pr_src") - col("pr_global"), 6))
    },
      // delta compares the ROUNDED percentiles (the Spark side rounds
      // before differencing), so the oracle mirrors round(round − round)
      """WITH g AS (
        |  SELECT doc_id, source,
        |   percent_rank() OVER (PARTITION BY source
        |     ORDER BY n_chars, doc_id) AS pr_src,
        |   (CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS DOUBLE)
        |     - 1) / (count(*) OVER () - 1) AS prg
        |  FROM documents)
        |SELECT doc_id, source, round(pr_src, 6) AS pr_src,
        | round(prg, 6) AS pr_global,
        | round(round(pr_src, 6) - round(prg, 6), 6) AS delta
        |FROM g""".stripMargin),

    Query("stats_bootstrap", (s, d) => {
      // Poisson bootstrap (the distributed resampling scheme: per-doc
      // resample weights ~ Poisson(1), no global sampling state) for
      // the mean doc length, 32 resamples. Weights come from an integer
      // inverse-CDF: hash32(doc_id·32+b+1) against floor(CDF·2³²)
      // thresholds — all-integer branch, engine-exact; Σw and Σw·x are
      // integers, mean_b is one double division. One (b)-keyed exchange
      // after map-side combine; B multiplies map work, not shuffle keys
      val T = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
        4279248373L, 4292415291L)
      t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(31))).as("b"))
        .withColumn("h",
          SimilarityOps.hash32Col(col("doc_id") * 32 + col("b") + 1))
        .withColumn("w",
          when(col("h") < T(0), 0L).when(col("h") < T(1), 1L)
            .when(col("h") < T(2), 2L).when(col("h") < T(3), 3L)
            .when(col("h") < T(4), 4L).when(col("h") < T(5), 5L)
            .otherwise(6L))
        .groupBy(col("b"))
        .agg(sum(col("w")).as("sum_w"),
          sum(col("w") * col("n_chars")).as("sum_wx"))
        .select(col("b"), col("sum_w"), col("sum_wx"),
          round(col("sum_wx").cast("double") / col("sum_w"), 6)
            .as("mean_b"))
    },
      // Poisson(1) inverse-CDF on INTEGER thresholds floor(CDF·2^32) —
      // the branch is integer-exact on both engines; only mean_b divides
      s"""WITH e AS (
         |  SELECT doc_id, n_chars, unnest(range(0, 32)) AS b
         |  FROM documents),
         |h AS (SELECT b, n_chars,
         |       ${hash32Sql("(doc_id*32 + b + 1)")} AS h FROM e),
         |w AS (SELECT b, n_chars,
         |  CASE WHEN h < 1580030168 THEN 0 WHEN h < 3160060337 THEN 1
         |       WHEN h < 3950075421 THEN 2 WHEN h < 4213413783 THEN 3
         |       WHEN h < 4279248373 THEN 4 WHEN h < 4292415291 THEN 5
         |       ELSE 6 END AS w FROM h)
         |SELECT CAST(b AS INT) AS b, CAST(sum(w) AS BIGINT) AS sum_w,
         | CAST(sum(w * n_chars) AS BIGINT) AS sum_wx,
         | round(CAST(sum(w * n_chars) AS DOUBLE) / sum(w), 6) AS mean_b
         |FROM w GROUP BY 1""".stripMargin),

    Query("stats_divergence", (s, d) =>
      // corpus-slice divergence: KL/JS between English and the rest
      // over the DSIR bucket convention — the audit that quantifies how
      // non-representative a slice is before mixture reweighting
      TextAnalysisOps.unigramDivergence(t(s, d, "documents"), "text",
        col("lang") === "en", dim = 64),
      // DSIR bucket convention (fnv64 % 64); the three Σ p·log2(p/q)
      // reductions are bucket-ordered folds with ln(x)/ln(2.0) exactly as
      // Spark computes log base 2
      s"""WITH toks AS (
         |  SELECT (lang = 'en') AS a,
         |   unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
         |  FROM documents),
         |tb AS (SELECT a, CAST(${fnvSql("term")} % 64 AS INT) AS bucket
         |       FROM toks WHERE term <> ''),
         |cells AS (SELECT bucket,
         |   CAST(count(*) FILTER (a) AS BIGINT) AS ca,
         |   CAST(count(*) FILTER (NOT a) AS BIGINT) AS cb
         |  FROM tb GROUP BY bucket),
         |grid AS (SELECT g.bucket, coalesce(c.ca, 0) AS ca,
         |         coalesce(c.cb, 0) AS cb
         |  FROM (SELECT unnest(range(0, 64)) AS bucket) g
         |  LEFT JOIN cells c USING (bucket)),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         |         CAST(sum(cb) AS BIGINT) AS n_b,
         |         list(ca ORDER BY bucket) AS la,
         |         list(cb ORDER BY bucket) AS lb FROM grid)
         |SELECT n_a, n_b,
         | round(list_reduce(list_prepend(0.0::DOUBLE,
         |   list_transform(range(1, 65), i ->
         |    (CAST(la[i]+1 AS DOUBLE)/CAST(n_a+64 AS DOUBLE)) *
         |    (ln((CAST(la[i]+1 AS DOUBLE)/CAST(n_a+64 AS DOUBLE)) /
         |        (CAST(lb[i]+1 AS DOUBLE)/CAST(n_b+64 AS DOUBLE)))
         |     / ln(2.0::DOUBLE)))),
         |   (acc, x) -> acc + x), 6) AS kl_ab,
         | round(list_reduce(list_prepend(0.0::DOUBLE,
         |   list_transform(range(1, 65), i ->
         |    (CAST(lb[i]+1 AS DOUBLE)/CAST(n_b+64 AS DOUBLE)) *
         |    (ln((CAST(lb[i]+1 AS DOUBLE)/CAST(n_b+64 AS DOUBLE)) /
         |        (CAST(la[i]+1 AS DOUBLE)/CAST(n_a+64 AS DOUBLE)))
         |     / ln(2.0::DOUBLE)))),
         |   (acc, x) -> acc + x), 6) AS kl_ba,
         | round(list_reduce(list_prepend(0.0::DOUBLE,
         |   list_transform(range(1, 65), i ->
         |    ((CAST(la[i]+1 AS DOUBLE)/CAST(n_a+64 AS DOUBLE)) *
         |     (ln((CAST(la[i]+1 AS DOUBLE)/CAST(n_a+64 AS DOUBLE)) /
         |         ((CAST(la[i]+1 AS DOUBLE)/CAST(n_a+64 AS DOUBLE) +
         |           CAST(lb[i]+1 AS DOUBLE)/CAST(n_b+64 AS DOUBLE)) / 2.0))
         |      / ln(2.0::DOUBLE)) +
         |     (CAST(lb[i]+1 AS DOUBLE)/CAST(n_b+64 AS DOUBLE)) *
         |     (ln((CAST(lb[i]+1 AS DOUBLE)/CAST(n_b+64 AS DOUBLE)) /
         |         ((CAST(la[i]+1 AS DOUBLE)/CAST(n_a+64 AS DOUBLE) +
         |           CAST(lb[i]+1 AS DOUBLE)/CAST(n_b+64 AS DOUBLE)) / 2.0))
         |      / ln(2.0::DOUBLE))) / 2.0)),
         |   (acc, x) -> acc + x), 6) AS js
         |FROM tot""".stripMargin),

    Query("stats_spearman", (s, d) => {
      // monotone drift audit: Spearman rank correlation between event
      // VALUE and event TIME per event_type — "is this metric trending"
      // without assuming linearity. Ranks are doubled average ranks
      // (2·rank + ties − 1: integral even under ties; Pearson is
      // scale-invariant so ρ is unchanged), so every sum is an exact
      // integer and the only doubles are in the one final expression,
      // written operand-for-operand the same on both engines. Plan
      // shape: ONE event_type exchange feeds both rank windows (tsec is
      // near-unique, so the PackOps.avgRank2 histogram would BE the
      // corpus here — measured 3.3× on the ×10 replica vs 1.3× for the
      // direct partitioned windows; avgRank2 stays the right tool for
      // ties-heavy value domains), then one group-agg.
      val ev = t(s, d, "events").select(col("event_type"),
        expr("CAST(ts AS LONG)").as("tsec"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      def r2(v: String) =
        lit(2L) * rank().over(
          Window.partitionBy("event_type").orderBy(col(v))) +
          count(lit(1)).over(Window.partitionBy("event_type", v)) - 1
      ev.withColumn("r2x", r2("tsec")).withColumn("r2y", r2("cents"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("r2x")).as("sx"), sum(col("r2y")).as("sy"),
          sum(col("r2x") * col("r2y")).as("sxy"),
          sum(col("r2x") * col("r2x")).as("sxx"),
          sum(col("r2y") * col("r2y")).as("syy"))
        .select(col("event_type"), col("n"),
          round((col("n").cast("double") * col("sxy") -
              col("sx").cast("double") * col("sy")) /
            (sqrt(col("n").cast("double") * col("sxx") -
                col("sx").cast("double") * col("sx")) *
              sqrt(col("n").cast("double") * col("syy") -
                col("sy").cast("double") * col("sy"))), 6).as("spearman"))
    },
      // doubled average ranks (2·rank + ties − 1) keep every sum integral;
      // the final expression is written operand-for-operand as the engine's
      """WITH ev AS (SELECT event_type, epoch_us(ts) // 1000000 AS tsec,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type,
        |   2 * rank() OVER (PARTITION BY event_type ORDER BY tsec)
        |     + count(*) OVER (PARTITION BY event_type, tsec) - 1 AS r2x,
        |   2 * rank() OVER (PARTITION BY event_type ORDER BY cents)
        |     + count(*) OVER (PARTITION BY event_type, cents) - 1 AS r2y
        |  FROM ev),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(r2x) AS BIGINT) AS sx, CAST(sum(r2y) AS BIGINT) AS sy,
        |   CAST(sum(r2x * r2y) AS BIGINT) AS sxy,
        |   CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
        |   CAST(sum(r2y * r2y) AS BIGINT) AS syy
        |  FROM r GROUP BY 1)
        |SELECT event_type, n,
        | round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |   (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |    sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
        |   AS spearman
        |FROM a""".stripMargin),

    Query("stats_analyze", (s, d) => {
      // ANALYZE-style one-pass column statistics — rows, nulls, exact
      // NDV, min/max per column: the CBO inputs every engine collects
      // before planning. ONE aggregation pass (the four distinct counts
      // share a single Expand+shuffle); the per-column long format is an
      // explode over the already-aggregated single row, so no second
      // scan and no per-column job.
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_type"))
      def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
      val one = ev.agg(count(lit(1)).as("n_rows"),
        nulls("event_id").as("u1"), countDistinct(col("event_id")).as("d1"),
        min("event_id").as("mi1"), max("event_id").as("ma1"),
        nulls("user_id").as("u2"), countDistinct(col("user_id")).as("d2"),
        min("user_id").as("mi2"), max("user_id").as("ma2"),
        nulls("cents").as("u3"), countDistinct(col("cents")).as("d3"),
        min("cents").as("mi3"), max("cents").as("ma3"),
        nulls("event_type").as("u4"), countDistinct(col("event_type")).as("d4"))
      one.select(col("n_rows"), explode(array(
          struct(lit("event_id").as("col_name"), col("u1").as("n_nulls"),
            col("d1").as("ndv"), col("mi1").as("min_v"), col("ma1").as("max_v")),
          struct(lit("user_id").as("col_name"), col("u2").as("n_nulls"),
            col("d2").as("ndv"), col("mi2").as("min_v"), col("ma2").as("max_v")),
          struct(lit("cents").as("col_name"), col("u3").as("n_nulls"),
            col("d3").as("ndv"), col("mi3").as("min_v"), col("ma3").as("max_v")),
          struct(lit("event_type").as("col_name"), col("u4").as("n_nulls"),
            col("d4").as("ndv"), lit(null).cast("long").as("min_v"),
            lit(null).cast("long").as("max_v")))).as("c"))
        .select(col("c.col_name").as("col_name"), col("n_rows"),
          col("c.n_nulls").as("n_nulls"), col("c.ndv").as("ndv"),
          col("c.min_v").as("min_v"), col("c.max_v").as("max_v"))
    },
      // the engine's one-pass ANALYZE, replayed as one aggregate + unpivot
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents, event_type
        |  FROM events),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u1,
        |  count(DISTINCT event_id) AS d1, min(event_id) AS mi1, max(event_id) AS ma1,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u2,
        |  count(DISTINCT user_id) AS d2, min(user_id) AS mi2, max(user_id) AS ma2,
        |  CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u3,
        |  count(DISTINCT cents) AS d3, min(cents) AS mi3, max(cents) AS ma3,
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS u4,
        |  count(DISTINCT event_type) AS d4
        | FROM ev)
        |SELECT 'event_id' AS col_name, n_rows, u1 AS n_nulls, d1 AS ndv,
        |  mi1 AS min_v, ma1 AS max_v FROM a
        |UNION ALL SELECT 'user_id', n_rows, u2, d2, mi2, ma2 FROM a
        |UNION ALL SELECT 'cents', n_rows, u3, d3, mi3, ma3 FROM a
        |UNION ALL SELECT 'event_type', n_rows, u4, d4,
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM a""".stripMargin),

    Query("stats_welch", (s, d) => {
      // Welch's t per source vs the REST of the corpus (the A/B quality
      // audit behind "did source X drift"): means and variances from
      // exact integer (n, Σx, Σx²) co-moments — the totals RE-AGGREGATE
      // the O(sources) per-source moments and the rest-side moments are
      // SUBTRACTED from the one-row broadcast total, so the corpus is
      // scanned and aggregated exactly once. The t statistic is one
      // mirrored double expression; n²-products are cast to double
      // first (mirrored) so no LONG overflow at any SF. The Σx²
      // accumulator is DECIMAL(38,0): per-row squares fit a long, but
      // their corpus sum passes 2^63 near 4·10^11 docs — DuckDB's
      // sum(BIGINT) is already HUGEINT, so the decimal sum mirrors it
      // exactly and the downstream double products see the same value.
      val docs = t(s, d, "documents").select(col("source"), col("n_chars"))
      val bySrc = docs.groupBy("source").agg(count(lit(1)).as("n1"),
        sum("n_chars").as("s1"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)"))
          .as("q1"))
        .localCheckpoint() // two consumers (totals re-agg + the t join)
      val tot = bySrc.agg(sum("n1").as("nt"), sum("s1").as("st"),
        sum("q1").as("qt"))
      bySrc.crossJoin(broadcast(tot))
        .withColumn("n2", col("nt") - col("n1"))
        .withColumn("s2", col("st") - col("s1"))
        .withColumn("q2", col("qt") - col("q1"))
        .filter(col("n1") > 1 && col("n2") > 1)
        .withColumn("m1", col("s1").cast("double") / col("n1"))
        .withColumn("m2", col("s2").cast("double") / col("n2"))
        .transform(withArmVariances)
        .select(col("source"), col("n1").as("n"),
          round(col("m1"), 6).as("mean_chars"),
          round((col("m1") - col("m2")) /
            sqrt(col("v1") / col("n1") + col("v2") / col("n2")), 6)
            .as("welch_t"))
    },
      // rest-side moments subtracted from the total; every product cast
      // to double operand-for-operand as the engine writes it
      """WITH b AS (SELECT source, CAST(count(*) AS BIGINT) AS n1,
        |    CAST(sum(n_chars) AS BIGINT) AS s1,
        |    sum(n_chars * n_chars) AS q1
        |  FROM documents GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS nt,
        |    CAST(sum(n_chars) AS BIGINT) AS st,
        |    sum(n_chars * n_chars) AS qt FROM documents),
        |j AS (SELECT source, n1, s1, q1, nt - n1 AS n2, st - s1 AS s2,
        |       qt - q1 AS q2 FROM b, tt WHERE n1 > 1 AND nt - n1 > 1),
        |f AS (SELECT source, n1,
        |   CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
        |   (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
        |     / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS v1,
        |   (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
        |     / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS v2,
        |   n2 FROM j)
        |SELECT source, n1 AS n, round(m1, 6) AS mean_chars,
        | round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS welch_t
        |FROM f""".stripMargin),

    Query("stats_psi", (s, d) => {
      // population stability index between the first and second half of
      // the event-time span — the MLOps-standard binned drift score
      // beside the rank-exact KS and the JS divergence: clamped
      // fixed-width value bins (101 of them), add-one smoothing on the
      // full grid so empty bins enter finitely, PSI = Σ (p−q)·ln(p/q)
      // as one ORDERED fold (the stats_divergence convention). Exact
      // integer counts until the fold.
      val ev = t(s, d, "events")
        .select(expr("CAST(ts AS LONG) div 86400").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val mid = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val binned = ev.crossJoin(broadcast(mid))
        .withColumn("h", when(col("day") <= col("mid"), 0).otherwise(1))
        .withColumn("b", greatest(lit(-50L),
          least(lit(50L), expr("cents div 100"))))
        .groupBy("h", "b").agg(count(lit(1)).as("c"))
        .localCheckpoint() // totals + the grid join
      val tot = binned.groupBy("h").agg(sum("c").as("n"))
      val grid = binned.sparkSession.range(-50, 51)
        .select(col("id").as("b"))
        .join(binned.filter(col("h") === 0)
          .select(col("b"), col("c").as("c0")), Seq("b"), "left_outer")
        .join(binned.filter(col("h") === 1)
          .select(col("b"), col("c").as("c1")), Seq("b"), "left_outer")
        .select(col("b"), coalesce(col("c0"), lit(0L)).as("c0"),
          coalesce(col("c1"), lit(0L)).as("c1"))
      val n0 = tot.filter(col("h") === 0).select(col("n").as("n0"))
      val n1 = tot.filter(col("h") === 1).select(col("n").as("n1"))
      grid.crossJoin(broadcast(n0)).crossJoin(broadcast(n1))
        .agg(max(col("n0")).as("n_ref"), max(col("n1")).as("n_cur"),
          count(lit(1)).as("n_bins"),
          array_sort(collect_list(struct(col("b"), col("c0"), col("c1"),
            col("n0"), col("n1")))).as("arr"))
        .select(col("n_ref"), col("n_cur"), col("n_bins"),
          round(aggregate(col("arr"), lit(0.0d), (acc, x) => {
            val p = (x.getField("c0").cast("double") + 1) /
              (x.getField("n0") + 101)
            val q = (x.getField("c1").cast("double") + 1) /
              (x.getField("n1") + 101)
            acc + (p - q) * log(p / q)
          }), 6).as("psi"))
    },
      // full-grid add-one smoothing; the PSI fold is ordered over the
      // 101 bins with every operand mirrored (ln on identical doubles)
      """WITH ev AS (SELECT epoch_us(ts) // 1000000 // 86400 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT (min(day) + max(day)) // 2 AS mid FROM ev),
        |bn AS (SELECT CASE WHEN day <= mid THEN 0 ELSE 1 END AS h,
        |        greatest(-50, least(50, cents // 100)) AS b,
        |        CAST(count(*) AS BIGINT) AS c
        |       FROM ev, m GROUP BY 1, 2),
        |tot AS (SELECT h, CAST(sum(c) AS BIGINT) AS n FROM bn GROUP BY 1),
        |grid AS (SELECT g.b, coalesce(b0.c, 0) AS c0,
        |         coalesce(b1.c, 0) AS c1
        |        FROM (SELECT unnest(generate_series(-50, 50)) AS b) g
        |        LEFT JOIN bn b0 ON b0.h = 0 AND b0.b = g.b
        |        LEFT JOIN bn b1 ON b1.h = 1 AND b1.b = g.b),
        |nn0 AS (SELECT n AS n0 FROM tot WHERE h = 0),
        |nn1 AS (SELECT n AS n1 FROM tot WHERE h = 1),
        |ag AS (SELECT CAST(max(n0) AS BIGINT) AS n_ref,
        |        CAST(max(n1) AS BIGINT) AS n_cur,
        |        CAST(count(*) AS BIGINT) AS n_bins,
        |        list([CAST(b AS DOUBLE), CAST(c0 AS DOUBLE),
        |              CAST(c1 AS DOUBLE), CAST(n0 AS DOUBLE),
        |              CAST(n1 AS DOUBLE)] ORDER BY b) AS arr
        |       FROM grid, nn0, nn1)
        |SELECT n_ref, n_cur, n_bins,
        | round(list_reduce(list_prepend(0.0::DOUBLE,
        |   list_transform(arr, x ->
        |     ((x[2] + 1.0::DOUBLE) / (x[4] + 101.0::DOUBLE)
        |      - (x[3] + 1.0::DOUBLE) / (x[5] + 101.0::DOUBLE))
        |     * ln(((x[2] + 1.0::DOUBLE) / (x[4] + 101.0::DOUBLE))
        |        / ((x[3] + 1.0::DOUBLE) / (x[5] + 101.0::DOUBLE))))),
        |   (acc, v) -> acc + v), 6) AS psi
        |FROM ag""".stripMargin),

    Query("stats_runs_test", (s, d) => {
      // Wald–Wolfowitz runs test on the daily up/down sequence per
      // event_type — the randomness monitor beside the trend kit (MK
      // asks "is it drifting", this asks "is it even random": too few
      // runs = momentum/regime, too many = oscillation). Signs from
      // day-over-day deltas on the dense grid (zeros drop, the
      // standard convention); R, n1, n2 are exact integers off two lag
      // windows; μ/σ are rationals of those integers and z uses only
      // IEEE-exact division and sqrt.
      val grid = dailyGrid(s, d)
      val w = Window.partitionBy("event_type").orderBy("day")
      val signs = grid
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull && col("c") =!= col("prev"))
        .withColumn("sgn", when(col("c") > col("prev"), 1).otherwise(-1))
      val runs = signs
        .withColumn("psgn", lag(col("sgn"), 1).over(w))
        .groupBy("event_type")
        .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n2"),
          (sum(when(col("psgn").isNull ||
            col("psgn") =!= col("sgn"), 1L).otherwise(0L))).as("r"))
      runs.filter(col("n1") > 0 && col("n2") > 0)
        .withColumn("nn", (col("n1") + col("n2")).cast("double"))
        .withColumn("mu",
          lit(2.0) * col("n1") * col("n2") / col("nn") + 1.0)
        .withColumn("v", lit(2.0) * col("n1") * col("n2") *
          (lit(2.0) * col("n1") * col("n2") - col("nn")) /
          (col("nn") * col("nn") * (col("nn") - 1.0)))
        .filter(col("v") > 0)
        .select(col("event_type"), col("n1"), col("n2"), col("r"),
          round(col("mu"), 6).as("mu_runs"),
          round((col("r").cast("double") - col("mu")) / sqrt(col("v")), 6)
            .as("z"))
    },
      // R/n1/n2 exact integers off two lag windows over the compressed
      // sign sequence; z uses IEEE-exact division/sqrt only
      s"""$dailyGridSql,
        |s1 AS (SELECT event_type, day, c,
        |   lag(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev
        |  FROM grid),
        |sg AS (SELECT event_type, day,
        |   CASE WHEN c > prev THEN 1 ELSE -1 END AS sgn
        |  FROM s1 WHERE prev IS NOT NULL AND c <> prev),
        |rr AS (SELECT event_type, sgn,
        |   lag(sgn, 1) OVER (PARTITION BY event_type ORDER BY day) AS psgn
        |  FROM sg),
        |ag AS (SELECT event_type,
        |   CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |   CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |   CAST(sum(CASE WHEN psgn IS NULL OR psgn <> sgn
        |     THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM rr GROUP BY 1),
        |f AS (SELECT event_type, n1, n2, r,
        |   CAST(n1 + n2 AS DOUBLE) AS nn,
        |   2.0::DOUBLE * n1 * n2 / CAST(n1 + n2 AS DOUBLE) + 1.0 AS mu,
        |   2.0::DOUBLE * n1 * n2 *
        |     (2.0::DOUBLE * n1 * n2 - CAST(n1 + n2 AS DOUBLE)) /
        |     (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE) *
        |      (CAST(n1 + n2 AS DOUBLE) - 1.0)) AS v
        |  FROM ag WHERE n1 > 0 AND n2 > 0)
        |SELECT event_type, n1, n2, r, round(mu, 6) AS mu_runs,
        | round((CAST(r AS DOUBLE) - mu) / sqrt(v), 6) AS z
        |FROM f WHERE v > 0""".stripMargin),

    Query("stats_prop_ztest", (s, d) => {
      // two-proportion z-test on user conversion between the even/odd
      // arms — the proportions sibling of stats_welch (means) and
      // stats_power (pre-flight): the A/B readout for binary metrics.
      // "Converted" = ≥1 HIGH-VALUE purchase (≥ 95.00 — plain ≥1
      // purchase saturates at 100% on this corpus and the z-test
      // degenerates). Counts are exact integers; the pooled-variance
      // z uses only IEEE-exact division and sqrt — no libm surface.
      // One user-keyed aggregation, then a one-row fold.
      val conv = t(s, d, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" &&
            round(col("value") * 100) >= 9500, 1L).otherwise(0L))
          .as("converted"))
        .withColumn("arma", col("user_id") % 2 === 0)
      conv.agg(
          sum(when(col("arma"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("arma"), col("converted")).otherwise(0L)).as("x1"),
          sum(when(!col("arma"), 1L).otherwise(0L)).as("n2"),
          sum(when(!col("arma"), col("converted")).otherwise(0L)).as("x2"))
        .withColumn("p1", col("x1").cast("double") / col("n1"))
        .withColumn("p2", col("x2").cast("double") / col("n2"))
        .withColumn("pp", (col("x1") + col("x2")).cast("double") /
          (col("n1") + col("n2")).cast("double"))
        .filter(col("pp") > 0 && col("pp") < 1)
        .withColumn("z", (col("p1") - col("p2")) /
          sqrt(col("pp") * (lit(1.0) - col("pp")) *
            (lit(1.0) / col("n1") + lit(1.0) / col("n2"))))
        .select(col("n1"), col("x1"), col("n2"), col("x2"),
          round(col("p1"), 6).as("p1"), round(col("p2"), 6).as("p2"),
          round(col("z"), 6).as("z"))
    },
      // exact integer cells, mirrored divisions, IEEE-exact sqrt
      """WITH conv AS (SELECT user_id,
        |   CAST(max(CASE WHEN event_type = 'purchase'
        |     AND round(value * 100) >= 9500 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS converted,
        |   user_id % 2 = 0 AS arma
        |  FROM events GROUP BY user_id),
        |a AS (SELECT
        |   CAST(sum(CASE WHEN arma THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |   CAST(sum(CASE WHEN arma THEN converted ELSE 0 END) AS BIGINT)
        |     AS x1,
        |   CAST(sum(CASE WHEN NOT arma THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n2,
        |   CAST(sum(CASE WHEN NOT arma THEN converted ELSE 0 END)
        |     AS BIGINT) AS x2
        |  FROM conv),
        |f AS (SELECT n1, x1, n2, x2,
        |   CAST(x1 AS DOUBLE) / n1 AS p1, CAST(x2 AS DOUBLE) / n2 AS p2,
        |   CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS pp
        |  FROM a)
        |SELECT n1, x1, n2, x2, round(p1, 6) AS p1, round(p2, 6) AS p2,
        | round((p1 - p2) / sqrt(pp * (1.0::DOUBLE - pp) *
        |   (1.0::DOUBLE / n1 + 1.0::DOUBLE / n2)), 6) AS z
        |FROM f WHERE pp > 0 AND pp < 1""".stripMargin),

    Query("stats_mann_kendall", (s, d) => {
      // Mann-Kendall trend test per event_type over the dense daily
      // count series — the nonparametric "is this metric drifting"
      // monitor (no linearity or normality assumption; the t17_ols
      // slope's distribution-free sibling). S = Σ_{i<j} sign(c_j−c_i)
      // and the tie-corrected variance are EXACT integers off the
      // O(days²)-per-type pair join (days ≈ 31 — the grid tier, never
      // the corpus); z's one division and sqrt are IEEE-exact both
      // engines, so the statistic replays bit-identically.
      val grid = dailyGrid(s, d)
        .localCheckpoint() // three consumers: pairs ×2 sides + ties
      val a = grid.select(col("event_type"), col("day").as("di"),
        col("c").as("ci"))
      val b = grid.select(col("event_type"), col("day").as("dj"),
        col("c").as("cj"))
      val sPairs = a.join(b, Seq("event_type"))
        .filter(col("di") < col("dj"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cj") > col("ci"), 1L)
            .when(col("cj") < col("ci"), -1L).otherwise(0L)).as("s"))
      val base = grid.groupBy("event_type").agg(count(lit(1)).as("n"))
      val ties = grid.groupBy("event_type", "c")
        .agg(count(lit(1)).as("tt"))
        .groupBy("event_type")
        .agg(sum(col("tt") * (col("tt") - 1) * (lit(2L) * col("tt") + 5))
          .as("tie_term"))
      sPairs.join(base, "event_type").join(ties, "event_type")
        .withColumn("var_s",
          (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) -
            col("tie_term")).cast("double") / 18.0)
        .filter(col("var_s") > 0)
        .withColumn("z",
          when(col("s") > 0, (col("s").cast("double") - 1) /
            sqrt(col("var_s")))
            .when(col("s") < 0, (col("s").cast("double") + 1) /
              sqrt(col("var_s")))
            .otherwise(lit(0.0)))
        .select(col("event_type"), col("n"), col("s"),
          round(col("var_s"), 6).as("var_s"), round(col("z"), 6).as("z"))
    },
      // integer S and tie-corrected variance off the dense-grid pair
      // join; the one division and sqrt are IEEE-exact
      s"""$dailyGridMaterializedSql,
        |sp AS (SELECT a.event_type,
        |   CAST(sum(CASE WHEN b.c > a.c THEN 1
        |                 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM grid a JOIN grid b
        |  ON a.event_type = b.event_type AND a.day < b.day GROUP BY 1),
        |base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |         FROM grid GROUP BY 1),
        |ties AS (SELECT event_type,
        |   CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT event_type, c, count(*) AS t FROM grid
        |        GROUP BY 1, 2) q GROUP BY 1),
        |f AS (SELECT sp.event_type, n, s,
        |   CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0
        |     AS var_s
        |  FROM sp JOIN base USING (event_type) JOIN ties USING (event_type))
        |SELECT event_type, n, s, round(var_s, 6) AS var_s,
        | round(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(var_s)
        |            WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(var_s)
        |            ELSE 0.0 END, 6) AS z
        |FROM f WHERE var_s > 0""".stripMargin),

    Query("stats_friedman", (s, d) => {
      // Friedman test: do the event types rank consistently across
      // days? — the repeated-measures companion to stats_kruskal
      // (blocks = days, treatments = event types, response = daily
      // cent volume; zero-filled on the dense grid so every block
      // ranks all k treatments). Doubled average ranks (2·rank +
      // ties − 1, the spearman/kruskal convention) keep every sum
      // integral; Σ R2_t² folds in event_type order (the r14
      // ordered-fold discipline); the tie correction divides by
      // n·(k³−k) with Σ(t³−t) summed over per-block tie groups — all
      // exact integers until the two mirrored final divisions.
      val daily = t(s, d, "events")
        .select(col("event_type"),
          expr("CAST(ts AS LONG) div 86400").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
      val types = daily.select("event_type").distinct()
      val days = daily.select("day").distinct()
      val grid = types.crossJoin(days)
        .join(daily, Seq("event_type", "day"), "left_outer")
        .withColumn("x", coalesce(col("x"), lit(0L)))
      val r2 = grid
        .withColumn("r2",
          lit(2L) * rank().over(
            Window.partitionBy("day").orderBy(col("x"))) +
            count(lit(1)).over(Window.partitionBy("day", "x")) - 1)
      val byType = r2.groupBy("event_type")
        .agg(count(lit(1)).as("n_b"), sum(col("r2")).as("rr2"))
      val tieSum = grid.groupBy("day", "x").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
          lit(0L)).as("tie3"))
      byType
        .agg(count(lit(1)).as("k"), max(col("n_b")).as("n"),
          array_sort(collect_list(struct(col("event_type"), col("rr2"))))
            .as("arr"))
        .withColumn("sr2", expr(
          """aggregate(arr, 0.0D, (acc, x) ->
            |  acc + CAST(x.rr2 AS DOUBLE) * CAST(x.rr2 AS DOUBLE))"""
            .stripMargin))
        .crossJoin(broadcast(tieSum))
        // R = R2/2 ⇒ 12/(nk(k+1))·ΣR² − 3n(k+1) = 3·ΣR2²/(nk(k+1)) − 3n(k+1)
        .withColumn("chi2",
          lit(3.0) * col("sr2") /
            (col("n").cast("double") * col("k") * (col("k") + 1)) -
            lit(3.0) * col("n").cast("double") * (col("k") + 1))
        .withColumn("cc", lit(1.0) - col("tie3").cast("double") /
          (col("n").cast("double") *
            (col("k").cast("double") * col("k") * col("k") - col("k"))))
        .filter(col("cc") > 0)
        .select(col("k").cast("int").as("k"), col("n").cast("long").as("n"),
          round(col("chi2"), 6).as("chi2"),
          round(col("chi2") / col("cc"), 6).as("chi2_tie_corrected"))
    },
      // doubled average ranks within day blocks; Σ R2² folds in
      // event_type order; tie correction all-integer until two divisions
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |types AS (SELECT DISTINCT event_type FROM daily),
        |days AS (SELECT DISTINCT day FROM daily),
        |grid AS MATERIALIZED (
        |  SELECT t.event_type, dd.day, coalesce(d.x, 0) AS x
        |  FROM types t CROSS JOIN days dd
        |  LEFT JOIN daily d
        |  ON t.event_type = d.event_type AND dd.day = d.day),
        |r AS (SELECT event_type, day,
        |   2 * rank() OVER (PARTITION BY day ORDER BY x)
        |     + count(*) OVER (PARTITION BY day, x) - 1 AS r2 FROM grid),
        |bt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_b,
        |       CAST(sum(r2) AS BIGINT) AS rr2 FROM r GROUP BY 1),
        |tie AS (SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT)
        |          AS tie3
        |        FROM (SELECT day, x, count(*) AS t FROM grid
        |              GROUP BY 1, 2) q),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(max(n_b) AS BIGINT) AS n,
        |        list_reduce(list_prepend(0.0::DOUBLE,
        |          list(CAST(rr2 AS DOUBLE) * CAST(rr2 AS DOUBLE)
        |               ORDER BY event_type)),
        |          (acc, x) -> acc + x) AS sr2 FROM bt),
        |f AS (SELECT k, n,
        |   3.0::DOUBLE * sr2 / (CAST(n AS DOUBLE) * k * (k + 1))
        |     - 3.0::DOUBLE * CAST(n AS DOUBLE) * (k + 1) AS chi2,
        |   1.0::DOUBLE - CAST(tie3 AS DOUBLE) /
        |     (CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) * k * k - k)) AS cc
        |  FROM agg, tie)
        |SELECT CAST(k AS INT) AS k, n, round(chi2, 6) AS chi2,
        | round(chi2 / cc, 6) AS chi2_tie_corrected
        |FROM f WHERE cc > 0""".stripMargin),

    Query("stats_kruskal", (s, d) => {
      // Kruskal-Wallis H (tie-corrected): the k-sample rank test beside
      // the 2-sample Mann-Whitney AUC — "does value differ across event
      // types" without normality assumptions. GLOBAL doubled average
      // ranks come from PackOps.avgRank2 over the cents HISTOGRAM
      // (value domain is rounded cents, so distinct ≪ rows — exactly
      // the regime the histogram discipline is for); every sum is an
      // exact integer, H and the tie correction are mirrored doubles.
      // Ranks are GLOBAL by definition here (g = lit(1)), so avgRank2's
      // cumulative window runs single-partition over the whole cents
      // histogram — acceptable because that histogram is O(distinct
      // rounded cents) ≈ 10⁴ rows at any corpus size (the value domain,
      // not the row count, bounds it); if the domain ever widened to
      // row-scale, the fix is a two-level partial-histogram merge, not
      // a bigger window.
      // With r2 = 2·rank: H = 3/(N(N+1))·Σ R2_g²/n_g − 3(N+1), then
      // H /= 1 − Σ(t³−t)/(N³−N) over the tie-group sizes t.
      val ev = t(s, d, "events").select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("g", lit(1))
      val ranked = ev.join(
        PackOps.avgRank2(ev, "g", "cents"), Seq("g", "cents"))
      // Σ R2_g²/n_g folds in event_type order (r14 sweep: the ≤k-row
      // unordered double sum was the stats_sequential failure class)
      val byType = ranked.groupBy("event_type")
        .agg(count(lit(1)).as("ng"), sum(col("r2")).as("rg2"))
        .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          array_sort(collect_list(struct(col("event_type"), col("rg2"),
            col("ng")))).as("arr"))
        .withColumn("s", expr(
          """aggregate(arr, 0.0D, (acc, x) ->
            |  acc + CAST(x.rg2 AS DOUBLE) * CAST(x.rg2 AS DOUBLE) /
            |    CAST(x.ng AS DOUBLE))""".stripMargin))
      val ties = ev.groupBy("cents").agg(count(lit(1)).as("t"))
        .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tt"))
      byType.crossJoin(broadcast(ties))
        .withColumn("h0", lit(3.0) * col("s") /
          (col("n").cast("double") * (col("n") + 1)) -
          lit(3.0) * (col("n") + 1))
        .withColumn("c", lit(1.0) - col("tt").cast("double") /
          (col("n").cast("double") * col("n") * col("n") - col("n")))
        .filter(col("c") > 0)
        .select(col("k"), col("n"), round(col("h0"), 6).as("h"),
          round(col("h0") / col("c"), 6).as("h_tie_corrected"))
    },
      """WITH ev AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |   2 * rank() OVER (ORDER BY cents)
        |     + count(*) OVER (PARTITION BY cents) - 1 AS r2 FROM ev),
        |bt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
        |       CAST(sum(r2) AS BIGINT) AS rg2 FROM r GROUP BY 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(ng) AS BIGINT) AS n,
        |        list_reduce(list_prepend(0.0::DOUBLE,
        |          list(CAST(rg2 AS DOUBLE) * CAST(rg2 AS DOUBLE) /
        |               CAST(ng AS DOUBLE) ORDER BY event_type)),
        |          (acc, x) -> acc + x) AS s FROM bt),
        |tie AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tt FROM
        |        (SELECT count(*) AS t FROM ev GROUP BY cents) q),
        |f AS (SELECT k, n,
        |   3.0::DOUBLE * s / (CAST(n AS DOUBLE) * (n + 1))
        |     - 3.0::DOUBLE * (n + 1) AS h0,
        |   1.0::DOUBLE - CAST(tt AS DOUBLE)
        |     / (CAST(n AS DOUBLE) * n * n - n) AS c
        |  FROM agg, tie)
        |SELECT k, n, round(h0, 6) AS h, round(h0 / c, 6) AS h_tie_corrected
        |FROM f WHERE c > 0""".stripMargin),

    Query("stats_retention", (s, d) => {
      // classic cohort-retention triangle: users cohorted by first-seen
      // week, per (cohort_week, age_weeks) the fraction of the cohort
      // active — the engagement decay curve every analytics deployment
      // ships. One user-keyed min pass (cohort), one broadcast-able
      // cohort-size relation, one (cohort, age) distinct-count.
      val ev = t(s, d, "events").select(col("user_id"),
        expr("CAST(ts AS LONG) div 604800").as("week"))
      val cohort = ev.groupBy("user_id").agg(min("week").as("c_week"))
      val sizes = cohort.groupBy("c_week").agg(count(lit(1)).as("n_cohort"))
      ev.join(cohort, "user_id")
        .groupBy(col("c_week"), (col("week") - col("c_week")).as("age_weeks"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), "c_week")
        .select(col("c_week"), col("age_weeks"), col("n_active"),
          col("n_cohort"),
          round(col("n_active").cast("double") / col("n_cohort"), 6)
            .as("retention"))
    },
      // one cohort min pass + one (cohort, age) distinct count
      """WITH ev AS (SELECT user_id,
        |    epoch_us(ts) // 1000000 // 604800 AS week FROM events),
        |c AS (SELECT user_id, min(week) AS c_week FROM ev GROUP BY 1),
        |sz AS (SELECT c_week, CAST(count(*) AS BIGINT) AS n_cohort
        |       FROM c GROUP BY 1),
        |act AS (SELECT c.c_week, e.week - c.c_week AS age_weeks,
        |         count(DISTINCT e.user_id) AS n_active
        |        FROM ev e JOIN c ON e.user_id = c.user_id GROUP BY 1, 2)
        |SELECT a.c_week, a.age_weeks, a.n_active, s.n_cohort,
        | round(CAST(a.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
        |FROM act a JOIN sz s ON a.c_week = s.c_week""".stripMargin),

    Query("stats_capture_recapture", (s, d) => {
      // Chapman capture-recapture estimate of the total user population
      // from two observation windows (the first 4 hours of the span's
      // day 1 and of day 2 — half-span windows see EVERY user on this
      // corpus and estimate trivially): n1/n2 marked per window, m
      // recaptured in both, N̂ = (n1+1)(n2+1)/(m+1) − 1 — the dedup /
      // coverage estimator for "how many distinct users exist beyond
      // what either window saw". One user-keyed exchange to O(users)
      // membership rows, then a single aggregate; integers until the
      // final division.
      val ev = t(s, d, "events")
        .select(expr("CAST(ts AS LONG)").as("sec"), col("user_id"))
      val t0 = ev.agg(min("sec").as("t0"))
      ev.crossJoin(broadcast(t0))
        .withColumn("off", col("sec") - col("t0"))
        .groupBy("user_id")
        .agg(max(when(col("off") < 14400L, 1L).otherwise(0L)).as("in1"),
          max(when(col("off") >= 86400L && col("off") < 100800L, 1L)
            .otherwise(0L)).as("in2"))
        .agg(sum("in1").as("n1"), sum("in2").as("n2"),
          sum(when(col("in1") === 1L && col("in2") === 1L, 1L)
            .otherwise(0L)).as("m"))
        .select(col("n1"), col("n2"), col("m"),
          // (n1+1)(n2+1) is ~users² — DECIMAL(38,0) (HUGEINT in the
          // oracle) keeps it exact past the ~3·10⁹-user BIGINT ceiling
          round(((col("n1") + 1L).cast("decimal(38,0)") *
              (col("n2") + 1L)).cast("double") /
            (col("m") + 1L).cast("double") - 1.0, 4).as("chapman"))
    },
      // the (n1+1)(n2+1) product multiplies in BIGINT then casts — the
      // Spark side's exact law (not a DOUBLE-typed multiply)
      """WITH ev AS (SELECT epoch_us(ts) // 1000000 AS sec,
        |    user_id FROM events),
        |md AS (SELECT min(sec) AS t0 FROM ev),
        |s AS (SELECT user_id,
        |   max(CASE WHEN sec - t0 < 14400 THEN 1 ELSE 0 END) AS in1,
        |   max(CASE WHEN sec - t0 >= 86400 AND sec - t0 < 100800
        |        THEN 1 ELSE 0 END) AS in2
        |  FROM ev, md GROUP BY 1),
        |a AS (SELECT CAST(sum(in1) AS BIGINT) AS n1,
        |   CAST(sum(in2) AS BIGINT) AS n2,
        |   CAST(sum(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END)
        |     AS BIGINT) AS m
        |  FROM s)
        |SELECT n1, n2, m,
        | round(CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) AS DOUBLE) /
        |   CAST(m + 1 AS DOUBLE) - 1.0, 4) AS chapman
        |FROM a""".stripMargin),

    Query("stats_tost", (s, d) => {
      // TOST equivalence test (Schuirmann 1987): are the two halves of
      // the corpus the SAME within a margin — the flip side of
      // difference testing, the check a data-pipeline A/B needs before
      // declaring a refactor harmless. Arms are doc_id parity; margin
      // Δ = 5 % of the pooled mean; both one-sided Welch z's must
      // clear 1.645 (normal approx on these n's, stated). Everything
      // derives from one pass of exact integer (n, Σx, Σx²) co-moments
      // per arm — the stats_welch machinery with a two-sided gate.
      parityMoments(s, d)
        .withColumn("m1", col("s1").cast("double") / col("n1"))
        .withColumn("m2", col("s2").cast("double") / col("n2"))
        .transform(withArmVariances)
        .withColumn("se", sqrt(col("v1") / col("n1") + col("v2") / col("n2")))
        .withColumn("dm", lit(0.05) * (col("s1") + col("s2")).cast("double") /
          (col("n1") + col("n2")).cast("double"))
        .withColumn("t_lower", (col("m1") - col("m2") + col("dm")) / col("se"))
        .withColumn("t_upper", (col("dm") - (col("m1") - col("m2"))) / col("se"))
        .select(col("n1"), col("n2"),
          round(col("m1") - col("m2"), 6).as("delta"),
          round(col("dm"), 6).as("margin"),
          round(col("t_lower"), 6).as("t_lower"),
          round(col("t_upper"), 6).as("t_upper"),
          (col("t_lower") > 1.645 && col("t_upper") > 1.645).as("equivalent"))
    },
      // exact integer co-moments per parity arm; the two z's and the
      // 1.645 gate mirror textually
      """WITH a AS (SELECT
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars ELSE 0 END) AS BIGINT) AS s1,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN n_chars * n_chars ELSE 0 END) AS q1,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS s2,
        |  sum(CASE WHEN doc_id % 2 = 1 THEN n_chars * n_chars ELSE 0 END) AS q2
        | FROM documents),
        |f AS (SELECT n1, n2,
        |  CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
        |  (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
        |    / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS v1,
        |  (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
        |    / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS v2,
        |  0.05 * CAST(s1 + s2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS dm
        | FROM a),
        |g AS (SELECT n1, n2, m1 - m2 AS delta, dm,
        |  sqrt(v1 / n1 + v2 / n2) AS se FROM f),
        |h AS (SELECT n1, n2, delta, dm,
        |  (delta + dm) / se AS t_lower, (dm - delta) / se AS t_upper
        | FROM g)
        |SELECT n1, n2, round(delta, 6) AS delta, round(dm, 6) AS margin,
        | round(t_lower, 6) AS t_lower, round(t_upper, 6) AS t_upper,
        | (t_lower > 1.645 AND t_upper > 1.645) AS equivalent
        |FROM h""".stripMargin),

    Query("stats_power", (s, d) => {
      // A/B pre-flight power analysis: the minimum detectable effect
      // (MDE) at α = 0.05 / power 0.8 for the doc-halves experiment —
      // the number a pipeline owner reads BEFORE launching an A/B to
      // know whether the corpus can even resolve the effect size they
      // care about. Arms are doc_id parity (the stats_tost split);
      // se from exact BIGINT (n, Σx, Σx²) co-moments (the stats_welch
      // machinery), MDE = (z_{0.975} + z_{0.8})·se with the z's as
      // exact shared literals (normal approximation, stated); relative
      // MDE divides by the pooled mean. One corpus scan, one-row output.
      parityMoments(s, d)
        .transform(withArmVariances)
        .withColumn("se", sqrt(col("v1") / col("n1") + col("v2") / col("n2")))
        .withColumn("mde", (lit(1.96) + lit(0.8416)) * col("se"))
        .select(col("n1"), col("n2"),
          round(col("se"), 6).as("se"),
          round(col("mde"), 6).as("mde_abs"),
          round(col("mde") / ((col("s1") + col("s2")).cast("double") /
            (col("n1") + col("n2")).cast("double")), 6).as("mde_rel"))
    },
      // τ² = σ² is baked into the mirrored formula text; day sums round
      // to 4 before the cumulative chain on BOTH engines
      // the stats_welch co-moment machinery with the (1.96 + 0.8416)·se
      // MDE formula mirrored operand-for-operand
      """WITH m AS (SELECT
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n1,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS s1,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN n_chars * n_chars
        |    ELSE 0 END) AS q1,
        |  CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n2,
        |  CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS s2,
        |  sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars * n_chars
        |    ELSE 0 END) AS q2
        | FROM documents),
        |v AS (SELECT n1, n2, s1, s2,
        |  (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
        |    / (CAST(n1 AS DOUBLE) * (n1 - 1)) AS v1,
        |  (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
        |    / (CAST(n2 AS DOUBLE) * (n2 - 1)) AS v2
        | FROM m),
        |f AS (SELECT n1, n2, s1, s2,
        |  sqrt(v1 / n1 + v2 / n2) AS se FROM v)
        |SELECT n1, n2, round(se, 6) AS se,
        | round((1.96::DOUBLE + 0.8416::DOUBLE) * se, 6) AS mde_abs,
        | round((1.96::DOUBLE + 0.8416::DOUBLE) * se /
        |   (CAST(s1 + s2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)), 6)
        |   AS mde_rel
        |FROM f""".stripMargin),

    Query("stats_sequential", (s, d) => {
      // mSPRT always-valid sequential A/B monitor (Johari et al. 2017):
      // the peeking-safe p-value a dashboard can refresh daily without
      // inflating false positives. Arms are even/odd users; per-day
      // cumulative (n, Σv) per arm feed the mixture likelihood ratio
      // Λ_n (mixture variance τ² = σ², pooled), and the always-valid
      // p is 1/runmax(Λ). `value` is 2-decimal by fixture contract, so
      // it scales to exact cent-longs: every co-moment (n, Σv, Σv²) is
      // a BIGINT in both engines — the stats_welch/stats_tost
      // convention — and the ln/exp/√ chain runs on identical doubles
      // (round 12's unrounded double Σv² was the one red hash).
      // Everything after the day grain is a ≤ |days|-row relation.
      val ev = t(s, d, "events").select(to_date(col("ts")).as("day"),
        (col("user_id") % 2 === 0).as("arma"),
        round(col("value") * 100).cast("long").as("v"))
      // Σv² promotes to DECIMAL(38,0): cent² per row fits a long, but
      // the corpus sum passes 2^63 near 10^10 events — DuckDB's
      // sum(BIGINT) is HUGEINT already, so this mirrors it exactly
      val sig = ev.agg(count(lit(1)).as("nn"), sum(col("v")).as("sv"),
          sum((col("v") * col("v")).cast("decimal(38,0)")).as("qv"))
        .select(round((col("nn").cast("double") * col("qv") -
            col("sv").cast("double") * col("sv")) /
          (col("nn").cast("double") * (col("nn") - 1)) / 10000.0, 6)
          .as("s2"))
      val daily = ev.groupBy(col("day"))
        .agg(sum(when(col("arma"), 1L).otherwise(0L)).as("na_d"),
          sum(when(col("arma"), col("v")).otherwise(0L)).as("sa_d"),
          sum(when(!col("arma"), 1L).otherwise(0L)).as("nb_d"),
          sum(when(!col("arma"), col("v")).otherwise(0L)).as("sb_d"))
      val wd = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val st = daily.select(col("day"),
          sum(col("na_d")).over(wd).as("na"),
          sum(col("sa_d")).over(wd).as("sa"),
          sum(col("nb_d")).over(wd).as("nb"),
          sum(col("sb_d")).over(wd).as("sb"))
        .crossJoin(broadcast(sig))
        .withColumn("neff", (col("na") * col("nb")).cast("double") /
          (col("na") + col("nb")).cast("double"))
        .withColumn("delta", (col("sa").cast("double") / col("na") -
          col("sb").cast("double") / col("nb")) / 100.0)
        .withColumn("lnlam",
          lit(0.5) * log(col("s2") / (col("s2") + col("neff") * col("s2"))) +
            col("neff") * col("neff") * col("s2") * col("delta") * col("delta") /
              (lit(2.0) * col("s2") * (col("s2") + col("neff") * col("s2"))))
      // libm defense (r14): lnlam is the only cell here that passes
      // through ln/exp — functions whose last-ulp is NOT pinned by
      // IEEE 754 and may differ between this JVM and the checker's
      // DuckDB build. Round it to 4 decimals FIRST, run the runmax
      // over the rounded values (max over identical decimals is
      // engine-exact), and emit p at 4 decimals from that exact lnmax:
      // a 1-ulp ln/exp divergence now flips a digit only within 1e-7
      // of a 1e-4 boundary, and Round14Spec's boundary canary asserts
      // every cell at all 3 SFs sits ≥1e-3 rounding-units clear.
      st.withColumn("lnr", round(col("lnlam"), 4))
        .withColumn("lnmax", max(col("lnr")).over(wd))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("na"), col("nb"), round(col("delta"), 6).as("delta"),
          col("lnr").as("log_lambda"),
          round(least(lit(1.0), exp(-col("lnmax"))), 4).as("p"))
    },
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day,
        |   user_id % 2 = 0 AS arma,
        |   CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |sg AS (SELECT round((CAST(nn AS DOUBLE) * qv -
        |    CAST(sv AS DOUBLE) * sv) /
        |   (CAST(nn AS DOUBLE) * (nn - 1)) / 10000.0, 6) AS s2
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS nn,
        |        CAST(sum(v) AS BIGINT) AS sv,
        |        sum(v * v) AS qv FROM ev)),
        |dly AS (SELECT day,
        |   CAST(sum(CASE WHEN arma THEN 1 ELSE 0 END) AS BIGINT) AS na_d,
        |   CAST(sum(CASE WHEN arma THEN v ELSE 0 END) AS BIGINT) AS sa_d,
        |   CAST(sum(CASE WHEN NOT arma THEN 1 ELSE 0 END) AS BIGINT)
        |     AS nb_d,
        |   CAST(sum(CASE WHEN NOT arma THEN v ELSE 0 END) AS BIGINT)
        |     AS sb_d
        |  FROM ev GROUP BY day),
        |cum AS (SELECT day,
        |   CAST(sum(na_d) OVER wd AS BIGINT) AS na,
        |   sum(sa_d) OVER wd AS sa,
        |   CAST(sum(nb_d) OVER wd AS BIGINT) AS nb,
        |   sum(sb_d) OVER wd AS sb, s2
        |  FROM dly, sg
        |  WINDOW wd AS (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |st AS (SELECT day, na, nb, s2,
        |   CAST(na * nb AS DOUBLE) / CAST(na + nb AS DOUBLE) AS neff,
        |   (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) / 100.0
        |     AS delta FROM cum),
        |lm AS (SELECT day, na, nb, delta,
        |   round(0.5 * ln(s2 / (s2 + neff * s2)) +
        |    neff * neff * s2 * delta * delta /
        |      (2.0 * s2 * (s2 + neff * s2)), 4) AS lnlam FROM st),
        |fin AS (SELECT day, na, nb, delta, lnlam,
        |   max(lnlam) OVER (ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnmax
        |  FROM lm)
        |SELECT strftime(day, '%Y-%m-%d') AS day, na, nb,
        | round(delta, 6) AS delta, lnlam AS log_lambda,
        | round(least(1.0::DOUBLE, exp(-lnmax)), 4) AS p
        |FROM fin""".stripMargin),

    Query("stats_cohen_kappa", (s, d) => {
      // Cohen's κ between two independent quality judges — do my two
      // curation filters agree beyond chance? Judge A is the Gopher
      // hard-rule gate (TextAnalysisOps.gopherRules `keep`), judge B a
      // lexical-diversity gate (TTR ≥ 1/2, integer cross-multiply).
      // κ = (n·agree − Σ marginal products) / (n² − Σ marginal
      // products) — integer-exact until the final division. The n²
      // products run in DECIMAL(38,0) (long n² overflows past ~3·10^9
      // docs); the oracle's mirrors are HUGEINT — same exact integers.
      // Two doc-grain map passes joined on doc_id, one final
      // aggregate; nothing wider than the doc id and two bits ever
      // shuffles.
      val dec = "decimal(38,0)"
      val docs = t(s, d, "documents")
      val ja = TextAnalysisOps.gopherRules(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("ja"))
      val tk = TermOps.tokens(col("text"))
      val jb = docs.select(col("doc_id"),
        (size(array_distinct(tk)) * 2 >= size(tk)).as("jb"))
      ja.join(jb, "doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("ja") && col("jb"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("ja") && !col("jb"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("ja") && col("jb"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("ja") && !col("jb"), 1L).otherwise(0L)).as("n00"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          round((col("n").cast(dec) * (col("n11") + col("n00")) -
              ((col("n11") + col("n10")).cast(dec) *
                 (col("n11") + col("n01")) +
               (col("n01") + col("n00")).cast(dec) *
                 (col("n10") + col("n00"))))
              .cast("double") /
            (col("n").cast(dec) * col("n") -
              ((col("n11") + col("n10")).cast(dec) *
                 (col("n11") + col("n01")) +
               (col("n01") + col("n00")).cast(dec) *
                 (col("n10") + col("n00"))))
              .cast("double"), 6).as("kappa"))
    },
      // judge A nests the gopherSql chain verbatim; judge B is the TTR
      // integer cross-multiply; κ is a BIGINT ratio, exact until the
      // final division
      s"""WITH g AS (SELECT doc_id, keep AS ja FROM ($gopherSql)),
         |tb AS (SELECT doc_id,
         |   list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |     x -> x <> '') AS tk FROM documents),
         |j AS (SELECT g.doc_id, ja,
         |   2 * len(list_distinct(tk)) >= len(tk) AS jb
         |  FROM g JOIN tb ON g.doc_id = tb.doc_id),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |   CAST(sum(CASE WHEN ja AND jb THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n11,
         |   CAST(sum(CASE WHEN ja AND NOT jb THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n10,
         |   CAST(sum(CASE WHEN NOT ja AND jb THEN 1 ELSE 0 END) AS BIGINT)
         |     AS n01,
         |   CAST(sum(CASE WHEN NOT ja AND NOT jb THEN 1 ELSE 0 END)
         |     AS BIGINT) AS n00
         |  FROM j)
         |SELECT n, n11, n10, n01, n00,
         | round(CAST(CAST(n AS HUGEINT) * (n11 + n00) -
         |     (CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
         |      CAST(n01 + n00 AS HUGEINT) * (n10 + n00))
         |   AS DOUBLE) /
         |  CAST(CAST(n AS HUGEINT) * n -
         |     (CAST(n11 + n10 AS HUGEINT) * (n11 + n01) +
         |      CAST(n01 + n00 AS HUGEINT) * (n10 + n00))
         |   AS DOUBLE), 6) AS kappa
         |FROM c""".stripMargin),

    Query("stats_levene", (s, d) => {
      // Brown–Forsythe variance-homogeneity test across event types:
      // per-group deviations |x − group median| (exact lower-median —
      // the value at rank floor((n-1)/2)+1, which depends only on the
      // VALUE distribution, so the compressed (value → count)
      // histogram + cumulative-rank rule of PackOps.exactRank computes
      // it with O(distinct values) window work per group instead of a
      // per-group row_number sort of ALL rows — at 100 TB that sort
      // was ~8 single-partition passes of 12.5 TB each; r13, same
      // result by the rank argument). Then the one-way F on the
      // deviations: medians broadcast (≤ |types| rows); the deviation
      // pass is a pure map; the test statistic folds from per-group
      // (n, Σz, Σz²) — one group-keyed exchange, then a ≤ |types|-row
      // aggregate.
      // r14 determinism hardening: `value` is 2-decimal by fixture
      // contract, so the whole statistic scales to exact cent-longs —
      // z in cents is an exact BIGINT, every co-moment (n, Σz, Σz²) is
      // integer-exact in both engines (the stats_welch convention; the
      // 1/10⁴ cent² scale cancels between F's numerator and
      // denominator), and the ONLY order-dependent float — Σ_g s_g²/n_g
      // over the ≤|types| group rows — folds in event_type order on
      // both sides (array_sort + aggregate ↔ list ORDER BY +
      // list_reduce), so no hashed output derives from an unordered
      // double sum.
      val ev = t(s, d, "events")
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("vc"), col("event_id"))
      val hist = ev.groupBy(col("event_type"), col("vc"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("vc"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wT = Window.partitionBy(col("event_type"))
      val med = hist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("cnt", sum(col("c")).over(wT))
        .filter(col("cum") >= floor((col("cnt") - 1) * 0.5) + 1)
        .groupBy(col("event_type")).agg(min(col("vc")).as("medc"))
      val grp = ev.join(broadcast(med), "event_type")
        .select(col("event_type"),
          abs(col("vc") - col("medc")).as("zc"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_g"),
          sum(col("zc")).as("s_gc"),
          sum((col("zc") * col("zc")).cast("decimal(38,0)")).as("ss_gc"))
      grp.agg(sum(col("n_g")).as("n"),
          count(lit(1)).as("k"),
          sum(col("s_gc")).as("s"),
          sum(col("ss_gc")).as("ssq"),
          array_sort(collect_list(
            struct(col("event_type"), col("s_gc"), col("n_g")))).as("arr"))
        .withColumn("sgsq", expr(
          """aggregate(arr, 0.0D, (acc, x) ->
            |  acc + CAST(x.s_gc AS DOUBLE) * CAST(x.s_gc AS DOUBLE) /
            |    CAST(x.n_g AS DOUBLE))""".stripMargin))
        .select(col("k").cast("int").as("k"),
          col("n").cast("long").as("n"),
          round(((col("sgsq") -
              col("s").cast("double") * col("s").cast("double") /
                col("n").cast("double")) /
              (col("k").cast("double") - 1.0)) /
            ((col("ssq").cast("double") - col("sgsq")) /
              (col("n").cast("double") - col("k").cast("double"))), 6)
            .as("f_bf"))
    },
      // exact lower-median per group ((value, event_id) tiebreak — the
      // stats_mad rule), |x − med| deviations, then the one-way F folded
      // from per-group (n, Σz, Σz²) exactly as the engine folds it
      // cent-long mirror: integer co-moments throughout, the one
      // order-dependent double (Σ s_g²/n_g) folds in event_type order
      """WITH ev AS (SELECT event_type,
        |   CAST(round(value * 100) AS BIGINT) AS vc, event_id
        |  FROM events),
        |rk AS (SELECT event_type, vc,
        |   row_number() OVER (PARTITION BY event_type
        |     ORDER BY vc, event_id) AS r,
        |   count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM ev),
        |md AS (SELECT event_type, max(CASE
        |    WHEN r = CAST(floor((cnt - 1) * 0.5) AS BIGINT) + 1
        |    THEN vc END) AS medc
        |  FROM rk GROUP BY event_type),
        |z AS (SELECT ev.event_type, abs(vc - medc) AS zc
        |  FROM ev JOIN md ON ev.event_type = md.event_type),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
        |   CAST(sum(zc) AS BIGINT) AS s_gc, sum(zc * zc) AS ss_gc
        |  FROM z GROUP BY event_type),
        |a AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
        |   CAST(count(*) AS BIGINT) AS k,
        |   CAST(sum(s_gc) AS BIGINT) AS s,
        |   CAST(sum(ss_gc) AS DOUBLE) AS ssq,
        |   list_reduce(list_prepend(0.0::DOUBLE,
        |     list(CAST(s_gc AS DOUBLE) * CAST(s_gc AS DOUBLE) /
        |          CAST(n_g AS DOUBLE) ORDER BY event_type)),
        |     (acc, x) -> acc + x) AS sgsq
        |  FROM g)
        |SELECT CAST(k AS INT) AS k, n,
        | round(((sgsq - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |     CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0)) /
        |   ((ssq - sgsq) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))),
        |   6) AS f_bf
        |FROM a""".stripMargin),

    Query("sketch_bloom_fpr", (s, _) => {
      // the bloom family's SIZING math, measured: 200 members in a
      // deliberately small m=4096 / k=2 filter, probed with 1000
      // disjoint keys — the measured false-positive rate lands beside
      // the (1 − e^{−kn/m})^k estimate the operators' scaladocs size
      // by. The eval row for j7/bloomFlag, the way dedup_minhash_eval
      // evals the banding family. exp argument is the exact dyadic
      // −400/4096, so both engines call exp on the identical double.
      val members = s.range(0, 200).select(col("id").as("mk"))
      val probes = s.range(100000, 101000).select(col("id").as("pk"))
      PruneOps.bloomFlag(probes, "pk", members, "mk", "maybe",
          mBits = 4096, k = 2)
        .agg(count(lit(1)).as("n_probes"),
          sum(col("maybe").cast("long")).as("n_flagged"))
        .select(col("n_probes"), col("n_flagged"),
          round(col("n_flagged").cast("double") / col("n_probes"), 6)
            .as("fpr"),
          round(pow(lit(1.0) - exp(lit(-0.09765625)), 2), 6)
            .as("fpr_theory"))
    },
      // bloom positions bit-replicated (the j7 chain) for members and
      // probes; flagged = every position present; theory from the same
      // exact dyadic exponent
      s"""WITH seeds AS (SELECT unnest(generate_series(0, 1)) AS i),
         |mem AS (SELECT unnest(generate_series(0, 199)) AS mk),
         |mpos AS (SELECT DISTINCT
         |   ${fnvSql("CAST(mk AS VARCHAR) || '#' || i")} % 4096 AS pos
         |  FROM mem, seeds),
         |pr AS (SELECT unnest(generate_series(100000, 100999)) AS pk),
         |ph AS (SELECT pk,
         |   ${fnvSql("CAST(pk AS VARCHAR) || '#' || i")} % 4096 AS pos
         |  FROM pr, seeds),
         |chk AS (SELECT pk, bool_and(pos IN (SELECT pos FROM mpos)) AS hit
         |        FROM ph GROUP BY pk)
         |SELECT count(*) AS n_probes,
         | CAST(sum(CAST(hit AS INT)) AS BIGINT) AS n_flagged,
         | round(CAST(sum(CAST(hit AS INT)) AS DOUBLE) / count(*), 6) AS fpr,
         | round(pow(1.0::DOUBLE - exp(-0.09765625::DOUBLE), 2), 6)
         |   AS fpr_theory
         |FROM chk""".stripMargin),

    Query("stats_mutual_info", (s, d) => {
      // mutual information I(event_type; weekday) in bits — the
      // feature-relevance audit between two categoricals, from EXACT
      // cell/margin counts; the only doubles are inside one ORDERED
      // fold over the ≤ |X|·|Y| sorted cells (the stats_divergence
      // ln(x)/ln(2) convention), so engines can't reorder the sum.
      val ev = t(s, d, "events").select(col("event_type"),
        pmod(expr("CAST(ts AS LONG) div 86400") + 4, lit(7)).as("weekday"))
      val cells = ev.groupBy("event_type", "weekday")
        .agg(count(lit(1)).as("nxy"))
        .localCheckpoint() // feeds margins and the fold
      val mx = cells.groupBy("event_type").agg(sum("nxy").as("nx"))
      val my = cells.groupBy("weekday").agg(sum("nxy").as("ny"))
      val n = cells.agg(sum("nxy").as("nn"))
      cells.join(mx, "event_type").join(my, "weekday")
        .crossJoin(broadcast(n))
        .agg(count(lit(1)).as("n_cells"),
          array_sort(collect_list(struct(col("event_type"), col("weekday"),
            col("nxy"), col("nx"), col("ny"), col("nn")))).as("arr"))
        .select(col("n_cells"),
          round(aggregate(col("arr"), lit(0.0d), (acc, x) =>
            acc + x.getField("nxy").cast("double") / x.getField("nn") *
              (log(x.getField("nxy").cast("double") * x.getField("nn") /
                (x.getField("nx").cast("double") * x.getField("ny"))) /
                log(lit(2.0)))), 6).as("mi_bits"))
    },
      // exact counts; the cell fold is ordered and uses ln(x)/ln(2.0)
      // (stats_divergence convention, matching Spark's log(2.0, x))
      """WITH ev AS (SELECT event_type,
        |    (epoch_us(ts) // 1000000 // 86400 + 4) % 7 AS weekday
        |  FROM events),
        |cells AS (SELECT event_type, weekday,
        |    CAST(count(*) AS BIGINT) AS nxy FROM ev GROUP BY 1, 2),
        |mx AS (SELECT event_type, CAST(sum(nxy) AS BIGINT) AS nx
        |       FROM cells GROUP BY 1),
        |my AS (SELECT weekday, CAST(sum(nxy) AS BIGINT) AS ny
        |       FROM cells GROUP BY 1),
        |nn AS (SELECT CAST(sum(nxy) AS BIGINT) AS nn FROM cells),
        |j AS (SELECT c.event_type, c.weekday, c.nxy, m1.nx, m2.ny, nn.nn
        |      FROM cells c JOIN mx m1 ON c.event_type = m1.event_type
        |      JOIN my m2 ON c.weekday = m2.weekday, nn),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |   list([CAST(nxy AS DOUBLE), CAST(nx AS DOUBLE),
        |         CAST(ny AS DOUBLE), CAST(nn AS DOUBLE)]
        |     ORDER BY event_type, weekday) AS arr
        |  FROM j)
        |SELECT n_cells,
        | round(list_reduce(list_prepend(0.0::DOUBLE,
        |   list_transform(arr, x ->
        |     x[1] / x[4] * (ln(x[1] * x[4] / (x[2] * x[3])) / ln(2.0)))),
        |   (acc, x) -> acc + x), 6) AS mi_bits
        |FROM g""".stripMargin),

    Query("stats_chisq", (s, d) =>
      // is language independent of source? chi² over the lang×source
      // contingency table, zero-cells included, ordered-fold sum
      ValidationOps.chiSquare(t(s, d, "documents"), "lang", "source"),
      // fraction-cleared cell terms ((n·N − ra·cb)²/(N·ra·cb)), squared
      // AFTER the exact-integer difference casts to double; summed by the
      // same (a, b)-ordered fold Spark's sorted-array aggregate runs
      """WITH obs AS (SELECT lang AS a, source AS b, count(*) AS n
        |             FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, sum(n) AS ra FROM obs GROUP BY a),
        |cb AS (SELECT b, sum(n) AS cb FROM obs GROUP BY b),
        |tot AS (SELECT sum(n) AS nn FROM obs),
        |grid AS (SELECT a, b, ra, cb, nn, coalesce(n, 0) AS n
        |         FROM ra CROSS JOIN cb CROSS JOIN tot
        |         LEFT JOIN obs USING (a, b)),
        |terms AS (SELECT a, b,
        |  CAST(n*nn - ra*cb AS DOUBLE) * CAST(n*nn - ra*cb AS DOUBLE)
        |    / CAST(nn*ra*cb AS DOUBLE) AS t
        |  FROM grid)
        |SELECT CAST(count(*) AS INT) AS n_cells,
        | CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS INT)
        |   AS dof,
        | round(list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY a, b)),
        |   (acc, x) -> acc + x), 4) AS chi2
        |FROM terms""".stripMargin),

    Query("stats_mad", (s, d) => {
      // median absolute deviation per lang — the robust scale estimate
      // beside stats_winsorize (one wild outlier moves stddev; MAD
      // doesn't). Both medians use the exact lower-quantile_disc rule
      // (stats_group_quantiles convention) on integer n_chars, so the
      // whole statistic is integer-exact; the deviation pass re-uses
      // the lang hash partitioning
      val docs = t(s, d, "documents")
        .select(col("lang"), col("n_chars"), col("doc_id"))
      val wA = Window.partitionBy(col("lang"))
      val med = docs
        .withColumn("r", row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("n_chars"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(wA))
        .groupBy(col("lang"))
        .agg(max(col("n")).as("n_docs"),
          max(when(col("r") === floor((col("n") - 1) * 0.5) + 1,
            col("n_chars"))).as("med"))
      docs.join(broadcast(med), "lang")
        .withColumn("dev", abs(col("n_chars") - col("med")))
        .withColumn("r", row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("dev"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(wA))
        .groupBy(col("lang"))
        .agg(max(col("n_docs")).as("n_docs"), max(col("med")).as("median"),
          max(when(col("r") === floor((col("n") - 1) * 0.5) + 1,
            col("dev"))).as("mad"))
    },
      // both medians via the exact lower-quantile_disc rule — the whole
      // statistic is integer arithmetic
      """WITH d AS (SELECT lang, n_chars, doc_id FROM documents),
        |r1 AS (
        |  SELECT lang, n_chars,
        |   row_number() OVER (PARTITION BY lang
        |     ORDER BY n_chars, doc_id) AS r,
        |   count(*) OVER (PARTITION BY lang) AS n
        |  FROM d),
        |m AS (
        |  SELECT lang, max(n) AS n_docs,
        |   max(CASE WHEN r = floor((n-1) * 0.5) + 1 THEN n_chars END) AS med
        |  FROM r1 GROUP BY lang),
        |r2 AS (
        |  SELECT d.lang, d.doc_id, abs(n_chars - med) AS dev, med, n_docs
        |  FROM d JOIN m ON d.lang = m.lang),
        |r3 AS (
        |  SELECT lang, dev, med, n_docs,
        |   row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id) AS r,
        |   count(*) OVER (PARTITION BY lang) AS n
        |  FROM r2)
        |SELECT lang, CAST(max(n_docs) AS BIGINT) AS n_docs,
        | CAST(max(med) AS BIGINT) AS median,
        | CAST(max(CASE WHEN r = floor((n-1) * 0.5) + 1 THEN dev END)
        |   AS BIGINT) AS mad
        |FROM r3 GROUP BY lang""".stripMargin),

    Query("stats_hhi", (s, d) => {
      // Herfindahl–Hirschman concentration of the corpus over sources,
      // by doc count and by char mass — the one-number diversity
      // scorecard a mixture planner reads first (HHI → 1 means one
      // source owns the corpus; 1/HHI is the "effective source
      // count"). Exact integer cells; the Σp² folds run over the
      // source-ordered ≤|sources| rows on both engines.
      val cells = t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("nd"), sum(col("n_chars")).as("nc"))
      cells.agg(count(lit(1)).as("n_sources"),
          sum(col("nd")).as("td"), sum(col("nc")).as("tc"),
          array_sort(collect_list(struct(col("source"), col("nd"),
            col("nc")))).as("arr"))
        .withColumn("hhi_docs", aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + (x.getField("nd").cast("double") / col("td")) *
            (x.getField("nd").cast("double") / col("td"))))
        .withColumn("hhi_chars", aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + (x.getField("nc").cast("double") / col("tc")) *
            (x.getField("nc").cast("double") / col("tc"))))
        .select(col("n_sources"),
          round(col("hhi_docs"), 6).as("hhi_docs"),
          round(col("hhi_chars"), 6).as("hhi_chars"),
          round(lit(1.0) / col("hhi_docs"), 4).as("eff_sources_docs"),
          round(lit(1.0) / col("hhi_chars"), 4).as("eff_sources_chars"))
    },
      // −Σ p·ln p replayed over the same lang-ordered cells; (−p)*ln(p)
      // vs Spark's acc − p·ln(p): negation is IEEE-exact, identical sums
      // Σp² folds over the source-ordered cells, mirrored element terms;
      // 1/HHI divides the UNROUNDED fold (the engine's select order)
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS nd,
        |            CAST(sum(n_chars) AS BIGINT) AS nc
        |           FROM documents GROUP BY source),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |       CAST(sum(nd) AS BIGINT) AS td,
        |       CAST(sum(nc) AS BIGINT) AS tc,
        |       list(nd ORDER BY source) AS arr_d,
        |       list(nc ORDER BY source) AS arr_c
        |      FROM c),
        |h AS (SELECT n_sources,
        |   list_reduce(list_prepend(0.0::DOUBLE, list_transform(arr_d,
        |     x -> (CAST(x AS DOUBLE) / td) * (CAST(x AS DOUBLE) / td))),
        |     (a, b) -> a + b) AS hd,
        |   list_reduce(list_prepend(0.0::DOUBLE, list_transform(arr_c,
        |     x -> (CAST(x AS DOUBLE) / tc) * (CAST(x AS DOUBLE) / tc))),
        |     (a, b) -> a + b) AS hc
        |  FROM g)
        |SELECT n_sources, round(hd, 6) AS hhi_docs,
        | round(hc, 6) AS hhi_chars,
        | round(1.0::DOUBLE / hd, 4) AS eff_sources_docs,
        | round(1.0::DOUBLE / hc, 4) AS eff_sources_chars
        |FROM h""".stripMargin),

    Query("stats_entropy", (s, d) => {
      // per-source language-mix entropy — the diversity profile a
      // mixture planner reads next to stats_histogram_grouped: H = 0
      // means a single-language source, ln(n_langs) means uniform.
      // Counts exact; the −Σ p·ln p sum is an ordered fold over the
      // lang-sorted cell array (engine-identical IEEE order)
      val c = t(s, d, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      c.groupBy(col("source"))
        .agg(sum("n").as("n_docs"),
          count(lit(1)).cast("int").as("n_langs"),
          array_sort(collect_list(struct(col("lang"), col("n")))).as("arr"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          round(aggregate(col("arr"), lit(0.0d), (acc, x) =>
            acc - (x.getField("n").cast("double") /
                col("n_docs").cast("double")) *
              log(x.getField("n").cast("double") /
                col("n_docs").cast("double"))), 6).as("entropy"))
    },
      """WITH c AS (SELECT source, lang, count(*) AS n
        |           FROM documents GROUP BY 1, 2),
        |g AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS INT) AS n_langs,
        |       list(n ORDER BY lang) AS arr
        |      FROM c GROUP BY source)
        |SELECT source, n_docs, n_langs,
        | round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(arr,
        |   n -> -(CAST(n AS DOUBLE) / n_docs)
        |        * ln(CAST(n AS DOUBLE) / n_docs))),
        |   (acc, x) -> acc + x), 6) AS entropy
        |FROM g""".stripMargin),

    Query("stats_skew", (s, d) =>
      // group-size histogram: the pre-flight skew diagnostic
      SkewOps.groupSizeHistogram(t(s, d, "lineitem"), "l_partkey"),
      """WITH sizes AS (SELECT l_partkey, count(*) AS sz FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(CASE WHEN sz >= 64 THEN 64 WHEN sz >= 32 THEN 32
        |  WHEN sz >= 16 THEN 16 WHEN sz >= 8 THEN 8 WHEN sz >= 4 THEN 4
        |  WHEN sz >= 2 THEN 2 ELSE 1 END AS BIGINT) AS bucket_lo,
        | count(*) AS n_keys, min(sz) AS min_sz, max(sz) AS max_sz,
        | CAST(sum(sz) AS BIGINT) AS n_rows
        |FROM sizes GROUP BY 1""".stripMargin),

    Query("stats_heavy_keys", (s, d) =>
      SkewOps.heavyKeys(t(s, d, "events"), "user_id", k = 10),
      """SELECT user_id, sz FROM
        | (SELECT user_id, count(*) AS sz FROM events GROUP BY user_id) s
        |ORDER BY sz DESC, user_id ASC LIMIT 10""".stripMargin),

    Query("stats_ab_srm", (s, d) => {
      // sample-ratio-mismatch check (the first thing an experimentation
      // platform tests before reading an A/B result): observed 90/5/5
      // split occupancy vs expected, per-bucket χ² terms and the total
      // — completes the experimentation trio (SRM gate → CUPED variance
      // → AUC/calibration readouts). Uses the canonical split hash, so
      // it audits the very assignment sample_split ships.
      val b = t(s, d, "documents")
        .withColumn("bb", pmod(
          expr("fnv64(concat(cast(doc_id as string), '#split'))")
            .bitwiseAND(lit(4294967295L)), lit(100L)))
        .withColumn("split", when(col("bb") < 90, "train")
          .when(col("bb") < 95, "val").otherwise("test"))
      val obs = b.groupBy("split").agg(count(lit(1)).as("n_obs"))
      val tot = b.agg(count(lit(1)).cast("double").as("n"))
      obs.crossJoin(broadcast(tot))
        .withColumn("n_exp", col("n") *
          when(col("split") === "train", lit(0.90d)).otherwise(lit(0.05d)))
        .withColumn("chi_term", (col("n_obs") - col("n_exp")) *
          (col("n_obs") - col("n_exp")) / col("n_exp"))
        .select(col("split"), col("n_obs"),
          round(col("n_exp"), 2).as("n_exp"),
          round(col("chi_term"), 6).as("chi_term"),
          round(sum(col("chi_term")).over(Window.partitionBy()), 6)
            .as("chi2"))
    },
      // the canonical split hash re-bucketed, χ² terms vs the 90/5/5
      // expectation, literals identical IEEE doubles on both engines
      s"""WITH b AS (
         |  SELECT CASE WHEN bb < 90 THEN 'train'
         |    WHEN bb < 95 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT CAST(${fnvSql("doc_id::VARCHAR || '#split'")}
         |    % 4294967296::HUGEINT AS BIGINT) % 100 AS bb
         |   FROM documents) t),
         |obs AS (SELECT split, count(*) AS n_obs FROM b GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM b),
         |x AS (SELECT split, n_obs,
         |       n * (CASE WHEN split = 'train' THEN 0.90::DOUBLE
         |            ELSE 0.05::DOUBLE END) AS n_exp
         |      FROM obs, tot),
         |y AS (SELECT split, n_obs, n_exp,
         |       (n_obs - n_exp) * (n_obs - n_exp) / n_exp AS chi_term
         |      FROM x)
         |SELECT split, n_obs, round(n_exp, 2) AS n_exp,
         | round(chi_term, 6) AS chi_term,
         | round(sum(chi_term) OVER (), 6) AS chi2
         |FROM y""".stripMargin),

    Query("stats_cuped", (s, d) => {
      // CUPED variance reduction (the A/B-analytics staple beside
      // stats_auc/retention): per-user pre metric x (even event_ids)
      // and experiment metric y (odd), θ = cov/var over users, and the
      // residual variance var(y) − cov²/var(x) with its reduction
      // share — how much a covariate-adjusted metric tightens. All
      // population moments from one per-user pass + one tiny aggregate;
      // the arithmetic chain is textually mirrored in the oracle.
      // r14 cent-long hardening: per-user x/y are exact cent BIGINTs
      // and every population co-moment is an exact integer (cross
      // products in DECIMAL(38,0) ↔ HUGEINT — a per-user cent total
      // squared passes 2^63 well before web scale); θ and reduction
      // are scale-free (cent² cancels), var_y/var_adj divide the cent²
      // moments by 10⁴ once at the end. No unordered double sum feeds
      // the hash.
      val per = t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("vc"))
        .groupBy("user_id").agg(
          sum(when(pmod(col("event_id"), lit(2L)) === 0L, col("vc"))
            .otherwise(lit(0L))).as("x"),
          sum(when(pmod(col("event_id"), lit(2L)) === 1L, col("vc"))
            .otherwise(lit(0L))).as("y"))
      per.agg(count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum((col("x").cast("decimal(38,0)") * col("y")))
            .cast("double").as("sxy"),
          sum((col("x").cast("decimal(38,0)") * col("x")))
            .cast("double").as("sxx"),
          sum((col("y").cast("decimal(38,0)") * col("y")))
            .cast("double").as("syy"))
        .select(col("n"),
          (col("sxy") / col("n") -
            col("sx") / col("n") * (col("sy") / col("n"))).as("covxy"),
          (col("sxx") / col("n") -
            col("sx") / col("n") * (col("sx") / col("n"))).as("varx"),
          (col("syy") / col("n") -
            col("sy") / col("n") * (col("sy") / col("n"))).as("vary"))
        .select(col("n").cast("long").as("n_users"),
          round(col("covxy") / col("varx"), 6).as("theta"),
          round(col("vary") / 10000.0, 4).as("var_y"),
          round((col("vary") - col("covxy") * col("covxy") / col("varx"))
            / 10000.0, 4).as("var_adj"),
          round(col("covxy") * col("covxy") /
            (col("varx") * col("vary")), 6).as("reduction"))
    },
      // per-user x/y sums, one moments aggregate, mirrored arithmetic
      // cent-long mirror: HUGEINT cross products ↔ Spark DECIMAL(38,0);
      // θ/reduction scale-free, var_* divide cent² by 10⁴ once
      """WITH per AS (
        |  SELECT user_id,
        |   CAST(sum(CASE WHEN event_id % 2 = 0
        |     THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |     AS BIGINT) AS x,
        |   CAST(sum(CASE WHEN event_id % 2 = 1
        |     THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |     AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |mo AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |        CAST(sum(x) AS DOUBLE) AS sx,
        |        CAST(sum(y) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |        CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |       FROM per),
        |c AS (SELECT n,
        |       sxy / n - sx / n * (sy / n) AS covxy,
        |       sxx / n - sx / n * (sx / n) AS varx,
        |       syy / n - sy / n * (sy / n) AS vary
        |      FROM mo)
        |SELECT CAST(n AS BIGINT) AS n_users,
        | round(covxy / varx, 6) AS theta,
        | round(vary / 10000.0, 4) AS var_y,
        | round((vary - covxy * covxy / varx) / 10000.0, 4) AS var_adj,
        | round(covxy * covxy / (varx * vary), 6) AS reduction
        |FROM c""".stripMargin),

    Query("stats_calibration", (s, d) => {
      // reliability table + expected calibration error for the
      // serve-time classifier (stats_auc's sibling: AUC ranks, ECE
      // audits the probabilities themselves). Shares the exact
      // classifierZ fold with curate_classifier; the binary target is
      // lang='en' (deterministic stand-in labels). The decile-bin ECE
      // machinery is the shared calibrationEce helper.
      calibrationEce(s, d, t(s, d, "documents")
        .select(col("doc_id"), (col("lang") === "en").cast("int").as("y")))
    },
      // reliability replay: identical z fold → rounded sigmoid → decile
      // bins on the same IEEE doubles; ECE as the n-weighted gap sum
      calibrationSqlFor(
        "SELECT doc_id, CAST(lang = 'en' AS INT) AS y FROM documents")),

    Query("sketch_kmv", (s, d) => {
      // KMV distinct sketch: k=64 exercises the estimator on user_id
      // (distinct count > k), k=256 the exact small-set path is avoided
      // on event_id (every event distinct)
      val ev = t(s, d, "events")
      SketchOps.kmvDistinct(ev, "user_id", k = 64)
        .withColumn("key", lit("user_id"))
        .unionByName(SketchOps.kmvDistinct(ev, "event_id", k = 256)
          .withColumn("key", lit("event_id")))
    },
      // the KMV estimate is a deterministic function of the key set under
      // the shared hash32, so the sketch itself (not just its input) is
      // replicated: k smallest distinct hashes → (k-1)·2^32 / h_k
      s"""WITH hu AS (
         |  SELECT DISTINCT ${hash32Sql("(user_id)")} AS h FROM events
         |  WHERE user_id IS NOT NULL),
         |ku AS (SELECT h FROM hu ORDER BY h LIMIT 64),
         |he AS (
         |  SELECT DISTINCT ${hash32Sql("(event_id)")} AS h FROM events
         |  WHERE event_id IS NOT NULL),
         |ke AS (SELECT h FROM he ORDER BY h LIMIT 256)
         |SELECT count(*) AS k_used, max(h) AS kth_hash,
         | CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round((count(*) - 1) * 4294967296.0 / max(h), 2) END AS estimate,
         | 'user_id' AS key
         |FROM ku
         |UNION ALL
         |SELECT count(*) AS k_used, max(h) AS kth_hash,
         | CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round((count(*) - 1) * 4294967296.0 / max(h), 2) END AS estimate,
         | 'event_id' AS key
         |FROM ke""".stripMargin),

    Query("sketch_join_size", (s, d) => {
      // join-cardinality estimation from sketches: |A ⋈ B on user_id|
      // estimated by the CMS inner product min_j Σ_b A_j[b]·B_j[b]
      // (the AGMS/count-min join-size estimator, Alon et al. '99 /
      // Cormode-Muthukrishnan '05) — the optimizer-grade statistic.
      // Exact needs a per-key join; the sketch answer costs O(d·w)
      // cells no matter how many keys. est ≥ exact (collisions add)
      val ev = t(s, d, "events")
      val a = ev.filter(col("event_id") % 2 === 0)
      val b = ev.filter(col("event_id") % 2 =!= 0)
      val exact = a.groupBy(col("user_id")).agg(count(lit(1)).as("ca"))
        .join(b.groupBy(col("user_id")).agg(count(lit(1)).as("cb")),
          Seq("user_id"))
        .agg(sum(col("ca") * col("cb")).as("exact_size"))
      val est = SketchOps.countMin(a, "user_id", depth = 3, width = 256)
        .withColumnRenamed("cnt", "ca")
        .join(SketchOps.countMin(b, "user_id", depth = 3, width = 256)
          .withColumnRenamed("cnt", "cb"), Seq("j", "bucket"))
        .groupBy(col("j")).agg(sum(col("ca") * col("cb")).as("ip"))
        .agg(min(col("ip")).as("cms_est"))
      exact.crossJoin(est)
        .select(col("exact_size"), col("cms_est"),
          round(col("cms_est").cast("double") / col("exact_size"), 4)
            .as("inflation"))
    },
      // the CMS inner-product estimator replayed with the same
      // seed-suffixed FNV bucket family; exact side is a plain key join
      s"""WITH a AS (
         |  SELECT user_id FROM events WHERE event_id % 2 = 0),
         |b AS (SELECT user_id FROM events WHERE event_id % 2 <> 0),
         |ex AS (
         |  SELECT CAST(sum(ca * cb) AS BIGINT) AS exact_size
         |  FROM (SELECT user_id, count(*) AS ca FROM a GROUP BY user_id) x
         |  JOIN (SELECT user_id, count(*) AS cb FROM b GROUP BY user_id) y
         |   USING (user_id)),
         |seeds AS (SELECT unnest(generate_series(0, 2)) AS j),
         |sa AS (
         |  SELECT j, bucket, count(*) AS ca FROM (
         |   SELECT j, ${fnvSql("CAST(user_id AS VARCHAR) || '#' || j")}
         |     % 256 AS bucket
         |   FROM a, seeds) GROUP BY j, bucket),
         |sb AS (
         |  SELECT j, bucket, count(*) AS cb FROM (
         |   SELECT j, ${fnvSql("CAST(user_id AS VARCHAR) || '#' || j")}
         |     % 256 AS bucket
         |   FROM b, seeds) GROUP BY j, bucket),
         |ipj AS (
         |  SELECT sa.j, sum(sa.ca * sb.cb) AS ip
         |  FROM sa JOIN sb ON sa.j = sb.j AND sa.bucket = sb.bucket
         |  GROUP BY sa.j),
         |es AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM ipj)
         |SELECT exact_size, cms_est,
         | round(CAST(cms_est AS DOUBLE) / exact_size, 4) AS inflation
         |FROM ex, es""".stripMargin),

    Query("sketch_kmv_pairs", (s, d) =>
      // cross-corpus overlap matrix from sketches alone: per-lang term
      // vocabularies → k=128 KMV sketches → pairwise jaccard / union /
      // intersection estimates on groups×k rows — the corpora never
      // meet in a key join (Beyer et al. SIGMOD'07 multiset estimators)
      SketchOps.kmvPairwise(
          t(s, d, "documents").select(col("lang"),
            explode(TermOps.tokens(col("text"))).as("term")),
          "lang", "term", k = 128)
        .select(col("g_a").as("lang_a"), col("g_b").as("lang_b"),
          col("k_union"), col("rho"), col("union_est"), col("inter_est")),
      // the KMV pair estimators replayed: per-lang distinct 32-bit term
      // hashes (fnv64 folded, low 32 bits — power-of-two modulus, so the
      // unsigned HUGEINT low bits equal Spark's pmod), rank ≤ k per lang,
      // union re-rank per pair; hash collisions collapse identically on
      // both sides (same hash), so DISTINCT keeps the relations equal
      s"""WITH ts AS (
         |  SELECT lang, unnest(list_filter(
         |    regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS term
         |  FROM documents),
         |vocab AS (SELECT DISTINCT lang AS g, term FROM ts),
         |hh AS (
         |  SELECT DISTINCT g,
         |   CAST(${fnvSql("term")} % 4294967296 AS BIGINT) AS h
         |  FROM vocab),
         |sk AS (
         |  SELECT g, h FROM (
         |    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
         |    FROM hh) WHERE rn <= 128),
         |gs AS (SELECT DISTINCT g FROM sk),
         |pairs AS (
         |  SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
         |tag AS (
         |  SELECT ga, gb, h, max(fa) AS fa, max(fb) AS fb FROM (
         |    SELECT p.ga, p.gb, s.h, 1 AS fa, 0 AS fb
         |    FROM pairs p JOIN sk s ON s.g = p.ga
         |    UNION ALL
         |    SELECT p.ga, p.gb, s.h, 0 AS fa, 1 AS fb
         |    FROM pairs p JOIN sk s ON s.g = p.gb)
         |  GROUP BY ga, gb, h),
         |uni AS (
         |  SELECT * FROM (
         |    SELECT ga, gb, h, fa, fb,
         |     row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
         |    FROM tag) WHERE rn <= 128),
         |agg AS (
         |  SELECT ga, gb, count(*) AS k_union, max(h) AS kth,
         |   sum(fa * fb) AS n_both
         |  FROM uni GROUP BY ga, gb)
         |SELECT ga AS lang_a, gb AS lang_b, CAST(k_union AS BIGINT) AS k_union,
         | round(CAST(n_both AS DOUBLE) / k_union, 4) AS rho,
         | round(CASE WHEN k_union < 128 THEN CAST(k_union AS DOUBLE)
         |   ELSE (k_union - 1) * 4294967296.0 / kth END, 2) AS union_est,
         | round((CAST(n_both AS DOUBLE) / k_union) *
         |  (CASE WHEN k_union < 128 THEN CAST(k_union AS DOUBLE)
         |    ELSE (k_union - 1) * 4294967296.0 / kth END), 2) AS inter_est
         |FROM agg""".stripMargin),

    Query("stats_benford", (s, d) => {
      // leading-digit distribution of n_chars (the Benford profile):
      // the anomaly scan over numeric corpus metadata — synthetic or
      // truncated data shows up as a digit-histogram distortion long
      // before anyone reads a document. Integer counts + one ratio
      val digits = t(s, d, "documents")
        .select(substring(col("n_chars").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      digits.withColumn("frac",
          round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy()), 4))
        .select(col("digit"), col("n"), col("frac"))
    },
      """WITH d AS (
        |  SELECT CAST(substr(CAST(n_chars AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM documents),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
        |SELECT digit, n,
        | round(CAST(n AS DOUBLE) / sum(n) OVER (), 4) AS frac
        |FROM c""".stripMargin),

    Query("stats_group_quantiles", (s, d) => {
      // exact per-group quantiles via the explicit lower-quantile_disc
      // rule (element at row floor((n-1)·p)+1 of the ascending sort):
      // rank and group size come from two frames of the same window
      // family and the groupBy re-uses the lang partitioning, so the
      // whole query is ONE exchange. Exact-by-rule beats
      // percentile_approx here: the rule is engine-replicable, an
      // approx sketch never hash-matches. (For a pathological single
      // giant group the same shape holds — the sort is within-group
      // range-partitioned, not single-task.)
      langRanked(s, d)
        .groupBy(col("lang"))
        .agg(max(col("n")).as("n_docs"),
          max(when(col("r") === floor((col("n") - 1) * 0.5) + 1,
            col("n_chars"))).as("p50_chars"),
          max(when(col("r") === floor((col("n") - 1) * 0.9) + 1,
            col("n_chars"))).as("p90_chars"))
    },
      // explicit lower-quantile_disc rule (row floor((n-1)*p)+1 of the
      // ascending (n_chars, doc_id) sort) — engine-replicable, unlike any
      // approx-percentile sketch
      """WITH r AS (
        |  SELECT lang, n_chars,
        |   row_number() OVER (PARTITION BY lang
        |     ORDER BY n_chars, doc_id) AS r,
        |   count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, max(n) AS n_docs,
        | max(CASE WHEN r = CAST(floor((n-1)*0.5) AS BIGINT) + 1
        |   THEN n_chars END) AS p50_chars,
        | max(CASE WHEN r = CAST(floor((n-1)*0.9) AS BIGINT) + 1
        |   THEN n_chars END) AS p90_chars
        |FROM r GROUP BY lang""".stripMargin),

    Query("stats_winsorize", (s, d) => {
      // per-group winsorized aggregates: clamp at the exact rank-rule
      // p05/p95 (the stats_group_quantiles convention), then sum the
      // clamped values — the robust corpus statistic outliers can't
      // drag. Rank, group size, both bounds and the final aggregation
      // all share the lang partitioning: ONE exchange end-to-end, and
      // every output is an exact integer (no float boundary risk)
      val wAll = Window.partitionBy(col("lang"))
      langRanked(s, d)
        .withColumn("lo", max(when(col("r") ===
          floor((col("n") - 1) * 0.05) + 1, col("n_chars"))).over(wAll))
        .withColumn("hi", max(when(col("r") ===
          floor((col("n") - 1) * 0.95) + 1, col("n_chars"))).over(wAll))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(greatest(least(col("n_chars"), col("hi")), col("lo")))
            .as("sum_winsorized"),
          sum(when(col("n_chars") < col("lo"), 1L).otherwise(0L))
            .as("n_clamped_low"),
          sum(when(col("n_chars") > col("hi"), 1L).otherwise(0L))
            .as("n_clamped_high"))
    },
      // winsorized clamp replayed with the same lower-quantile_disc rank
      // rule; every output is an exact integer
      """WITH r AS (
        |  SELECT lang, n_chars, doc_id,
        |   row_number() OVER (PARTITION BY lang
        |     ORDER BY n_chars, doc_id) AS r,
        |   count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |b AS (
        |  SELECT lang, n_chars,
        |   max(CASE WHEN r = CAST(floor((n-1)*0.05) AS BIGINT) + 1
        |     THEN n_chars END) OVER (PARTITION BY lang) AS lo,
        |   max(CASE WHEN r = CAST(floor((n-1)*0.95) AS BIGINT) + 1
        |     THEN n_chars END) OVER (PARTITION BY lang) AS hi
        |  FROM r)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(greatest(least(n_chars, hi), lo)) AS BIGINT) AS sum_winsorized,
        | CAST(count(*) FILTER (WHERE n_chars < lo) AS BIGINT) AS n_clamped_low,
        | CAST(count(*) FILTER (WHERE n_chars > hi) AS BIGINT) AS n_clamped_high
        |FROM b GROUP BY lang""".stripMargin),

    Query("stats_did", (s, d) => {
      // difference-in-differences: the causal-inference workhorse for
      // a rollout without randomization — did the treated cohort's
      // metric move MORE than the control's across the same period
      // boundary? Treatment = even user_id, periods split at the
      // integer midpoint day; `value` scales to exact cent-longs (the
      // stats_sequential convention) so all four cell means and the
      // DiD estimate derive from BIGINT sums with mirrored final
      // divisions.
      val ev = t(s, d, "events").select(
        expr("CAST(ts AS LONG) div 86400").as("day"),
        (col("user_id") % 2 === 0).as("treat"),
        round(col("value") * 100).cast("long").as("v"))
      val mid = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
      def cell(p: org.apache.spark.sql.Column): (org.apache.spark.sql
          .Column, org.apache.spark.sql.Column) =
        (sum(when(p, 1L).otherwise(0L)), sum(when(p, col("v"))
          .otherwise(0L)))
      val post = col("day") >= col("mid")
      val (ntp, stp) = cell(col("treat") && post)
      val (nt0, st0) = cell(col("treat") && !post)
      val (ncp, scp) = cell(!col("treat") && post)
      val (nc0, sc0) = cell(!col("treat") && !post)
      ev.crossJoin(broadcast(mid))
        .agg(ntp.as("n_tp"), stp.as("s_tp"), nt0.as("n_t0"),
          st0.as("s_t0"), ncp.as("n_cp"), scp.as("s_cp"),
          nc0.as("n_c0"), sc0.as("s_c0"))
        .withColumn("m_tp", col("s_tp").cast("double") / col("n_tp") / 100.0)
        .withColumn("m_t0", col("s_t0").cast("double") / col("n_t0") / 100.0)
        .withColumn("m_cp", col("s_cp").cast("double") / col("n_cp") / 100.0)
        .withColumn("m_c0", col("s_c0").cast("double") / col("n_c0") / 100.0)
        .select(col("n_tp"), col("n_t0"), col("n_cp"), col("n_c0"),
          round(col("m_tp"), 6).as("mean_treat_post"),
          round(col("m_t0"), 6).as("mean_treat_pre"),
          round(col("m_cp"), 6).as("mean_ctrl_post"),
          round(col("m_c0"), 6).as("mean_ctrl_pre"),
          round((col("m_tp") - col("m_t0")) - (col("m_cp") - col("m_c0")),
            6).as("did"))
    },
      // four exact cent-long cells, mirrored mean divisions, one DiD line
      """WITH ev AS (SELECT epoch_us(ts) // 1000000 // 86400 AS day,
        |   user_id % 2 = 0 AS treat,
        |   CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN treat AND day >= mid THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_tp,
        |  CAST(sum(CASE WHEN treat AND day >= mid THEN v ELSE 0 END)
        |    AS BIGINT) AS s_tp,
        |  CAST(sum(CASE WHEN treat AND day < mid THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_t0,
        |  CAST(sum(CASE WHEN treat AND day < mid THEN v ELSE 0 END)
        |    AS BIGINT) AS s_t0,
        |  CAST(sum(CASE WHEN NOT treat AND day >= mid THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_cp,
        |  CAST(sum(CASE WHEN NOT treat AND day >= mid THEN v ELSE 0 END)
        |    AS BIGINT) AS s_cp,
        |  CAST(sum(CASE WHEN NOT treat AND day < mid THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c0,
        |  CAST(sum(CASE WHEN NOT treat AND day < mid THEN v ELSE 0 END)
        |    AS BIGINT) AS s_c0
        | FROM ev CROSS JOIN m),
        |f AS (SELECT n_tp, n_t0, n_cp, n_c0,
        |  CAST(s_tp AS DOUBLE) / n_tp / 100.0 AS m_tp,
        |  CAST(s_t0 AS DOUBLE) / n_t0 / 100.0 AS m_t0,
        |  CAST(s_cp AS DOUBLE) / n_cp / 100.0 AS m_cp,
        |  CAST(s_c0 AS DOUBLE) / n_c0 / 100.0 AS m_c0
        | FROM c)
        |SELECT n_tp, n_t0, n_cp, n_c0,
        | round(m_tp, 6) AS mean_treat_post,
        | round(m_t0, 6) AS mean_treat_pre,
        | round(m_cp, 6) AS mean_ctrl_post,
        | round(m_c0, 6) AS mean_ctrl_pre,
        | round((m_tp - m_t0) - (m_cp - m_c0), 6) AS did
        |FROM f""".stripMargin),

    Query("stats_ipw", (s, d) => {
      // stratified-propensity treatment-effect estimate (IPW with
      // stratum propensities, a.k.a. subclassification — Rosenbaum &
      // Rubin 1984): users stratify into activity quintiles (exact
      // rank rule, integer cross-multiply cuts — no global sort of
      // users), propensity p_s = treated share of the stratum, and the
      // ATE reweights per-stratum mean differences by stratum size —
      // the confounder-adjusted sibling of stats_did for when
      // treatment correlates with activity. Outcomes are exact
      // cent-longs per user (the stats_sequential convention); every
      // mean is one mirrored division, and the 5-term ATE sum folds in
      // stratum order. A stratum missing an arm reports NULL (and
      // contributes nothing) rather than a fake zero.
      val ue = t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n_ev"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      val tot = ue.agg(count(lit(1)).as("n_users"))
      val cells = PackOps.exactRank(ue, "n_ev", "user_id")
        .crossJoin(broadcast(tot))
        .withColumn("stratum",
          when(col("rank") * 5 <= col("n_users"), 1)
            .when(col("rank") * 5 <= col("n_users") * 2, 2)
            .when(col("rank") * 5 <= col("n_users") * 3, 3)
            .when(col("rank") * 5 <= col("n_users") * 4, 4)
            .otherwise(5))
        .withColumn("treat", col("user_id") % 2 === 0)
        .groupBy("stratum")
        .agg(count(lit(1)).as("n_s"),
          sum(when(col("treat"), 1L).otherwise(0L)).as("n_t"),
          sum(when(col("treat"), col("cents")).otherwise(0L)).as("c_t"),
          sum(when(!col("treat"), col("cents")).otherwise(0L)).as("c_c"))
        .withColumn("n_c", col("n_s") - col("n_t"))
        .withColumn("m_t", when(col("n_t") > 0,
          col("c_t").cast("double") / col("n_t") / 100.0))
        .withColumn("m_c", when(col("n_c") > 0,
          col("c_c").cast("double") / col("n_c") / 100.0))
        .withColumn("diff", col("m_t") - col("m_c"))
        // two consumers (the ATE fold + the final projection) — the
        // repo's eager-materialization rule; without it the whole
        // exactRank + stratum chain re-runs for the second consumer
        .localCheckpoint()
      val ate = cells
        .agg(array_sort(collect_list(when(col("diff").isNotNull,
            struct(col("stratum"), (col("diff") * col("n_s")).as("w")))))
            .as("arr"),
          sum(when(col("diff").isNotNull, col("n_s"))).as("nn"))
        .select((aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + x.getField("w")) / col("nn")).as("ate_raw"))
      cells.crossJoin(broadcast(ate))
        .select(col("stratum"), col("n_s"), col("n_t"),
          round(col("n_t").cast("double") / col("n_s"), 6).as("p_treat"),
          round(col("m_t"), 6).as("mean_treat"),
          round(col("m_c"), 6).as("mean_ctrl"),
          round(col("diff"), 6).as("diff"),
          round(col("ate_raw"), 6).as("ate"))
    },
      // exactRank replays as one row_number over (n_ev, user_id); cells
      // are BIGINT co-moments, every mean one mirrored division, and the
      // ATE folds diff·n_s in stratum order over the non-null strata
      """WITH ue AS (SELECT user_id, count(*) AS n_ev,
        |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |     AS cents
        |  FROM events GROUP BY user_id),
        |rk AS (SELECT user_id, cents,
        |   row_number() OVER (ORDER BY n_ev, user_id) AS rank,
        |   count(*) OVER () AS n_users FROM ue),
        |st AS (SELECT user_id, cents,
        |   CASE WHEN rank * 5 <= n_users THEN 1
        |        WHEN rank * 5 <= n_users * 2 THEN 2
        |        WHEN rank * 5 <= n_users * 3 THEN 3
        |        WHEN rank * 5 <= n_users * 4 THEN 4
        |        ELSE 5 END AS stratum,
        |   user_id % 2 = 0 AS treat FROM rk),
        |c AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n_s,
        |   CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |   CAST(sum(CASE WHEN treat THEN cents ELSE 0 END) AS BIGINT)
        |     AS c_t,
        |   CAST(sum(CASE WHEN NOT treat THEN cents ELSE 0 END) AS BIGINT)
        |     AS c_c
        |  FROM st GROUP BY stratum),
        |c2 AS (SELECT stratum, n_s, n_t, n_s - n_t AS n_c, c_t, c_c
        |       FROM c),
        |m AS (SELECT stratum, n_s, n_t,
        |   CASE WHEN n_t > 0 THEN CAST(c_t AS DOUBLE) / n_t / 100.0 END
        |     AS m_t,
        |   CASE WHEN n_c > 0 THEN CAST(c_c AS DOUBLE) / n_c / 100.0 END
        |     AS m_c
        |  FROM c2),
        |m2 AS (SELECT stratum, n_s, n_t, m_t, m_c, m_t - m_c AS diff
        |       FROM m),
        |a AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
        |         list(diff * n_s ORDER BY stratum)
        |           FILTER (WHERE diff IS NOT NULL)),
        |         (acc, x) -> acc + x)
        |       / sum(n_s) FILTER (WHERE diff IS NOT NULL) AS ate_raw
        |      FROM m2)
        |SELECT stratum, n_s, n_t,
        | round(CAST(n_t AS DOUBLE) / n_s, 6) AS p_treat,
        | round(m_t, 6) AS mean_treat, round(m_c, 6) AS mean_ctrl,
        | round(diff, 6) AS diff, round(ate_raw, 6) AS ate
        |FROM m2 CROSS JOIN a""".stripMargin),

    Query("stats_corr", (s, d) => {
      // per-lang Pearson correlation of chars vs tokens from exact
      // integer co-moments, so the final corr is ONE fixed double
      // expression over identical inputs on both engines. Spark's
      // built-in corr() keeps incremental double co-moments —
      // summation-order-dependent, it could never hash-match an oracle.
      // The product-moment sums and the closed-form n·sxy − sx·sy
      // products run in DECIMAL(38,0) (per-row products fit a long;
      // the corpus sums and the n-scaled differences pass 2^63 around
      // 10^10-10^11 docs) — DuckDB's sum(BIGINT) is HUGEINT and its
      // mirrored products are HUGEINT, the same exact integers.
      val dec = "decimal(38,0)"
      val base = t(s, d, "documents").select(col("lang"),
        col("n_chars").as("x"),
        size(TermOps.tokens(col("text"))).cast("long").as("y"))
      base.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum((col("x") * col("y")).cast(dec)).as("sxy"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"),
          sum((col("y") * col("y")).cast(dec)).as("syy"))
        .select(col("lang"), col("n").as("n_docs"),
          round((col("n") * col("sxy") -
              (col("sx").cast(dec) * col("sy"))).cast("double") /
            sqrt((col("n") * col("sxx") -
                (col("sx").cast(dec) * col("sx"))).cast("double") *
              (col("n") * col("syy") -
                (col("sy").cast(dec) * col("sy"))).cast("double")), 4)
            .as("corr_chars_tokens"))
    },
      // exact integer co-moments -> identical BIGINTs on both engines;
      // corr is then one fixed double expression (see the query comment)
      """WITH t AS (
        |  SELECT lang, n_chars AS x,
        |   len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |     s -> s <> '')) AS y
        |  FROM documents),
        |a AS (
        |  SELECT lang, count(*) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |  FROM t GROUP BY lang)
        |SELECT lang, n AS n_docs,
        | round(CAST(n*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE) /
        |   sqrt(CAST(n*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE) *
        |        CAST(n*syy - CAST(sy AS HUGEINT)*sy AS DOUBLE)), 4)
        |   AS corr_chars_tokens
        |FROM a""".stripMargin),

    Query("stats_moments", (s, d) => {
      // per-lang skewness of doc length from exact integer co-moments,
      // then ONE fixed-order double expression — same
      // engine-replicability contract as stats_corr; sqrt(m2)*m2
      // instead of pow(m2,1.5) so both engines run the identical IEEE
      // op sequence. The x² and x³ sums run in DECIMAL(38,0): per-row
      // powers fit a long (5000³ ≈ 1.25e11) but the x³ corpus sum
      // passes 2^63 near 7·10^7 docs — DuckDB's sum(BIGINT) is
      // HUGEINT, the same exact integer. (x⁴/kurtosis would fit the
      // decimal headroom too now; out of scope, not out of range.)
      val dec = "decimal(38,0)"
      val agg = t(s, d, "documents")
        .select(col("lang"), col("n_chars").as("x"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"),
          sum((col("x") * col("x") * col("x")).cast(dec)).as("sxxx"))
      val mean = col("sx").cast("double") / col("n")
      val m2 = col("sxx").cast("double") / col("n") - mean * mean
      val m3 = col("sxxx").cast("double") / col("n") -
        lit(3.0) * mean * (col("sxx").cast("double") / col("n")) +
        lit(2.0) * mean * mean * mean
      agg.select(col("lang"), col("n").as("n_docs"),
        round(mean, 4).as("mean_chars"),
        round(m3 / (sqrt(m2) * m2), 4).as("skew_chars"))
    },
      // exact long co-moments -> one fixed-order double expression
      // (sqrt(m2)*m2, not pow) — see stats_corr
      """WITH a AS (
        |  SELECT lang, count(*) AS n,
        |   CAST(sum(n_chars) AS BIGINT) AS sx,
        |   sum(n_chars*n_chars) AS sxx,
        |   sum(n_chars*n_chars*n_chars) AS sxxx
        |  FROM documents GROUP BY lang),
        |m AS (
        |  SELECT lang, n, CAST(sx AS DOUBLE) / n AS mean,
        |   CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS m2,
        |   CAST(sxxx AS DOUBLE) / n
        |     - 3.0 * (CAST(sx AS DOUBLE) / n) * (CAST(sxx AS DOUBLE) / n)
        |     + 2.0 * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS m3
        |  FROM a)
        |SELECT lang, n AS n_docs, round(mean, 4) AS mean_chars,
        | round(m3 / (sqrt(m2) * m2), 4) AS skew_chars
        |FROM m""".stripMargin),

    Query("stats_histogram", (s, d) => {
      // fixed-width binned value profile with cumulative fraction — the
      // ONE-PASS MERGEABLE complement to the exact rank-rule quantiles:
      // bin counts merge by sum across any partitioning (the 100 TB
      // profile is agg-only), and quantile read-off is the first bin
      // with cum_frac ≥ p. The global window runs on O(bins) rows, not
      // O(events); cum/n is a ratio of exact longs so the rounded
      // fraction is engine-identical
      val bins = t(s, d, "events")
        .select(floor(col("value") / 8.0).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt"))
      val n = bins.agg(sum("cnt").as("n"))
      bins.withColumn("cum", sum("cnt").over(Window.orderBy("bin")))
        .crossJoin(broadcast(n))
        .select(col("bin"), (col("bin") * 8.0).as("lo"), col("cnt"),
          round(col("cum").cast("double") / col("n"), 4).as("cum_frac"))
    },
      """WITH b AS (
        |  SELECT CAST(floor(value / 8.0) AS BIGINT) AS bin, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM b)
        |SELECT bin, bin * 8.0::DOUBLE AS lo, cnt,
        | round(CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) * 1.0 / n.n, 4)
        |   AS cum_frac
        |FROM b, n""".stripMargin),

    Query("stats_histogram_grouped", (s, d) => {
      // per-GROUP mergeable histogram — the per-source/lang distribution
      // profile a mixture planner reads: same fixed bins as
      // stats_histogram but keyed by event_type, counts mergeable by sum
      // across any partitioning, output O(groups × bins) rows, and the
      // cumulative window runs per group on those O(bins) rows only
      val bins = t(s, d, "events")
        .select(col("event_type"),
          floor(col("value") / 8.0).cast("long").as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
      val n = bins.groupBy("event_type").agg(sum("cnt").as("n"))
      bins.withColumn("cum",
          sum("cnt").over(Window.partitionBy("event_type").orderBy("bin")))
        .join(broadcast(n), Seq("event_type"))
        .select(col("event_type"), col("bin"), (col("bin") * 8.0).as("lo"),
          col("cnt"),
          round(col("cum").cast("double") / col("n"), 4).as("cum_frac"))
    },
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value / 8.0) AS BIGINT) AS bin,
        |   count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |      FROM b GROUP BY 1)
        |SELECT b.event_type, bin, bin * 8.0::DOUBLE AS lo, cnt,
        | round(CAST(sum(cnt) OVER (PARTITION BY b.event_type ORDER BY bin)
        |   AS BIGINT) * 1.0 / n.n, 4) AS cum_frac
        |FROM b JOIN n USING (event_type)""".stripMargin),

    Query("sketch_quantile_hist", (s, d) => {
      // mergeable equi-width histogram quantile sketch + error audit —
      // the quantile member of the sketch family (CMS=frequency,
      // HLL=distinct, KMV=set ops, bloom=membership): 128 integer
      // bucket counts are map-side combinable (that IS mergeability —
      // shards union by adding counts), the estimate reads the bucket
      // upper edge at the cumulative cut, and the row carries the
      // EXACT quantile (rank rule over the value histogram) beside it
      // so the sketch's error is measured, never assumed (the
      // ann_recall discipline). All integer cents until the /100.
      val ev = t(s, d, "events")
        .select(expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
      val bounds = ev.agg(min("vc").as("lo"), max("vc").as("hi"),
        count(lit(1)).as("n"))
      val buckets = ev.crossJoin(broadcast(bounds))
        .withColumn("b", expr(
          "CAST((vc - lo) * 128 div (hi - lo + 1) AS INT)"))
        .groupBy("b").agg(count(lit(1)).as("cnt"))
      val wCum = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = buckets.withColumn("cum", sum(col("cnt")).over(wCum))
        .crossJoin(broadcast(bounds))
        .localCheckpoint() // three quantile cuts read it
      val hist = ev.groupBy("vc").agg(count(lit(1)).as("c"))
        .withColumn("cumv", sum(col("c")).over(Window.orderBy(col("vc"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(bounds))
        .localCheckpoint()
      def cut(q: Double) = {
        val target = ceil(lit(q) * col("n")).cast("long")
        val est = cum.filter(col("cum") >= target)
          .agg(min(col("b")).as("bq")).crossJoin(broadcast(bounds))
          .select(lit(q).as("q"),
            round((col("lo") + (col("bq") + 1) * (col("hi") - col("lo") + 1)
              .cast("double") / 128.0) / 100.0, 6).as("est"))
        val exact = hist.filter(col("cumv") >= target)
          .agg((min(col("vc")).cast("double") / 100.0).as("exact"))
        // abs_err derives from the two ROUNDED readouts on both engines
        est.crossJoin(broadcast(exact))
          .select(col("q"), col("est"), round(col("exact"), 6).as("exact"))
          .withColumn("abs_err", round(abs(col("est") - col("exact")), 6))
      }
      cut(0.5).unionByName(cut(0.9)).unionByName(cut(0.99))
    },
      // 128 integer bucket counts (map-side mergeable), estimate = bucket
      // upper edge at the cumulative cut, exact = value-histogram rank
      // rule — the error column is the gate
      """WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS vc
        |            FROM events),
        |bd AS (SELECT min(vc) AS lo, max(vc) AS hi,
        |        CAST(count(*) AS BIGINT) AS n FROM ev),
        |bk AS (SELECT CAST((vc - lo) * 128 // (hi - lo + 1) AS INT) AS b,
        |        count(*) AS cnt FROM ev, bd GROUP BY 1),
        |cm AS (SELECT b, sum(cnt) OVER (ORDER BY b
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM bk),
        |hv AS (SELECT vc, sum(c) OVER (ORDER BY vc
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv
        |       FROM (SELECT vc, count(*) AS c FROM ev GROUP BY 1) h),
        |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE,
        |        0.99::DOUBLE]) AS q),
        |est AS (SELECT q,
        |   (SELECT min(b) FROM cm, bd
        |    WHERE cum >= CAST(ceil(q * n) AS BIGINT)) AS bq
        |  FROM qs),
        |ex AS (SELECT q,
        |   (SELECT CAST(min(vc) AS DOUBLE) / 100.0 FROM hv, bd
        |    WHERE cumv >= CAST(ceil(q * n) AS BIGINT)) AS exact
        |  FROM qs),
        |f AS (SELECT est.q,
        |   round((lo + (bq + 1) * CAST(hi - lo + 1 AS DOUBLE) / 128.0)
        |     / 100.0, 6) AS est,
        |   round(exact, 6) AS exact
        |  FROM est JOIN ex USING (q), bd)
        |SELECT q, est, exact, round(abs(est - exact), 6) AS abs_err
        |FROM f""".stripMargin),

    Query("sketch_kmv_grouped", (s, d) =>
      // per-group KMV distinct: approx distinct users per event type with
      // O(k) state per group — k=64 keeps sf0.01 (150 users) on the
      // estimator path and sf0.001 (15 users) on the exact-count path
      SketchOps.kmvDistinctByKey(t(s, d, "events"), "event_type",
        "user_id", k = 64),
      // per-group KMV with the same hash32 replication as sketch_kmv
      s"""WITH hu AS (
         |  SELECT DISTINCT event_type, ${hash32Sql("(user_id)")} AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (
         |  SELECT event_type, h,
         |   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM hu)
         |SELECT event_type, count(*) AS k_used, max(h) AS kth_hash,
         | CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round((count(*) - 1) * 4294967296.0 / max(h), 2)
         | END AS estimate
         |FROM r WHERE rn <= 64 GROUP BY event_type""".stripMargin),

    Query("sketch_countmin", (s, d) => {
      // count-min frequency sketch over event user_ids (3×256 cells,
      // narrow enough that sf0.01's key set forces real bucket
      // collisions), estimates answered for every distinct user and
      // joined to the exact counts — n_est >= n_exact always, equality
      // where no collision inflated any of the 3 cells
      val ev = t(s, d, "events")
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      SketchOps.countMinEstimates(ev, "user_id", ev, depth = 3, width = 256)
        .join(exact, Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("n_est"))
    },
      // full CMS replication: depth 3 / width 256 counter matrix from the
      // seed-suffixed FNV family, estimate = min over the 3 cells
      s"""WITH seeds AS (SELECT unnest(generate_series(0, 2)) AS j),
         |h AS (
         |  SELECT user_id, j,
         |   ${fnvSql("CAST(user_id AS VARCHAR) || '#' || j")} % 256 AS bucket
         |  FROM events, seeds),
         |sketch AS (SELECT j, bucket, count(*) AS cnt FROM h GROUP BY j, bucket),
         |cpos AS (SELECT DISTINCT user_id, j, bucket FROM h),
         |est AS (
         |  SELECT c.user_id, min(s.cnt) AS n_est
         |  FROM cpos c JOIN sketch s ON c.j = s.j AND c.bucket = s.bucket
         |  GROUP BY c.user_id),
         |exact AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id)
         |SELECT e.user_id, x.n_exact, CAST(e.n_est AS BIGINT) AS n_est
         |FROM est e JOIN exact x ON e.user_id = x.user_id""".stripMargin),

    Query("sketch_hll", (s, d) =>
      // HyperLogLog distinct-user summary: 64 registers, exact-integer
      // register sum, linear-counting small-range correction — sf0.001
      // (15 users) lands on the LC branch, sf0.1 (1500) on the raw one
      SketchOps.hllSummary(t(s, d, "events"), "user_id"),
      // HLL replayed bit-for-bit: 32-bit FNV fold, bucket = low 6 bits,
      // rho from length(bin(rest)) (integer-exact leftmost-bit position),
      // register sum scaled to exact BIGINT, double math only in the final
      // division chain / ln — every float op spelled identically on both
      // engines (::DOUBLE everywhere: DuckDB parses bare float literals as
      // DECIMAL, whose arithmetic diverges from Spark's doubles)
      s"""$hllBucketsSql,
         |r AS (
         |  SELECT bucket,
         |   max(CASE WHEN rest = 0 THEN 27
         |       ELSE 27 - CAST(length(bin(rest)) AS INT) END) AS rho
         |  FROM b GROUP BY bucket),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m_used,
         |   CAST(sum(1::BIGINT << (30 - rho)) AS BIGINT) AS s_present
         |  FROM r),
         |t AS (
         |  SELECT 64 - m_used AS v_zero,
         |   s_present + (64 - m_used) * 1073741824 AS s_scaled
         |  FROM s)
         |SELECT v_zero, s_scaled,
         | round(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE)
         |   * 4096.0::DOUBLE * 1073741824.0::DOUBLE / s_scaled, 2) AS est_raw,
         | CASE WHEN 0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE)
         |       * 4096.0::DOUBLE * 1073741824.0::DOUBLE / s_scaled <= 160.0::DOUBLE
         |      AND v_zero > 0
         |   THEN round(64.0::DOUBLE * ln(64.0::DOUBLE / v_zero), 2)
         |   ELSE round(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE)
         |     * 4096.0::DOUBLE * 1073741824.0::DOUBLE / s_scaled, 2)
         | END AS est
         |FROM t""".stripMargin),

    Query("sketch_hll_merge", (s, d) => {
      // the merge law through the gate: registers computed per shard and
      // merged by cell-wise MAX must equal the whole-set registers — the
      // oracle computes them globally, so a hash match proves that
      // distributed/incremental HLL maintenance loses nothing
      val ev = t(s, d, "events")
      (0 until 4)
        .map(i => SketchOps.hllRegisters(
          ev.filter(col("event_id") % 4 === i), "user_id"))
        .reduce(_ unionByName _)
        .groupBy("bucket").agg(max(col("rho")).as("rho"))
    },
      // the oracle computes the registers GLOBALLY; Spark computes them per
      // shard and max-merges — a hash match proves the merge law
      s"""$hllBucketsSql
         |SELECT bucket,
         | max(CASE WHEN rest = 0 THEN 27
         |     ELSE 27 - CAST(length(bin(rest)) AS INT) END) AS rho
         |FROM b GROUP BY bucket""".stripMargin),

    Query("stats_quantile_est", (s, d) =>
      // approximate per-type quantiles read off the mergeable fixed-bin
      // histogram (error <= bin width): the O(groups×bins) sketch path
      // beside the exact rank-rule stats_group_quantiles
      SketchOps.histogramQuantiles(t(s, d, "events"), "event_type", "value",
        binWidth = 8.0, probs = Seq(0.5, 0.9, 0.99)),
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value / 8.0) AS BIGINT) AS bin,
        |   count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bin, CAST(cnt AS BIGINT) AS cnt,
        |   CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)
        |     AS BIGINT) AS cum
        |  FROM b),
        |n AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
        |      FROM b GROUP BY 1),
        |p(p) AS (VALUES (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE))
        |SELECT c.event_type, p.p,
        | round(CAST(c.bin AS DOUBLE) * 8.0::DOUBLE + 8.0::DOUBLE *
        |   (p.p * CAST(n.n AS DOUBLE) - CAST(c.cum - c.cnt AS DOUBLE)) /
        |   CAST(c.cnt AS DOUBLE), 4) AS q_est
        |FROM c JOIN n USING (event_type), p
        |WHERE CAST(c.cum AS DOUBLE) >= p.p * CAST(n.n AS DOUBLE)
        |  AND CAST(c.cum - c.cnt AS DOUBLE) < p.p * CAST(n.n AS DOUBLE)""".stripMargin),

    Query("stats_expectations", (s, d) =>
      // Deequ-style declarative data-quality gate: six checks in ONE
      // aggregation pass (uniqueness rides the same Aggregate via
      // Expand); the text-length reconciliation is a real cross-column
      // constraint on the driver data
      ValidationOps.expectations(t(s, d, "documents"),
        Seq(
          "doc_id_not_null" -> col("doc_id").isNull,
          "lang_in_domain" -> (col("lang").isNull ||
            !col("lang").isin("en", "de", "es", "fr", "zh")),
          "n_chars_positive" -> (col("n_chars") <= 0L),
          "text_nonempty" -> (length(col("text")) === 0),
          "n_chars_matches_text" ->
            (length(col("text")).cast("long") =!= col("n_chars"))),
        uniqueKeys = Seq("doc_id_unique" -> "doc_id")),
      """WITH v(check_name, n_violations) AS (
        | SELECT 'doc_id_not_null',
        |   CAST(count(*) FILTER (WHERE doc_id IS NULL) AS BIGINT) FROM documents
        | UNION ALL SELECT 'lang_in_domain',
        |   CAST(count(*) FILTER (WHERE lang IS NULL
        |     OR lang NOT IN ('en','de','es','fr','zh')) AS BIGINT) FROM documents
        | UNION ALL SELECT 'n_chars_positive',
        |   CAST(count(*) FILTER (WHERE n_chars <= 0) AS BIGINT) FROM documents
        | UNION ALL SELECT 'text_nonempty',
        |   CAST(count(*) FILTER (WHERE length(text) = 0) AS BIGINT) FROM documents
        | UNION ALL SELECT 'n_chars_matches_text',
        |   CAST(count(*) FILTER (WHERE length(text) <> n_chars) AS BIGINT) FROM documents
        | UNION ALL SELECT 'doc_id_unique',
        |   CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT) FROM documents)
        |SELECT check_name, n_violations, n_violations = 0 AS pass FROM v""".stripMargin),

    Query("stats_drift", (s, d) =>
      // two-sample KS drift per event type: even event_ids are the
      // reference batch, odd the new batch — rank-exact ECDF gap, no
      // approximation, the distribution-shift monitor beside the
      // constraint-based stats_expectations
      ValidationOps.ksDrift(t(s, d, "events"), "event_type", "value",
        col("event_id") % 2 === 1),
      // per-(group, value) cells are distinct, so the cumulative window
      // has no tie ambiguity; ks = max over ratios of exact longs
      ksDriftSql),

    Query("stats_fdr", (s, d) => {
      // Benjamini-Hochberg FDR over the per-type KS drift monitors —
      // the multiple-testing correction a fleet of drift alarms needs
      // before paging anyone: asymptotic p ≈ min(1, 2e^{−2λ²}) with
      // λ = D·√(n_a·n_b/(n_a+n_b)) on the ROUNDED gate D (identical
      // doubles both engines), then reject ranks ≤ max{k: p ≤ kα/m}
      // at α = 0.05. m is tiny (one test per type) — the whole
      // correction runs on the aggregated test table.
      val ks = ValidationOps.ksDrift(t(s, d, "events"), "event_type",
        "value", col("event_id") % 2 === 1)
      val m = ks.agg(count(lit(1)).cast("double").as("m"))
      val lam = sqrt(col("n_a").cast("double") * col("n_b") /
        (col("n_a") + col("n_b"))) * col("ks")
      val p = ks
        .withColumn("p",
          least(lit(1.0), lit(2.0) * exp(lit(-2.0) * lam * lam)))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("p"), col("event_type"))).cast("int"))
      val km = p.crossJoin(broadcast(m))
        .filter(col("p") <= col("rank").cast("double") * lit(0.05) / col("m"))
        .agg(coalesce(max(col("rank")), lit(0)).as("kmax"))
      p.crossJoin(broadcast(km))
        .select(col("event_type"), col("ks"), round(col("p"), 6).as("p"),
          col("rank"), (col("rank") <= col("kmax")).as("reject"))
    },
      // the per-type KS tests → asymptotic p ≈ min(1, 2e^{−2λ²}) with
      // λ = D·√(n_a·n_b/(n_a+n_b)), then Benjamini-Hochberg at α = 0.05:
      // reject ranks ≤ max{k : p_(k) ≤ k·α/m}
      s"""WITH ks AS ($ksDriftSql),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM ks),
         |pp AS (SELECT event_type, ks,
         |        least(1.0::DOUBLE, 2.0::DOUBLE * exp(-2.0::DOUBLE *
         |          (sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)) * ks) *
         |          (sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)) * ks)))
         |          AS p
         |       FROM ks),
         |r AS (SELECT event_type, ks, p,
         |       CAST(row_number() OVER (ORDER BY p, event_type) AS INT)
         |         AS rank
         |      FROM pp),
         |km AS (SELECT coalesce(max(rank), 0) AS kmax
         |       FROM r, m WHERE p <= rank * 0.05::DOUBLE / m)
         |SELECT event_type, ks, round(p, 6) AS p, rank,
         | rank <= kmax AS reject
         |FROM r, km""".stripMargin),

    Query("stats_auc", (s, d) =>
      // does doc length separate English from non-English? Probably not
      // (AUC ≈ 0.5) — and that NUMBER is the point: the ranking-metric
      // harness a quality-classifier score gets evaluated with before it
      // gates a corpus. Tie-corrected Mann-Whitney, integer-exact until
      // one final division
      ValidationOps.rocAuc(t(s, d, "documents"), col("n_chars"),
        col("lang") === "en"),
      // tie-group average ranks carried as 2×rank (integer-exact): r2 =
      // 2·cum − n + 1; AUC = (ΣR2⁺ − np(np+1)) / (2·np·nn), one final
      // double division on both engines
      """WITH cells AS (
        |  SELECT n_chars AS v, count(*) AS n,
        |   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS npos
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT n, npos,
        |   2*sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW) - n + 1 AS r2
        |  FROM cells)
        |SELECT CAST(sum(npos) AS BIGINT) AS n_pos,
        | CAST(sum(n - npos) AS BIGINT) AS n_neg,
        | round(CAST(sum(npos*r2) - sum(npos)*(sum(npos)+1) AS DOUBLE) /
        |       (2.0 * sum(npos) * sum(n - npos)), 6) AS auc
        |FROM r""".stripMargin)
  )
}
