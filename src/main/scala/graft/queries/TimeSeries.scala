package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKit._

/** Time-series analytics over the event log (t*): one [[Query]] record per
  * query. */
private[graft] object TimeSeries {

  /** Each type's daily value total in integer cents: (event_type, day,
    * c), days without events absent. */
  private def dailyCents(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(col("event_type"),
        expr("CAST(ts AS LONG) div 86400").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c"))

  /** The oracle twin of [[dailyCents]], as a WITH prefix ending in CTE
    * `daily`. */
  private val dailyCentsSql =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
      |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** The exact-integer lag moments of a [[dailyGrid]] for lags k = 1..7,
    * one row per (event_type, k): sxy = Σ c·c₊ₖ, sh = Σ c, st = Σ c₊ₖ
    * over the pairs a dense grid holds (exactly t ≤ n−k, an equi-join on
    * day + k, never a window), joined to the type's n, s = Σ c and
    * q = Σ c². */
  private def lagMoments(grid: DataFrame): DataFrame = {
    val base = grid.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        sum(col("c") * col("c")).as("q"))
    grid
      .select(col("event_type"), col("day"), col("c"),
        explode(sequence(lit(1L), lit(7L))).as("k"))
      .withColumn("day2", col("day") + col("k"))
      .join(grid.select(col("event_type"), col("day").as("day2"),
        col("c").as("c2")), Seq("event_type", "day2"))
      .groupBy("event_type", "k")
      .agg(sum(col("c") * col("c2")).as("sxy"),
        sum(col("c")).as("sh"), sum(col("c2")).as("st"))
      .join(base, "event_type")
  }

  /** The oracle twin of [[lagMoments]] over CTE `grid`: CTEs `base`
    * (event_type, n, s, q) and `pairs` (event_type, k, sxy, sh, st). */
  private val lagMomentsSql =
    """base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |   CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
      |  FROM grid GROUP BY 1),
      |pairs AS (
      |  SELECT g1.event_type, k.k,
      |   CAST(sum(g1.c * g2.c) AS BIGINT) AS sxy,
      |   CAST(sum(g1.c) AS BIGINT) AS sh, CAST(sum(g2.c) AS BIGINT) AS st
      |  FROM grid g1,
      |   (SELECT unnest(generate_series(1, 7)) AS k) k,
      |   grid g2
      |  WHERE g1.event_type = g2.event_type AND g2.day = g1.day + k.k
      |  GROUP BY 1, 2)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("t1_roundup_hour", (s, d) =>
      t(s, d, "events")
        .groupBy(date_format(RevisionOps.roundUp(col("ts"), 3600L), "yyyy-MM-dd HH:mm:ss")
          .as("bucket"))
        .agg(count(lit(1)).as("n_events")),
      """SELECT strftime(make_timestamp(epoch_us(ts) +
        |  (((0 - epoch_us(ts)) % 3600000000 + 3600000000) % 3600000000)),
        |  '%Y-%m-%d %H:%M:%S') AS bucket,
        | count(*) AS n_events
        |FROM events GROUP BY bucket""".stripMargin),

    Query("t1_roundup_day_anchored", (s, d) =>
      // day buckets anchored at 01:00, the reference's day semantics
      t(s, d, "events")
        .groupBy(date_format(RevisionOps.roundUp(col("ts"), 86400L, 3600L),
          "yyyy-MM-dd HH:mm:ss").as("bucket"))
        .agg(count(lit(1)).as("n_events")),
      """SELECT strftime(make_timestamp(epoch_us(ts) +
        |  (((3600000000 - epoch_us(ts)) % 86400000000 + 86400000000) % 86400000000)),
        |  '%Y-%m-%d %H:%M:%S') AS bucket,
        | count(*) AS n_events
        |FROM events GROUP BY bucket""".stripMargin),

    Query("t2_interval_bucket", (s, d) =>
      t(s, d, "events")
        .groupBy(RevisionOps.intervalBucket(col("ts"), 21600000L).as("bucket"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value")),
      """SELECT CAST(floor(CAST(epoch_ms(ts) AS DOUBLE) / 21600000) AS BIGINT) AS bucket,
        | count(*) AS n_events, round(sum(value),2) AS sum_value
        |FROM events GROUP BY bucket""".stripMargin),

    Query("t25_backtest", (s, d) => {
      // walk-forward 1-step-ahead backtest of the Holt smoother — the
      // EVAL row the forecasting family lacked (does the model actually
      // predict?): at every step the PRE-update state forecasts the
      // incoming day, the absolute error accumulates INSIDE the same
      // ordered fold (state widens to [l, b, Σ|err|, n] — the t14
      // list-state discipline), and MAE = Σ|err|/n per event_type.
      // Daily sums are exact integer cents, so both engines fold
      // identical IEEE sequences.
      val daily = t(s, d, "events")
        .select(col("event_type"),
          expr("CAST(ts AS LONG) div 86400").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("c"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          array_sort(collect_list(struct(col("day"), col("c")))).as("a"))
        .withColumn("xs",
          expr("transform(a, p -> CAST(p.c AS DOUBLE) / 100.0D)"))
        .withColumn("st", expr(
          """aggregate(slice(xs, 2, size(xs) - 1),
            |  array(element_at(xs, 1), 0.0D, 0.0D, 0.0D),
            |  (acc, x) -> array(
            |    0.5D * x + 0.5D * (element_at(acc, 1) + element_at(acc, 2)),
            |    0.25D * ((0.5D * x + 0.5D * (element_at(acc, 1) +
            |      element_at(acc, 2))) - element_at(acc, 1))
            |      + 0.75D * element_at(acc, 2),
            |    element_at(acc, 3) +
            |      abs(x - (element_at(acc, 1) + element_at(acc, 2))),
            |    element_at(acc, 4) + 1.0D))""".stripMargin))
        .select(col("event_type"), col("n_days"),
          round(element_at(col("st"), 3) / element_at(col("st"), 4), 6)
            .as("mae"),
          round(element_at(col("st"), 1) + element_at(col("st"), 2), 6)
            .as("forecast"))
    },
      // exact integer cents make the fold's starting doubles identical.
      // State rides a 2-element DOUBLE list [level, trend]: this DuckDB's
      // list_reduce evaluates STRUCT-state fields non-independently (a
      // {'s': f(acc), 't': acc.s} fold returns t == s), while list-state
      // folds are correct — probed before wiring
      // the t14 fold widened to 4-element list state; error uses the
      // PRE-update level+trend, literals all ::DOUBLE
      s"""$dailyCentsSql,
        |s AS (SELECT event_type, count(*) AS n_days,
        |       list(CAST(c AS DOUBLE) / 100.0::DOUBLE ORDER BY day) AS xs
        |      FROM daily GROUP BY 1),
        |f AS (SELECT event_type, n_days,
        |  list_reduce(list_prepend(
        |    [xs[1], 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
        |    list_transform(xs[2:],
        |      x -> [x, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
        |    (acc, x) -> [
        |      0.5::DOUBLE * x[1] + 0.5::DOUBLE * (acc[1] + acc[2]),
        |      0.25::DOUBLE * ((0.5::DOUBLE * x[1] +
        |        0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
        |      + 0.75::DOUBLE * acc[2],
        |      acc[3] + abs(x[1] - (acc[1] + acc[2])),
        |      acc[4] + 1.0::DOUBLE]) AS st
        |  FROM s)
        |SELECT event_type, n_days, round(st[3] / st[4], 6) AS mae,
        | round(st[1] + st[2], 6) AS forecast
        |FROM f""".stripMargin),

    Query("t14_holt", (s, d) => {
      // Holt's linear (level+trend) smoothing per user over the
      // day-aggregated value series, α=1/2 β=1/4 (binary fractions).
      // Daily sums are exact INTEGER cents, so the fold starts from
      // identical doubles on any engine; the recurrence is one ordered
      // fold over each user's day-sorted array (state O(1), arrays
      // bounded by a user's active days); forecast = level + trend
      val daily = t(s, d, "events")
        .select(col("user_id"),
          expr("CAST(ts AS LONG) div 86400").as("day"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("cents")).as("c"))
      daily.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          array_sort(collect_list(struct(col("day"), col("c")))).as("a"))
        .withColumn("xs", expr("transform(a, p -> CAST(p.c AS DOUBLE) / 100.0D)"))
        .withColumn("st", expr(
          """aggregate(slice(xs, 2, size(xs) - 1),
            |  named_struct('l', element_at(xs, 1), 'b', CAST(0.0 AS DOUBLE)),
            |  (acc, x) -> named_struct(
            |    'l', 0.5D * x + 0.5D * (acc.l + acc.b),
            |    'b', 0.25D * ((0.5D * x + 0.5D * (acc.l + acc.b)) - acc.l)
            |         + 0.75D * acc.b))""".stripMargin))
        .select(col("user_id"), col("n_days"),
          round(col("st.l"), 6).as("level"),
          round(col("st.b"), 6).as("trend"),
          round(col("st.l") + col("st.b"), 6).as("forecast"))
    },
      """WITH daily AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS day,
        |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, count(*) AS n_days,
        |       list(CAST(c AS DOUBLE) / 100.0::DOUBLE ORDER BY day) AS xs
        |      FROM daily GROUP BY 1),
        |f AS (SELECT user_id, n_days,
        |  list_reduce(list_prepend([xs[1], 0.0::DOUBLE],
        |    list_transform(xs[2:], x -> [x, 0.0::DOUBLE])),
        |    (acc, x) -> [
        |      0.5::DOUBLE * x[1] + 0.5::DOUBLE * (acc[1] + acc[2]),
        |      0.25::DOUBLE * ((0.5::DOUBLE * x[1] +
        |        0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
        |      + 0.75::DOUBLE * acc[2]]) AS st
        |  FROM s)
        |SELECT user_id, n_days, round(st[1], 6) AS level,
        | round(st[2], 6) AS trend, round(st[1] + st[2], 6) AS forecast
        |FROM f""".stripMargin),

    Query("t15_acf", (s, d) => {
      // autocorrelation of the DAILY event-count series per event_type at
      // lags 1..7 — the periodicity detector behind the t11 seasonal
      // profile (a weekly cycle shows as an acf peak at k=7). Series is
      // the dense day grid (missing days count 0, as a counting process
      // must); the standard estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄)/Σ(x−x̄)²
      // is cleared of the rational x̄ by scaling num and den by n², so
      // every aggregate is an exact integer and the one double division
      // replays bit-identically. Lag pairs come from an equi-join of the
      // grid against itself on (type, day+k) — dense grid ⇒ exactly the
      // t ≤ n−k pairs — never a window over the series.
      val grid = dailyGrid(s, d)
        .localCheckpoint() // reused by the base stats and the lag pairs
      lagMoments(grid)
        .withColumn("num", (col("n") * col("n")).cast("double") * col("sxy") -
          col("n").cast("double") * col("s") * (col("sh") + col("st")) +
          (col("n") - col("k")).cast("double") * col("s") * col("s"))
        .withColumn("den", (col("n") * col("n")).cast("double") * col("q") -
          col("n").cast("double") * col("s") * col("s"))
        .filter(col("den") > 0)
        .select(col("event_type"), col("k"), col("n"),
          round(col("num") / col("den"), 6).as("acf"))
    },
      // num and den are the n²-scaled exact-integer forms of the standard
      // acf estimator; the dense grid makes the lag join exactly t ≤ n−k
      s"""$dailyGridSql,
        |$lagMomentsSql,
        |f AS (SELECT p.event_type, p.k, b.n,
        |   CAST(b.n * b.n AS DOUBLE) * p.sxy
        |     - CAST(b.n AS DOUBLE) * b.s * (p.sh + p.st)
        |     + CAST(b.n - p.k AS DOUBLE) * b.s * b.s AS num,
        |   CAST(b.n * b.n AS DOUBLE) * b.q
        |     - CAST(b.n AS DOUBLE) * b.s * b.s AS den
        |  FROM pairs p JOIN base b ON p.event_type = b.event_type)
        |SELECT event_type, k, n, round(num / den, 6) AS acf
        |FROM f WHERE den > 0""".stripMargin),

    Query("t16_decay", (s, d) => {
      // recency-weighted engagement per user: Σ cents·2^(20−age_days)
      // over a 20-day horizon with a 1-day half-life — the freshness
      // score feeds retention triage. Weights are integral POWERS OF TWO
      // (pow(2, k) is exact for integer k), so the weighted sum is one
      // exact LONG and the final /2^20 division is the only double. The
      // "now" anchor is the corpus max day: a one-row broadcast, not a
      // driver round-trip.
      val ev = t(s, d, "events").select(col("user_id"),
        expr("CAST(ts AS LONG) div 86400").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val now = ev.agg(max("day").as("now_day"))
      ev.crossJoin(broadcast(now))
        .withColumn("age", col("now_day") - col("day"))
        .filter(col("age") <= 20)
        .withColumn("w", expr("CAST(pow(2, 20 - age) AS BIGINT)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_recent"),
          sum(col("cents") * col("w")).as("raw"))
        .select(col("user_id"), col("n_recent"),
          round(col("raw").cast("double") / lit(1048576.0), 6).as("decayed"))
    },
      // integral power-of-two weights: pow(2, k) is exact, the weighted
      // sum is one exact BIGINT, /2^20 is the only double
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT max(day) AS now_day FROM ev),
        |w AS (SELECT user_id, cents,
        |    CAST(pow(2, 20 - (now_day - day)) AS BIGINT) AS w
        |  FROM ev, m WHERE now_day - day <= 20)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
        | round(CAST(sum(cents * w) AS DOUBLE) / 1048576.0::DOUBLE, 6)
        |   AS decayed
        |FROM w GROUP BY 1""".stripMargin),

    Query("t30_granger", (s, d) => {
      // Granger causality (p = 1) between the click and purchase daily
      // series — "do clicks predict tomorrow's purchases beyond what
      // purchases predict themselves?", the forecasting family's
      // causal-screening row. Restricted model y_t ~ y_{t−1} vs
      // unrestricted y_t ~ y_{t−1} + x_{t−1}; F = (RSS_r − RSS_u)·
      // (n−3)/RSS_u from the closed-form 2-regressor OLS over exact
      // integer co-moments on the dense gap-filled day grid (the
      // t17_ols conventions; the n-scaled centered co-moments are
      // mirrored double products). Both directions in one grid pass;
      // degenerate series (zero determinant / zero residual) yield
      // null, never NaN. Grid fanout is bounded by the day span.
      val daily = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"),
          expr("CAST(ts AS LONG) div 86400").as("day"))
        .groupBy("day")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("ck"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("pu"))
      val grid = daily.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("day"), "left_outer")
        .select(col("day"), coalesce(col("ck"), lit(0L)).as("ck"),
          coalesce(col("pu"), lit(0L)).as("pu"))
      val w = Window.orderBy(col("day"))
      val lagged = grid
        .withColumn("ck1", lag(col("ck"), 1).over(w))
        .withColumn("pu1", lag(col("pu"), 1).over(w))
        .filter(col("ck1").isNotNull)
        .localCheckpoint() // two consumers (both directions)
      def dir(y: String, u: String, v: String, label: String) = {
        def a(sp: String, sq: String, spq: String) =
          col("n").cast("double") * col(spq) -
            col(sp).cast("double") * col(sq)
        lagged.agg(count(lit(1)).as("n"),
            sum(col(u)).as("su"), sum(col(v)).as("sv"),
            sum(col(y)).as("sy"),
            sum(col(u) * col(u)).as("suu"), sum(col(v) * col(v)).as("svv"),
            sum(col(u) * col(v)).as("suv"), sum(col(u) * col(y)).as("suy"),
            sum(col(v) * col(y)).as("svy"), sum(col(y) * col(y)).as("syy"))
          .withColumn("auu", a("su", "su", "suu"))
          .withColumn("avv", a("sv", "sv", "svv"))
          .withColumn("auv", a("su", "sv", "suv"))
          .withColumn("auy", a("su", "sy", "suy"))
          .withColumn("avy", a("sv", "sy", "svy"))
          .withColumn("ayy", a("sy", "sy", "syy"))
          .withColumn("det",
            col("auu") * col("avv") - col("auv") * col("auv"))
          .withColumn("b", when(col("det") =!= 0.0, (col("auy") * col("avv") -
            col("avy") * col("auv")) / col("det")))
          .withColumn("c", when(col("det") =!= 0.0, (col("avy") * col("auu") -
            col("auy") * col("auv")) / col("det")))
          .withColumn("qr",
            col("ayy") - col("auy") * col("auy") / col("auu"))
          .withColumn("qu",
            col("ayy") - col("b") * col("auy") - col("c") * col("avy"))
          .withColumn("f", when(col("det") =!= 0.0 && col("qu") > 0.0,
            (col("qr") - col("qu")) *
              (col("n").cast("double") - lit(3.0)) / col("qu")))
          .select(lit(label).as("direction"), col("n"),
            round(col("b"), 6).as("ar_coef"),
            round(col("c"), 6).as("causal_coef"),
            round(col("f"), 6).as("f_stat"),
            (col("f") > lit(4.0)).as("granger"))
      }
      dir("pu", "pu1", "ck1", "click->purchase")
        .unionByName(dir("ck", "ck1", "pu1", "purchase->click"))
    },
      // the identical closed-form 2-regressor OLS per direction; every
      // centered co-moment is the mirrored double product of exact
      // integer sums, guards mirror as CASE WHEN
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 1000000 // 86400 AS day,
        |   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS ck,
        |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS pu
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (
        |  SELECT g.day, coalesce(ck, 0) AS ck, coalesce(pu, 0) AS pu
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM span) g
        |  LEFT JOIN daily USING (day)),
        |lg AS (SELECT day, ck, pu,
        |   lag(ck) OVER (ORDER BY day) AS ck1,
        |   lag(pu) OVER (ORDER BY day) AS pu1 FROM grid),
        |l2 AS (SELECT * FROM lg WHERE ck1 IS NOT NULL),
        |cm AS (
        |  SELECT 'click->purchase' AS direction,
        |   CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(pu1) AS BIGINT) AS su, CAST(sum(ck1) AS BIGINT) AS sv,
        |   CAST(sum(pu) AS BIGINT) AS sy,
        |   CAST(sum(pu1*pu1) AS BIGINT) AS suu,
        |   CAST(sum(ck1*ck1) AS BIGINT) AS svv,
        |   CAST(sum(pu1*ck1) AS BIGINT) AS suv,
        |   CAST(sum(pu1*pu) AS BIGINT) AS suy,
        |   CAST(sum(ck1*pu) AS BIGINT) AS svy,
        |   CAST(sum(pu*pu) AS BIGINT) AS syy
        |  FROM l2
        |  UNION ALL
        |  SELECT 'purchase->click',
        |   CAST(count(*) AS BIGINT),
        |   CAST(sum(ck1) AS BIGINT), CAST(sum(pu1) AS BIGINT),
        |   CAST(sum(ck) AS BIGINT),
        |   CAST(sum(ck1*ck1) AS BIGINT), CAST(sum(pu1*pu1) AS BIGINT),
        |   CAST(sum(ck1*pu1) AS BIGINT), CAST(sum(ck1*ck) AS BIGINT),
        |   CAST(sum(pu1*ck) AS BIGINT), CAST(sum(ck*ck) AS BIGINT)
        |  FROM l2),
        |ac AS (SELECT direction, n,
        |   CAST(n AS DOUBLE) * suu - CAST(su AS DOUBLE) * su AS auu,
        |   CAST(n AS DOUBLE) * svv - CAST(sv AS DOUBLE) * sv AS avv,
        |   CAST(n AS DOUBLE) * suv - CAST(su AS DOUBLE) * sv AS auv,
        |   CAST(n AS DOUBLE) * suy - CAST(su AS DOUBLE) * sy AS auy,
        |   CAST(n AS DOUBLE) * svy - CAST(sv AS DOUBLE) * sy AS avy,
        |   CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS ayy
        |  FROM cm),
        |dd AS (SELECT direction, n, auu, avv, auv, auy, avy, ayy,
        |   auu * avv - auv * auv AS det FROM ac),
        |bc AS (SELECT direction, n, auy, avy, ayy, auu, det,
        |   CASE WHEN det <> 0.0::DOUBLE
        |     THEN (auy * avv - avy * auv) / det END AS b,
        |   CASE WHEN det <> 0.0::DOUBLE
        |     THEN (avy * auu - auy * auv) / det END AS c
        |  FROM dd),
        |q AS (SELECT direction, n, b, c, det,
        |   ayy - auy * auy / auu AS qr,
        |   ayy - b * auy - c * avy AS qu
        |  FROM bc),
        |f AS (SELECT direction, n, b, c,
        |   CASE WHEN det <> 0.0::DOUBLE AND qu > 0.0::DOUBLE
        |     THEN (qr - qu) * (CAST(n AS DOUBLE) - 3.0::DOUBLE) / qu
        |   END AS fv
        |  FROM q)
        |SELECT direction, n, round(b, 6) AS ar_coef,
        | round(c, 6) AS causal_coef, round(fv, 6) AS f_stat,
        | fv > 4.0::DOUBLE AS granger
        |FROM f""".stripMargin),

    Query("t17_ols", (s, d) => {
      // OLS linear trend of the daily event-count series per event_type
      // (slope/intercept/R² — the model-free complement of t14_holt's
      // recursive smoother): x = day index on the dense grid, y = count,
      // every co-moment an exact integer, the three outputs mirrored
      // double expressions over them. Grid fanout is bounded by the day
      // span; the only corpus exchange is the (type, day) count.
      val daily = t(s, d, "events")
        .select(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      val grid = daily.groupBy("event_type")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("event_type"), col("d0"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("event_type", "day"), "left_outer")
        .select(col("event_type"), (col("day") - col("d0")).as("x"),
          coalesce(col("c"), lit(0L)).as("y"))
      grid.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("dx", col("n").cast("double") * col("sxx") -
          col("sx").cast("double") * col("sx"))
        .withColumn("dy", col("n").cast("double") * col("syy") -
          col("sy").cast("double") * col("sy"))
        .withColumn("cv", col("n").cast("double") * col("sxy") -
          col("sx").cast("double") * col("sy"))
        .filter(col("dx") > 0 && col("dy") > 0)
        .select(col("event_type"), col("n"),
          round(col("cv") / col("dx"), 6).as("slope"),
          round((col("sy").cast("double") - col("cv") / col("dx") * col("sx"))
            / col("n"), 6).as("intercept"),
          round(col("cv") * col("cv") / (col("dx") * col("dy")), 6).as("r2"))
    },
      // dense-grid x = day index, y = count; dx/dy/cv are the n-scaled
      // exact-integer co-moments cast to double operand-for-operand
      s"""$daySpansSql,
        |grid AS (
        |  SELECT g.event_type, g.day - g.d0 AS x, coalesce(d.c, 0) AS y
        |  FROM (SELECT event_type, d0,
        |         unnest(generate_series(d0, d1)) AS day FROM spans) g
        |  LEFT JOIN daily d ON g.event_type = d.event_type AND g.day = d.day),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x * y) AS BIGINT) AS sxy,
        |   CAST(sum(x * x) AS BIGINT) AS sxx,
        |   CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM grid GROUP BY 1),
        |f AS (SELECT event_type, n, sy, sx,
        |   CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS dx,
        |   CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS dy,
        |   CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cv
        |  FROM a)
        |SELECT event_type, n, round(cv / dx, 6) AS slope,
        | round((CAST(sy AS DOUBLE) - cv / dx * sx) / n, 6) AS intercept,
        | round(cv * cv / (dx * dy), 6) AS r2
        |FROM f WHERE dx > 0 AND dy > 0""".stripMargin),

    Query("t18_decompose", (s, d) => {
      // STL-lite weekly decomposition of the daily count series per
      // event_type: trend = 7-day centered moving average, seasonal =
      // per-weekday mean of the detrended series, strength = 1 −
      // SS_within/SS_total over the weekday grouping (variance explained
      // by seasonality). Everything rides ×420 integers (420 = lcm of
      // the edge-window sizes 4..7, so the moving average is INTEGRAL:
      // trend420 = windowSum · 420/windowCount) — the only doubles are
      // mirrored final divisions, and the 7-term weekday fold is an
      // ORDERED array fold, so cross-engine sums can't reorder.
      val grid = dailyGrid(s, d)
      val wMa = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val det = grid
        .withColumn("trend420",
          sum(col("c")).over(wMa) * (lit(420L) / count(lit(1)).over(wMa))
            .cast("long"))
        .withColumn("det", lit(420L) * col("c") - col("trend420"))
        .withColumn("weekday", pmod(col("day") + 4, lit(7)))
      val byW = det.groupBy("event_type", "weekday")
        .agg(count(lit(1)).as("n_days"), sum("det").as("s_num"))
        .localCheckpoint() // two consumers: the seasonal rows + strength
      val strength = byW
        .groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("weekday"), col("s_num"),
          col("n_days")))).as("arr"))
        .join(det.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("det").as("sd"),
            sum(col("det") * col("det")).as("sdd")), "event_type")
        .select(col("event_type"),
          aggregate(col("arr"), lit(0.0d), (acc, x) =>
            acc + x.getField("s_num").cast("double") *
              x.getField("s_num") / x.getField("n_days")).as("ssb"),
          (col("sdd").cast("double") -
            col("sd").cast("double") * col("sd") / col("n")).as("sst"))
        .filter(col("sst") > 0)
        .select(col("event_type"),
          round(greatest(lit(0.0),
            lit(1.0) - (col("sst") - col("ssb")) / col("sst")), 6)
            .as("strength"))
      byW.join(strength, "event_type")
        .select(col("event_type"), col("weekday"), col("n_days"),
          round(col("s_num").cast("double") / (col("n_days") * 420), 6)
            .as("seasonal"),
          col("strength"))
    },
      // ×420 integers make the centered moving average integral (420 =
      // lcm 4..7); the weekday fold is ordered so sums can't reorder
      s"""$dailyGridSql,
        |det AS (
        |  SELECT event_type, day, (day + 4) % 7 AS weekday,
        |   420 * c - (sum(c) OVER w * (420 // count(*) OVER w)) AS det
        |  FROM grid
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |byw AS (SELECT event_type, weekday,
        |   CAST(count(*) AS BIGINT) AS n_days,
        |   CAST(sum(det) AS BIGINT) AS s_num
        |  FROM det GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(det) AS BIGINT) AS sd,
        |   CAST(sum(det * det) AS BIGINT) AS sdd
        |  FROM det GROUP BY 1),
        |arrs AS (SELECT event_type,
        |   list([CAST(s_num AS DOUBLE), CAST(n_days AS DOUBLE)]
        |     ORDER BY weekday) AS arr
        |  FROM byw GROUP BY 1),
        |st AS (SELECT a.event_type,
        |   list_reduce(list_prepend(0.0::DOUBLE,
        |     list_transform(a.arr, x -> x[1] * x[1] / x[2])),
        |     (acc, x) -> acc + x) AS ssb,
        |   CAST(t.sdd AS DOUBLE) - CAST(t.sd AS DOUBLE) * t.sd / t.n AS sst
        |  FROM arrs a JOIN tot t ON a.event_type = t.event_type),
        |str AS (SELECT event_type,
        |   round(greatest(0.0::DOUBLE,
        |     1.0::DOUBLE - (sst - ssb) / sst), 6) AS strength FROM st
        |  WHERE sst > 0)
        |SELECT b.event_type, b.weekday, b.n_days,
        | round(CAST(b.s_num AS DOUBLE) / (b.n_days * 420), 6) AS seasonal,
        | s.strength
        |FROM byw b JOIN str s ON b.event_type = s.event_type""".stripMargin),

    Query("t19_holt_winters", (s, d) => {
      // additive Holt-Winters (level + trend + weekly seasonal) per
      // event_type over the dense daily count series — the seasonal
      // extension of t14's Holt smoother. α=1/2, β=1/4, γ=1/4 (binary
      // fractions); state is a 9-element DOUBLE list [l, b, s₁..s₇]
      // folded once over each type's day-sorted array (s₁ is always the
      // seasonal due next; each step shifts it out and appends the
      // updated value) — O(1) state, types smooth in parallel, and the
      // LIST state is exactly the shape DuckDB's list_reduce folds
      // correctly (the t14 struct-state caveat).
      val grid = dailyGrid(s, d)
      grid.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          array_sort(collect_list(struct(col("day"), col("c")))).as("a"))
        .withColumn("xs", expr("transform(a, p -> CAST(p.c AS DOUBLE))"))
        .withColumn("st", expr(
          """aggregate(slice(xs, 2, size(xs) - 1),
            |  concat(array(element_at(xs, 1), CAST(0.0 AS DOUBLE)),
            |         array_repeat(CAST(0.0 AS DOUBLE), 7)),
            |  (acc, y) -> concat(
            |    array(
            |      0.5D * (y - element_at(acc, 3))
            |        + 0.5D * (element_at(acc, 1) + element_at(acc, 2)),
            |      0.25D * ((0.5D * (y - element_at(acc, 3))
            |          + 0.5D * (element_at(acc, 1) + element_at(acc, 2)))
            |        - element_at(acc, 1)) + 0.75D * element_at(acc, 2)),
            |    slice(acc, 4, 6),
            |    array(0.25D * (y - (0.5D * (y - element_at(acc, 3))
            |        + 0.5D * (element_at(acc, 1) + element_at(acc, 2))))
            |      + 0.75D * element_at(acc, 3))))""".stripMargin))
        .select(col("event_type"), col("n_days"),
          round(element_at(col("st"), 1), 6).as("level"),
          round(element_at(col("st"), 2), 6).as("trend"),
          round(element_at(col("st"), 1) + element_at(col("st"), 2) +
            element_at(col("st"), 3), 6).as("forecast"))
    },
      // 9-element LIST state [l, b, s1..s7] — the fold shape this DuckDB
      // reduces correctly (t14 caveat); l' repeated textually in b'/s'
      s"""$dailyGridSql,
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |       list(CAST(c AS DOUBLE) ORDER BY day) AS xs
        |      FROM grid GROUP BY 1),
        |f AS (SELECT event_type, n_days,
        |  list_reduce(list_prepend(
        |    [xs[1], 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
        |     0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE],
        |    list_transform(xs[2:], x ->
        |      [x, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
        |       0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
        |    (acc, x) -> list_concat(list_concat(
        |      [0.5::DOUBLE * (x[1] - acc[3])
        |         + 0.5::DOUBLE * (acc[1] + acc[2]),
        |       0.25::DOUBLE * ((0.5::DOUBLE * (x[1] - acc[3])
        |           + 0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
        |         + 0.75::DOUBLE * acc[2]],
        |      acc[4:9]),
        |      [0.25::DOUBLE * (x[1] - (0.5::DOUBLE * (x[1] - acc[3])
        |          + 0.5::DOUBLE * (acc[1] + acc[2])))
        |        + 0.75::DOUBLE * acc[3]])) AS st
        |  FROM s)
        |SELECT event_type, n_days, round(st[1], 6) AS level,
        | round(st[2], 6) AS trend,
        | round(st[1] + st[2] + st[3], 6) AS forecast
        |FROM f""".stripMargin),

    Query("t24_heatmap", (s, d) => {
      // weekday × hour activity heatmap (the calendar view every ops
      // dashboard opens with): exact counts per cell + the cell's share
      // of total — one (dow, hour) exchange, the share via a one-row
      // broadcast total re-aggregated from the cells.
      val cells = t(s, d, "events")
        .select(pmod(expr("CAST(ts AS LONG) div 86400") + 4, lit(7))
            .as("dow"),
          expr("CAST(ts AS LONG) div 3600 % 24").as("hour"))
        .groupBy("dow", "hour").agg(count(lit(1)).as("n"))
        .localCheckpoint() // total re-agg + the share join
      cells.crossJoin(broadcast(cells.agg(sum("n").as("nt"))))
        .select(col("dow"), col("hour"), col("n"),
          round(col("n").cast("double") / col("nt"), 6).as("share"))
    },
      """WITH cells AS (
        |  SELECT (epoch_us(ts) // 1000000 // 86400 + 4) % 7 AS dow,
        |   epoch_us(ts) // 1000000 // 3600 % 24 AS hour,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells)
        |SELECT dow, hour, n, round(CAST(n AS DOUBLE) / nt, 6) AS share
        |FROM cells, t""".stripMargin),

    Query("t33_week_over_week", (s, d) => {
      // week-over-week growth per event_type on the dense daily grid —
      // the dashboard ratio every metrics page ships (lag 7 on the
      // zero-filled grid so a missing day reads as 0, not as a silent
      // 7-day shift). Integer counts, one mirrored division; the lag
      // window orders by the grid's unique day.
      val grid = dailyGrid(s, d)
      val w = Window.partitionBy("event_type").orderBy("day")
      grid.withColumn("c7", lag(col("c"), 7).over(w))
        .filter(col("c7").isNotNull && col("c7") > 0)
        .select(col("event_type"), col("day"), col("c"), col("c7"),
          round((col("c") - col("c7")).cast("double") / col("c7"), 6)
            .as("wow"))
    },
      // global doubled average ranks (rank() + tie-count windows), the
      // engine's histogram form is identical by construction; H and the
      // tie correction mirrored operand-for-operand
      // lag-7 over the zero-filled grid; integer counts, one division
      s"""$dailyGridSql,
        |l AS (SELECT event_type, day, c,
        |   lag(c, 7) OVER (PARTITION BY event_type ORDER BY day) AS c7
        |  FROM grid)
        |SELECT event_type, day, c, c7,
        | round(CAST(c - c7 AS DOUBLE) / c7, 6) AS wow
        |FROM l WHERE c7 IS NOT NULL AND c7 > 0""".stripMargin),

    Query("t31_theil_sen", (s, d) => {
      // Theil-Sen robust trend per event_type — the slope ESTIMATE that
      // pairs with stats_mann_kendall's significance test (the two are
      // the standard nonparametric trend kit: MK says "is it drifting",
      // Theil-Sen says "by how much per day", both immune to the
      // outlier days that wreck an OLS fit). slope = exact lower median
      // of the O(days²) pairwise slopes, intercept = lower median of
      // the per-day residual intercepts — both medians by the rank rule
      // over (value, unique-day tiebreak), so the pick is engine-exact;
      // every slope is one IEEE division of exact integers. Pair fanout
      // lives on the ≤31-row grid tier, never the corpus.
      val grid = dailyGrid(s, d)
        .localCheckpoint() // pairs ×2 + the intercept pass
      val a = grid.select(col("event_type"), col("day").as("di"),
        col("c").as("ci"))
      val b = grid.select(col("event_type"), col("day").as("dj"),
        col("c").as("cj"))
      val wS = Window.partitionBy("event_type")
        .orderBy(col("sl"), col("di"), col("dj"))
      val wT = Window.partitionBy("event_type")
      val slope = a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
        .withColumn("sl", (col("cj") - col("ci")).cast("double") /
          (col("dj") - col("di")).cast("double"))
        .withColumn("rn", row_number().over(wS))
        .withColumn("np", count(lit(1)).over(wT))
        .filter(col("rn") === floor((col("np") - 1) * 0.5) + 1)
        .select(col("event_type"), col("sl").as("slope"), col("np"))
      val wI = Window.partitionBy("event_type")
        .orderBy(col("b0"), col("day"))
      grid.join(broadcast(slope), "event_type")
        .withColumn("b0",
          col("c").cast("double") - col("slope") * col("day"))
        .withColumn("rn", row_number().over(wI))
        .withColumn("n", count(lit(1)).over(wT))
        .filter(col("rn") === floor((col("n") - 1) * 0.5) + 1)
        .select(col("event_type"), col("n").as("n_days"),
          col("np").as("n_pairs"), round(col("slope"), 6).as("slope"),
          round(col("b0"), 6).as("intercept"))
    },
      // lower-median rank rule over (slope, di, dj) / (b0, day) — the
      // pick is engine-exact; slopes are IEEE divisions of exact integers
      s"""$dailyGridMaterializedSql,
        |sl AS (SELECT a.event_type, a.day AS di, b.day AS dj,
        |   CAST(b.c - a.c AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS sl
        |  FROM grid a JOIN grid b
        |  ON a.event_type = b.event_type AND a.day < b.day),
        |sr AS (SELECT event_type, sl,
        |   row_number() OVER (PARTITION BY event_type
        |     ORDER BY sl, di, dj) AS rn,
        |   count(*) OVER (PARTITION BY event_type) AS np
        |  FROM sl),
        |sm AS (SELECT event_type, sl AS slope, np FROM sr
        |       WHERE rn = CAST(floor((np - 1) * 0.5) AS BIGINT) + 1),
        |ic AS (SELECT g.event_type, g.day,
        |   CAST(g.c AS DOUBLE) - sm.slope * g.day AS b0, sm.slope, sm.np,
        |   row_number() OVER (PARTITION BY g.event_type
        |     ORDER BY CAST(g.c AS DOUBLE) - sm.slope * g.day, g.day) AS rn,
        |   count(*) OVER (PARTITION BY g.event_type) AS n
        |  FROM grid g JOIN sm ON g.event_type = sm.event_type)
        |SELECT event_type, n AS n_days, np AS n_pairs,
        | round(slope, 6) AS slope, round(b0, 6) AS intercept
        |FROM ic WHERE rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1"""
        .stripMargin),

    Query("t23_ohlc", (s, d) =>
      // OHLC bars per (event_type, day) — the time-series summarizer
      // every metrics store ships: open/close via (ts, id)-ordered
      // argmin/argmax (map-side combinable, no window sort), high/low
      // plain min/max, all exact integer cents
      t(s, d, "events")
        .select(col("event_type"), expr("CAST(ts AS LONG)").as("tsec"),
          expr("CAST(ts AS LONG) div 86400").as("day"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"),
          min_by(col("cents"), struct(col("tsec"), col("event_id")))
            .as("open_c"),
          max(col("cents")).as("high_c"), min(col("cents")).as("low_c"),
          max_by(col("cents"), struct(col("tsec"), col("event_id")))
            .as("close_c")),
      // open/close replayed as (ts, id)-ordered row_number picks
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 1000000 AS tsec,
        |    epoch_us(ts) // 1000000 // 86400 AS day, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *,
        |   row_number() OVER (PARTITION BY event_type, day
        |     ORDER BY tsec, event_id) AS rn_a,
        |   row_number() OVER (PARTITION BY event_type, day
        |     ORDER BY tsec DESC, event_id DESC) AS rn_z
        |  FROM e)
        |SELECT event_type, day, count(*) AS n,
        | CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_c,
        | max(cents) AS high_c, min(cents) AS low_c,
        | CAST(max(CASE WHEN rn_z = 1 THEN cents END) AS BIGINT) AS close_c
        |FROM r GROUP BY 1, 2""".stripMargin),

    Query("t22_interarrival", (s, d) => {
      // inter-arrival gap distribution per user (engagement-cadence
      // audit): gaps from one lag window, then EXACT rank-rule order
      // statistics off each user's sorted gap array — median idx
      // (n+1) div 2, p90 idx ceil(0.9n) = (9n+9) div 10, all integer
      // seconds. Arrays are bounded by a user's event count; users
      // aggregate in parallel.
      val w = Window.partitionBy("user_id").orderBy("tsec")
      t(s, d, "events")
        .select(col("user_id"), expr("CAST(ts AS LONG)").as("tsec"))
        .withColumn("gap", col("tsec") - lag(col("tsec"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"),
          array_sort(collect_list(col("gap"))).as("a"))
        .select(col("user_id"), col("n_gaps"), col("min_gap"),
          element_at(col("a"), expr("CAST((n_gaps + 1) div 2 AS INT)"))
            .as("median_gap"),
          element_at(col("a"), expr("CAST((9 * n_gaps + 9) div 10 AS INT)"))
            .as("p90_gap"),
          col("max_gap"))
    },
      // exact rank-rule order statistics off the per-user sorted gaps
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS tsec FROM events),
        |gp AS (SELECT user_id,
        |        tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec)
        |          AS gap
        |       FROM g),
        |f AS (SELECT user_id, gap FROM gp WHERE gap IS NOT NULL),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |       min(gap) AS min_gap, max(gap) AS max_gap,
        |       list(gap ORDER BY gap) AS a
        |      FROM f GROUP BY 1)
        |SELECT user_id, n_gaps, min_gap,
        | a[CAST((n_gaps + 1) // 2 AS INT)] AS median_gap,
        | a[CAST((9 * n_gaps + 9) // 10 AS INT)] AS p90_gap,
        | max_gap
        |FROM a""".stripMargin),

    Query("t21_ccf", (s, d) => {
      // cross-correlation between the click and purchase daily series at
      // lags −7..+7 — the lead-lag discovery tool ("do purchases trail
      // clicks, and by how many days"). Both series live on ONE dense
      // global day grid (missing days are 0 — counting processes), all
      // co-moments are exact integers, and r_k is one mirrored double
      // expression normalized by the full-series σx·σy. Lag pairs via
      // the equi-join on day+k, the t15 shape.
      val daily = t(s, d, "events")
        .select(expr("CAST(ts AS LONG) div 86400").as("day"),
          col("event_type"))
        .groupBy("day").agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val grid = daily.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("day"), "left_outer")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
          coalesce(col("y"), lit(0L)).as("y"))
        .localCheckpoint() // base stats + 15 lag joins
      val base = grid.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("qx"),
        sum(col("y") * col("y")).as("qy"))
      grid.select(col("day"), col("x"),
          explode(sequence(lit(-7L), lit(7L))).as("k"))
        .withColumn("day2", col("day") + col("k"))
        .join(grid.select(col("day").as("day2"), col("y").as("y2")),
          Seq("day2"))
        .groupBy("k")
        .agg(count(lit(1)).as("cnt"), sum(col("x") * col("y2")).as("sxy"),
          sum(col("x")).as("sxw"), sum(col("y2")).as("syw"))
        .crossJoin(broadcast(base))
        .select(col("k"), col("cnt"),
          round(((col("n") * col("n")).cast("double") * col("sxy") -
            col("n").cast("double") * (col("sx") * col("syw") +
              col("sy") * col("sxw")) +
            col("cnt").cast("double") * (col("sx") * col("sy"))) /
            (col("n").cast("double") *
              sqrt((col("n").cast("double") * col("qx") -
                col("sx").cast("double") * col("sx")) *
                (col("n").cast("double") * col("qy") -
                  col("sy").cast("double") * col("sy")))), 6).as("ccf"))
    },
      // one global day grid carries both series; co-moments exact, r_k
      // mirrored operand-for-operand with the full-series σ normalizer
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 1000000 // 86400 AS day,
        |   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS x,
        |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |     AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |spans AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (
        |  SELECT g.day, coalesce(d.x, 0) AS x, coalesce(d.y, 0) AS y
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day FROM spans) g
        |  LEFT JOIN daily d ON g.day = d.day),
        |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |   CAST(sum(x * x) AS BIGINT) AS qx,
        |   CAST(sum(y * y) AS BIGINT) AS qy
        |  FROM grid),
        |lags AS (
        |  SELECT k.k, CAST(count(*) AS BIGINT) AS cnt,
        |   CAST(sum(g1.x * g2.y) AS BIGINT) AS sxy,
        |   CAST(sum(g1.x) AS BIGINT) AS sxw,
        |   CAST(sum(g2.y) AS BIGINT) AS syw
        |  FROM grid g1,
        |   (SELECT unnest(generate_series(-7, 7)) AS k) k,
        |   grid g2
        |  WHERE g2.day = g1.day + k.k
        |  GROUP BY 1)
        |SELECT l.k, l.cnt,
        | round((CAST(b.n * b.n AS DOUBLE) * l.sxy
        |    - CAST(b.n AS DOUBLE) * (b.sx * l.syw + b.sy * l.sxw)
        |    + CAST(l.cnt AS DOUBLE) * (b.sx * b.sy))
        |  / (CAST(b.n AS DOUBLE) *
        |     sqrt((CAST(b.n AS DOUBLE) * b.qx - CAST(b.sx AS DOUBLE) * b.sx)
        |       * (CAST(b.n AS DOUBLE) * b.qy
        |          - CAST(b.sy AS DOUBLE) * b.sy))), 6) AS ccf
        |FROM lags l, base b""".stripMargin),

    Query("t20_pacf", (s, d) => {
      // partial autocorrelation at lags 1..7 per event_type — the AR
      // order-selection diagnostic beside t15's ACF (pacf_k ≈ 0 beyond
      // the true AR order). Levinson-Durbin recursion over the SAME
      // exact-integer ACF chain as t15: the per-type [r₁..r₇] array is
      // assembled ordered, and the recursion is one nested ORDERED fold
      // (state = [m, φ₁..φ_m, pacf₁..pacf_m], growing by 2 per lag) —
      // identical operation order on both engines ⇒ bit-identical
      // doubles before the final round. O(cells) work per type after
      // the t15-shaped grid aggregations.
      val grid = dailyGrid(s, d)
        .localCheckpoint() // base stats + 7 lag joins (the t15 shape)
      val acf = lagMoments(grid)
        .select(col("event_type"), col("k"),
          (((col("n") * col("n")).cast("double") * col("sxy") -
            col("n").cast("double") * col("s") * (col("sh") + col("st")) +
            (col("n") - col("k")).cast("double") * col("s") * col("s")) /
            ((col("n") * col("n")).cast("double") * col("q") -
              col("n").cast("double") * col("s") * col("s"))).as("r"))
      acf.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("k"), col("r")))).as("ra"))
        .withColumn("racf", expr("transform(ra, p -> p.r)"))
        .withColumn("st", expr(
          // Levinson-Durbin: acc = [m, phi_1..phi_m, pacf_1..pacf_m]
          """aggregate(sequence(1, 7), array(CAST(0.0 AS DOUBLE)),
            |  (acc, k) -> concat(
            |    array(CAST(k AS DOUBLE)),
            |    transform(slice(sequence(1, 7), 1, CAST(element_at(acc, 1) AS INT)),
            |      j -> element_at(acc, 1 + j)
            |        - ((element_at(racf, k)
            |             - aggregate(slice(sequence(1, 7), 1, CAST(element_at(acc, 1) AS INT)),
            |                 CAST(0.0 AS DOUBLE),
            |                 (s2, j2) -> s2 + element_at(acc, 1 + j2)
            |                   * element_at(racf, k - j2)))
            |           / (CAST(1.0 AS DOUBLE)
            |             - aggregate(slice(sequence(1, 7), 1, CAST(element_at(acc, 1) AS INT)),
            |                 CAST(0.0 AS DOUBLE),
            |                 (s3, j3) -> s3 + element_at(acc, 1 + j3)
            |                   * element_at(racf, j3))))
            |          * element_at(acc, 1 + CAST(element_at(acc, 1) AS INT) + 1 - j)),
            |    array((element_at(racf, k)
            |             - aggregate(slice(sequence(1, 7), 1, CAST(element_at(acc, 1) AS INT)),
            |                 CAST(0.0 AS DOUBLE),
            |                 (s4, j4) -> s4 + element_at(acc, 1 + j4)
            |                   * element_at(racf, k - j4)))
            |           / (CAST(1.0 AS DOUBLE)
            |             - aggregate(slice(sequence(1, 7), 1, CAST(element_at(acc, 1) AS INT)),
            |                 CAST(0.0 AS DOUBLE),
            |                 (s5, j5) -> s5 + element_at(acc, 1 + j5)
            |                   * element_at(racf, j5)))),
            |    slice(acc, 2 + CAST(element_at(acc, 1) AS INT),
            |      CAST(element_at(acc, 1) AS INT)),
            |    array((element_at(racf, k)
            |             - aggregate(slice(sequence(1, 7), 1, CAST(element_at(acc, 1) AS INT)),
            |                 CAST(0.0 AS DOUBLE),
            |                 (s6, j6) -> s6 + element_at(acc, 1 + j6)
            |                   * element_at(racf, k - j6)))
            |           / (CAST(1.0 AS DOUBLE)
            |             - aggregate(slice(sequence(1, 7), 1, CAST(element_at(acc, 1) AS INT)),
            |                 CAST(0.0 AS DOUBLE),
            |                 (s7, j7) -> s7 + element_at(acc, 1 + j7)
            |                   * element_at(racf, j7))))))""".stripMargin))
        .select(col("event_type"),
          posexplode(expr("slice(st, 2 + 7, 7)")).as(Seq("k0", "pacf")))
        .select(col("event_type"), (col("k0") + 1).cast("long").as("k"),
          round(col("pacf"), 6).as("pacf"))
    },
      // Levinson-Durbin over the t15 acf chain: the fold state is a
      // growing DOUBLE list (the t14 list-state rule), the pivot P is
      // inlined textually at each use exactly as the engine writes it,
      // and every inner sum folds a prepended-0 list in ascending-j order
      {
      val m = "CAST(acc[1] AS INT)"
      val num = s"(racf[CAST(x[1] AS INT)] - list_reduce(" +
        s"list_prepend(0.0::DOUBLE, list_transform(" +
        s"generate_series(1, 7)[1:$m], j2 -> acc[1 + j2] * " +
        s"racf[CAST(x[1] AS INT) - j2])), (s2, y2) -> s2 + y2))"
      val den = s"(1.0::DOUBLE - list_reduce(" +
        s"list_prepend(0.0::DOUBLE, list_transform(" +
        s"generate_series(1, 7)[1:$m], j3 -> acc[1 + j3] * racf[j3])), " +
        s"(s3, y3) -> s3 + y3))"
      val p = s"($num / $den)"
      s"""$dailyGridSql,
         |$lagMomentsSql,
         |acf AS (SELECT p.event_type, p.k,
         |   (CAST(b.n * b.n AS DOUBLE) * p.sxy
         |     - CAST(b.n AS DOUBLE) * b.s * (p.sh + p.st)
         |     + CAST(b.n - p.k AS DOUBLE) * b.s * b.s)
         |   / (CAST(b.n * b.n AS DOUBLE) * b.q
         |     - CAST(b.n AS DOUBLE) * b.s * b.s) AS r
         |  FROM pairs p JOIN base b ON p.event_type = b.event_type),
         |ar AS (SELECT event_type, list(r ORDER BY k) AS racf
         |       FROM acf GROUP BY 1),
         |fin AS (SELECT event_type,
         |  list_reduce(
         |    list_prepend([0.0::DOUBLE],
         |      list_transform(generate_series(1, 7), k -> [CAST(k AS DOUBLE)])),
         |    (acc, x) -> list_concat(list_concat(list_concat(list_concat(
         |      [x[1]],
         |      list_transform(generate_series(1, 7)[1:$m],
         |        j -> acc[1 + j] - $p * acc[1 + $m + 1 - j])),
         |      [$p]),
         |      acc[(2 + $m):(1 + 2 * $m)]),
         |      [$p])) AS st
         |  FROM ar)
         |SELECT f.event_type, ks.k, round(f.st[8 + ks.k], 6) AS pacf
         |FROM fin f, (SELECT unnest(generate_series(1, 7)) AS k) ks""".stripMargin
    }),

    Query("t29_changepoint", (s, d) => {
      // depth-2 binary segmentation changepoint detection (Scott &
      // Knott style) over the dense daily event-count series: level 1
      // picks the split minimizing total within-segment SSE over the
      // whole series, level 2 re-splits each half — up to 3
      // changepoints, the regime-shift detector behind t12_cusum's
      // single-shift argmax. Every SSE derives from integer prefix
      // sums (n, Σy, Σy²) via ONE cumulative window over the ≤|days|
      // grid; costs are mirrored double expressions; argmin ties
      // break to the smaller split index. The global-window sort runs
      // on the day grid, never the corpus.
      val daily = t(s, d, "events")
        .select(expr("CAST(ts AS LONG) div 86400").as("day"))
        .groupBy("day").agg(count(lit(1)).as("y"))
      val grid = daily.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("y"), lit(0L)).as("y"))
      val wOrd = Window.orderBy(col("day"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val p = grid.select(
          row_number().over(wOrd).cast("long").as("i"),
          sum(col("y")).over(wCum).as("cy"),
          sum(col("y") * col("y")).over(wCum).as("cy2"))
        .localCheckpoint(eager = false)
      val tot = p.orderBy(col("i").desc).limit(1)
        .select(col("i").as("n"), col("cy").as("tcy"),
          col("cy2").as("tcy2"))
      // SSE of [a, b] from prefix rows: (cy2b-cy2a) - (cyb-cya)²/len
      def sse(cyb: org.apache.spark.sql.Column,
              cy2b: org.apache.spark.sql.Column,
              cya: org.apache.spark.sql.Column,
              cy2a: org.apache.spark.sql.Column,
              len: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (cy2b - cy2a).cast("double") -
          (cyb - cya).cast("double") * (cyb - cya) / len
      def bestSplit(lo: org.apache.spark.sql.Column, hiRow: DataFrame,
                    loCy: org.apache.spark.sql.Column,
                    loCy2: org.apache.spark.sql.Column): DataFrame = {
        // hiRow: 1 row with (hi, hcy, hcy2); candidates s in (lo, hi]
        val cands = p.as("s")
          .join(p.as("pv"), col("pv.i") === col("s.i") - 1)
          .crossJoin(broadcast(hiRow))
          .filter(col("s.i") > lo + 1 && col("s.i") <= col("hi"))
        cands.select(col("s.i").as("split_i"),
            (sse(col("pv.cy"), col("pv.cy2"), loCy, loCy2,
              col("s.i") - 1 - lo) +
             sse(col("hcy"), col("hcy2"), col("pv.cy"), col("pv.cy2"),
               col("hi") - col("s.i") + 1)).as("child_sse"),
            sse(col("hcy"), col("hcy2"), loCy, loCy2,
              col("hi") - lo).as("seg_sse"))
          .orderBy(col("child_sse").asc, col("split_i").asc).limit(1)
          .select(col("split_i"),
            (col("seg_sse") - col("child_sse")).as("gain"))
      }
      val totR = tot.select(col("n").as("hi"), col("tcy").as("hcy"),
        col("tcy2").as("hcy2")).localCheckpoint(eager = false)
      val b1 = bestSplit(lit(0L), totR, lit(0L), lit(0L))
        .localCheckpoint(eager = false)
      // boundary prefix row at s1-1 (the level-2 segment edge)
      val bl = p.crossJoin(broadcast(b1))
        .filter(col("i") === col("split_i") - 1)
        .select(col("i").as("hi"), col("cy").as("hcy"),
          col("cy2").as("hcy2")).localCheckpoint(eager = false)
      val left2 = bestSplit(lit(0L), bl, lit(0L), lit(0L))
      val right2 = {
        val blB = bl.select(col("hi").as("lo0"), col("hcy").as("lcy"),
          col("hcy2").as("lcy2"))
        val cands = p.as("s")
          .join(p.as("pv"), col("pv.i") === col("s.i") - 1)
          .crossJoin(broadcast(totR)).crossJoin(broadcast(blB))
          .filter(col("s.i") > col("lo0") + 1 && col("s.i") <= col("hi"))
        cands.select(col("s.i").as("split_i"),
            (sse(col("pv.cy"), col("pv.cy2"), col("lcy"), col("lcy2"),
              col("s.i") - 1 - col("lo0")) +
             sse(col("hcy"), col("hcy2"), col("pv.cy"), col("pv.cy2"),
               col("hi") - col("s.i") + 1)).as("child_sse"),
            sse(col("hcy"), col("hcy2"), col("lcy"), col("lcy2"),
              col("hi") - col("lo0")).as("seg_sse"))
          .orderBy(col("child_sse").asc, col("split_i").asc).limit(1)
          .select(col("split_i"),
            (col("seg_sse") - col("child_sse")).as("gain"))
      }
      b1.select(lit(1).as("level"), col("split_i"),
          round(col("gain"), 6).as("gain"))
        .unionByName(left2.select(lit(2).as("level"), col("split_i"),
          round(col("gain"), 6).as("gain")))
        .unionByName(right2.select(lit(3).as("level"), col("split_i"),
          round(col("gain"), 6).as("gain")))
    },
      // pairwise integer-difference slopes, exact rank-pick median
      // depth-2 binary segmentation: prefix-sum SSE argmins mirrored
      // operand-for-operand; argmin ties (child_sse, split) ascending
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 1000000 // 86400 AS day,
        |   CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |grid AS (
        |  SELECT g.day, coalesce(d.y, 0) AS y
        |  FROM (SELECT unnest(generate_series(d0, d1)) AS day
        |        FROM span) g
        |  LEFT JOIN daily d USING (day)),
        |p AS MATERIALIZED (
        |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        |   sum(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW) AS cy,
        |   sum(y * y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |     PRECEDING AND CURRENT ROW) AS cy2
        |  FROM grid),
        |tot AS (SELECT i AS n, cy AS tcy, cy2 AS tcy2 FROM p
        |        ORDER BY i DESC LIMIT 1),
        |c1 AS (SELECT s.i AS split_i,
        |        (CAST(pv.cy2 AS DOUBLE) -
        |          CAST(pv.cy AS DOUBLE) * pv.cy / (s.i - 1)) +
        |        (CAST(tcy2 - pv.cy2 AS DOUBLE) -
        |          CAST(tcy - pv.cy AS DOUBLE) * (tcy - pv.cy)
        |            / (n - s.i + 1)) AS child_sse,
        |        (CAST(tcy2 AS DOUBLE) -
        |          CAST(tcy AS DOUBLE) * tcy / n) AS seg_sse
        |       FROM p s JOIN p pv ON pv.i = s.i - 1 CROSS JOIN tot
        |       WHERE s.i > 1 AND s.i <= n),
        |b1 AS (SELECT split_i, seg_sse - child_sse AS gain FROM c1
        |       ORDER BY child_sse ASC, split_i ASC LIMIT 1),
        |bl AS (SELECT p.i AS hi, p.cy AS hcy, p.cy2 AS hcy2
        |       FROM p CROSS JOIN b1 WHERE p.i = b1.split_i - 1),
        |c2 AS (SELECT s.i AS split_i,
        |        (CAST(pv.cy2 AS DOUBLE) -
        |          CAST(pv.cy AS DOUBLE) * pv.cy / (s.i - 1)) +
        |        (CAST(hcy2 - pv.cy2 AS DOUBLE) -
        |          CAST(hcy - pv.cy AS DOUBLE) * (hcy - pv.cy)
        |            / (hi - s.i + 1)) AS child_sse,
        |        (CAST(hcy2 AS DOUBLE) -
        |          CAST(hcy AS DOUBLE) * hcy / hi) AS seg_sse
        |       FROM p s JOIN p pv ON pv.i = s.i - 1 CROSS JOIN bl
        |       WHERE s.i > 1 AND s.i <= hi),
        |b2 AS (SELECT split_i, seg_sse - child_sse AS gain FROM c2
        |       ORDER BY child_sse ASC, split_i ASC LIMIT 1),
        |bl2 AS (SELECT hi AS lo0, hcy AS lcy, hcy2 AS lcy2 FROM bl),
        |c3 AS (SELECT s.i AS split_i,
        |        (CAST(pv.cy2 - lcy2 AS DOUBLE) -
        |          CAST(pv.cy - lcy AS DOUBLE) * (pv.cy - lcy)
        |            / (s.i - 1 - lo0)) +
        |        (CAST(tcy2 - pv.cy2 AS DOUBLE) -
        |          CAST(tcy - pv.cy AS DOUBLE) * (tcy - pv.cy)
        |            / (n - s.i + 1)) AS child_sse,
        |        (CAST(tcy2 - lcy2 AS DOUBLE) -
        |          CAST(tcy - lcy AS DOUBLE) * (tcy - lcy)
        |            / (n - lo0)) AS seg_sse
        |       FROM p s JOIN p pv ON pv.i = s.i - 1
        |       CROSS JOIN tot CROSS JOIN bl2
        |       WHERE s.i > lo0 + 1 AND s.i <= n),
        |b3 AS (SELECT split_i, seg_sse - child_sse AS gain FROM c3
        |       ORDER BY child_sse ASC, split_i ASC LIMIT 1)
        |SELECT 1 AS level, split_i, round(gain, 6) AS gain FROM b1
        |UNION ALL SELECT 2, split_i, round(gain, 6) FROM b2
        |UNION ALL SELECT 3, split_i, round(gain, 6) FROM b3"""
        .stripMargin),

    Query("t28_theil_sen", (s, d) => {
      // Theil–Sen robust trend: the MEDIAN of all pairwise slopes over
      // each event_type's daily cents series — immune to the outlier
      // days that drag an OLS fit (t17's sibling the way t27's MAD
      // shadows t10's z-score). Slopes are one exact integer-difference
      // division; the median is an exact rank pick (ties ordered by the
      // pair's days). Pair volume is O(T²) per series in series LENGTH
      // (not corpus size) — ~10³ pairs for a month; years-long series
      // use the classic hash-sampled pair subset.
      val daily = dailyCents(s, d)
        .localCheckpoint()
      val pairs = daily.alias("a").join(daily.alias("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .select(col("a.event_type").as("event_type"),
          ((col("b.c") - col("a.c")).cast("double") /
            (col("b.day") - col("a.day"))).as("slope"),
          col("a.day").as("d1"), col("b.day").as("d2"))
      val n = pairs.groupBy("event_type").agg(count(lit(1)).as("n_pairs"))
      pairs.withColumn("rn", row_number().over(
          Window.partitionBy("event_type")
            .orderBy(col("slope"), col("d1"), col("d2"))))
        .join(n, Seq("event_type"))
        .filter(col("rn") === expr("(n_pairs + 1) div 2"))
        .select(col("event_type"), col("n_pairs"),
          round(col("slope"), 6).as("slope"))
    },
      s"""$dailyCentsSql,
        |pairs AS (
        |  SELECT a.event_type,
        |   CAST(b.c - a.c AS DOUBLE) / (b.day - a.day) AS slope,
        |   a.day AS d1, b.day AS d2
        |  FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND a.day < b.day),
        |n AS (SELECT event_type, count(*) AS n_pairs FROM pairs GROUP BY 1),
        |r AS (SELECT event_type, slope, d1, d2,
        |       row_number() OVER (PARTITION BY event_type
        |         ORDER BY slope, d1, d2) AS rn
        |      FROM pairs)
        |SELECT r.event_type, n_pairs, round(slope, 6) AS slope
        |FROM r JOIN n USING (event_type)
        |WHERE rn = (n_pairs + 1) // 2""".stripMargin),

    Query("t27_anomaly_mad", (s, d) => {
      // robust anomaly scoring: the median/MAD z-score over each
      // event_type's daily cents series — t10's trailing z-score flags
      // against a mean/std a single spike INFLATES; median/MAD is the
      // outlier-resistant production variant. Median and MAD come from
      // exact per-group rank picks ((n+1)÷2, ties (value, day)); the
      // only division is the final score, MAD floored at 1 cent.
      val daily = dailyCents(s, d)
      val n = daily.groupBy("event_type").agg(count(lit(1)).as("n"))
      val med = daily
        .withColumn("rn", row_number().over(Window.partitionBy("event_type")
          .orderBy(col("c"), col("day"))))
        .join(n, Seq("event_type"))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("c").as("med"))
      val mad = daily.join(med, Seq("event_type"))
        .withColumn("ad", abs(col("c") - col("med")))
        .withColumn("rn", row_number().over(Window.partitionBy("event_type")
          .orderBy(col("ad"), col("day"))))
        .join(n, Seq("event_type"))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), greatest(col("ad"), lit(1L)).as("mad"))
      daily.join(med, Seq("event_type")).join(mad, Seq("event_type"))
        .select(col("event_type"), col("day"), col("c"),
          round((col("c") - col("med")).cast("double") /
            (lit(1.4826) * col("mad")), 4).as("z"),
          (abs((col("c") - col("med")).cast("double") /
            (lit(1.4826) * col("mad"))) > 3.0).as("is_anomaly"))
    },
      // exact per-group rank picks for median and MAD, final division
      // the only float step
      s"""$dailyCentsSql,
        |n AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
        |medr AS (SELECT event_type, c,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY c, day) AS rn
        |       FROM daily),
        |med AS (SELECT m.event_type, c AS med FROM medr m JOIN n USING (event_type)
        |        WHERE rn = (n + 1) // 2),
        |madr AS (SELECT d.event_type, abs(d.c - med) AS ad, d.day,
        |        row_number() OVER (PARTITION BY d.event_type
        |          ORDER BY abs(d.c - med), d.day) AS rn
        |       FROM daily d JOIN med USING (event_type)),
        |mad AS (SELECT m.event_type, greatest(ad, 1) AS mad
        |        FROM madr m JOIN n USING (event_type)
        |        WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, day, c,
        | round(CAST(c - med AS DOUBLE) / (1.4826 * mad), 4) AS z,
        | abs(CAST(c - med AS DOUBLE) / (1.4826 * mad)) > 3.0 AS is_anomaly
        |FROM daily d JOIN med USING (event_type) JOIN mad USING (event_type)""".stripMargin),

    Query("t26_wow_growth", (s, d) => {
      // week-over-week growth per event_type (the dashboard staple):
      // weekly counts, the lag-week ratio, and the absolute delta —
      // one aggregate + one partitioned lag window; first weeks emit
      // null growth (no fabricated baseline)
      val w = Window.partitionBy("event_type").orderBy("week")
      t(s, d, "events")
        .select(col("event_type"),
          expr("CAST(ts AS LONG) div 604800").as("week"))
        .groupBy("event_type", "week")
        .agg(count(lit(1)).as("n"))
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .select(col("event_type"), col("week"), col("n"),
          (col("n") - col("prev_n")).as("delta"),
          round(col("n").cast("double") / col("prev_n"), 6).as("wow"))
    },
      // weekly counts + lag ratio; first weeks keep null growth
      """WITH wk AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 604800 AS week,
        |   count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, week, n,
        |       lag(n) OVER (PARTITION BY event_type ORDER BY week)
        |         AS prev_n
        |      FROM wk)
        |SELECT event_type, week, n, n - prev_n AS delta,
        | round(CAST(n AS DOUBLE) / prev_n, 6) AS wow
        |FROM l""".stripMargin),

    Query("t4_rolling", (s, d) => {
      // rolling 1-hour window per user (RANGE frame on epoch seconds):
      // the time-series primitive the dense-series family lacked; one
      // key shuffle, frames slide within partitions
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsec"))
        .rangeBetween(-3600L, 0L)
      // rolling SUM, not avg: a sum of 2-decimal inputs is an exact
      // 2-decimal number, so the rounding can never sit on a boundary
      // (an avg CAN land exactly on .xx5 — e.g. mean of two values —
      // where the engines' last-ulp difference flips the rounded digit)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("tsec"), col("value"))
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("sum_win", round(sum(col("value")).over(w), 2))
        .select(col("event_id"), col("user_id"), col("tsec"),
          col("n_win"), col("sum_win"))
    },
      // RANGE frame on epoch seconds; ties are symmetric on both engines
      // (every tied row sees the identical frame); rolling sum, not avg —
      // a 2-decimal-exact total can't sit on the rounding boundary
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS tsec, value
        |  FROM events)
        |SELECT event_id, user_id, tsec,
        | count(*) OVER w AS n_win,
        | round(sum(value) OVER w, 2) AS sum_win
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsec
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin),

    Query("t8_ewma", (s, d) => {
      // bounded-horizon EWMA (adjusted form, alpha = 1/2, horizon 8):
      // each row's smoothed value is a fixed dot product over its last
      // 8 observations — truncating the geometric tail (< 2^-8) turns
      // the sequential recurrence into ONE window pass (a single key
      // shuffle), and the 2^-j weights are exact binary fractions, so
      // any engine replays the arithmetic bit-identically
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsec"), col("event_id"))
      val xs = (0 until 8).map(j =>
        if (j == 0) col("value") else lag(col("value"), j).over(w))
      val num = xs.zipWithIndex.map { case (x, j) =>
        when(x.isNotNull, x * lit(math.pow(0.5, j))).otherwise(lit(0.0)) }
        .reduce(_ + _)
      val den = xs.zipWithIndex.map { case (x, j) =>
        when(x.isNotNull, lit(math.pow(0.5, j))).otherwise(lit(0.0)) }
        .reduce(_ + _)
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("tsec"), col("value"))
        .withColumn("ewma", round(num / den, 4))
        .drop("value")
    },
      // the truncated-EWMA dot product replayed term by term: the + chain
      // is written in the same left-associated order, the 2^-j weights are
      // exact binary fractions, and every operand is the same IEEE double
      // on both engines — so the division and the rounding agree exactly
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS tsec, value
        |  FROM events),
        |l AS (
        |  SELECT event_id, user_id, tsec, value AS x0,
        |   lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2,
        |   lag(value, 3) OVER w AS x3, lag(value, 4) OVER w AS x4,
        |   lag(value, 5) OVER w AS x5, lag(value, 6) OVER w AS x6,
        |   lag(value, 7) OVER w AS x7
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id))
        |SELECT event_id, user_id, tsec,
        | round((CASE WHEN x0 IS NOT NULL THEN x0 * 1.0::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x1 IS NOT NULL THEN x1 * 0.5::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x2 IS NOT NULL THEN x2 * 0.25::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x3 IS NOT NULL THEN x3 * 0.125::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x4 IS NOT NULL THEN x4 * 0.0625::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x5 IS NOT NULL THEN x5 * 0.03125::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x6 IS NOT NULL THEN x6 * 0.015625::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x7 IS NOT NULL THEN x7 * 0.0078125::DOUBLE ELSE 0.0::DOUBLE END)
        | / (CASE WHEN x0 IS NOT NULL THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x1 IS NOT NULL THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x2 IS NOT NULL THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x3 IS NOT NULL THEN 0.125::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x4 IS NOT NULL THEN 0.0625::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x5 IS NOT NULL THEN 0.03125::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x6 IS NOT NULL THEN 0.015625::DOUBLE ELSE 0.0::DOUBLE END
        |  + CASE WHEN x7 IS NOT NULL THEN 0.0078125::DOUBLE ELSE 0.0::DOUBLE END), 4)
        | AS ewma
        |FROM l""".stripMargin),

    Query("t9_interval_union", (s, d) => {
      // interval-union length per user (sweep line): every event opens
      // a 15-min half-open interval; union length = Σ of inter-point
      // gaps where the running open-count is positive. One key shuffle,
      // all integer-second arithmetic; zero-length tie segments make
      // the point ordering ambiguity harmless
      val pts = t(s, d, "events")
        .select(col("user_id"), col("ts").cast("long").as("st"))
        .select(col("user_id"), explode(array(
          struct(col("st").as("t"), lit(1).as("delta")),
          struct((col("st") + 900).as("t"), lit(-1).as("delta")))).as("p"))
        .select(col("user_id"), col("p.t").as("t"), col("p.delta").as("delta"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("delta"))
      pts.withColumn("active", sum(col("delta")).over(w))
        .withColumn("nxt", lead(col("t"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(sum(when(col("active") > 0 && col("nxt").isNotNull,
            col("nxt") - col("t")).otherwise(0L)).as("union_sec"),
          sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_intervals"))
    },
      // sweep line replayed with the same (t, delta) point ordering; all
      // ambiguous tie segments are zero-length, so both engines agree
      """WITH pts AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts) // 1000000 + 900, -1 FROM events),
        |c AS (
        |  SELECT user_id, t, delta,
        |   sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta) AS active,
        |   lead(t, 1) OVER (PARTITION BY user_id ORDER BY t, delta) AS nxt
        |  FROM pts)
        |SELECT user_id,
        | CAST(sum(CASE WHEN active > 0 AND nxt IS NOT NULL
        |   THEN nxt - t ELSE 0 END) AS BIGINT) AS union_sec,
        | CAST(count(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_intervals
        |FROM c GROUP BY user_id""".stripMargin),

    Query("t10_anomaly", (s, d) => {
      // per-type daily volume anomalies: trailing-week z-score from
      // exact integer sums (ValidationOps.rollingZScore) — the spike
      // monitor over the same daily grid t5 fills
      val daily = t(s, d, "events")
        .select(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      ValidationOps.rollingZScore(daily, "event_type", "day", "n")
    },
      // mean/variance replayed from the same exact integer frame sums,
      // z as the identical fixed-order double expression
      """WITH c AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |   CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, n,
        |   count(*) OVER fr AS cnt, sum(n) OVER fr AS s1,
        |   sum(n*n) OVER fr AS s2
        |  FROM c
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, day, n,
        |   CASE WHEN cnt >= 3 AND s2*cnt - s1*s1 > 0 THEN
        |    round((CAST(n*cnt - s1 AS DOUBLE) / cnt) /
        |          sqrt(CAST(s2*cnt - s1*s1 AS DOUBLE) / (cnt*(cnt-1))), 4)
        |   END AS z
        |  FROM w)
        |SELECT event_type, day, n, z,
        | coalesce(abs(z) >= 3.0, false) AS anomaly
        |FROM z""".stripMargin),

    Query("t11_seasonal", (s, d) => {
      // day-of-week seasonal profile per event type (index = dow mean /
      // overall daily mean): the calendar-period decomposition the
      // anomaly monitor (t10) normalizes against when traffic has a
      // weekly shape. All counts exact; the index is ONE division of
      // integer products ((Σ_dow·days_all)/(days_dow·Σ_all))
      val daily = t(s, d, "events")
        .select(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      val dow = daily
        .withColumn("dow", pmod(col("day"), lit(7L)).cast("int"))
        .groupBy("event_type", "dow")
        .agg(count(lit(1)).as("n_days"), sum("n").as("sum_n"))
      val tot = daily.groupBy("event_type")
        .agg(count(lit(1)).as("days_all"), sum("n").as("sum_all"))
      dow.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("dow"), col("n_days"),
          round(col("sum_n").cast("double") /
            col("n_days").cast("double"), 4).as("mean_n"),
          round((col("sum_n") * col("days_all")).cast("double") /
            (col("n_days") * col("sum_all")).cast("double"), 6)
            .as("seasonal_idx"))
    },
      // exact-count seasonal index: one division of integer products
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |   count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dw AS (
        |  SELECT event_type, CAST(day % 7 AS INT) AS dow,
        |   count(*) AS n_days, sum(n) AS sum_n
        |  FROM daily GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, count(*) AS days_all, sum(n) AS sum_all
        |  FROM daily GROUP BY 1)
        |SELECT dw.event_type, dow, CAST(n_days AS BIGINT) AS n_days,
        | round(CAST(sum_n AS DOUBLE) / n_days, 4) AS mean_n,
        | round(CAST(sum_n * days_all AS DOUBLE) /
        |   CAST(n_days * sum_all AS DOUBLE), 6) AS seasonal_idx
        |FROM dw JOIN tot ON dw.event_type = tot.event_type""".stripMargin),

    Query("t12_cusum", (s, d) => {
      // CUSUM changepoint per event type over the daily series: where
      // did the baseline volume shift? (t10 flags local spikes; this
      // locates the level change.) All-integer argmax
      val daily = t(s, d, "events")
        .select(col("event_type"), expr("CAST(ts AS LONG) div 86400").as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      ValidationOps.cusumChangepoint(daily, "event_type", "day", "n")
    },
      // |N·C_t − t·T| replayed as exact integers; argmax via the same
      // (sdev desc, day asc) rank
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |   count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, day, n,
        |   CAST(row_number() OVER w AS BIGINT) AS tindex,
        |   sum(n) OVER w AS ct
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |tot AS (
        |  SELECT event_type, count(*) AS nn, sum(n) AS tt
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT c.event_type, day, n, nn,
        |   abs(ct*nn - tindex*tt) AS sdev
        |  FROM c JOIN tot ON c.event_type = tot.event_type),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY sdev DESC, day ASC) AS rn FROM dev)
        |SELECT event_type, day AS cp_tick, CAST(n AS BIGINT) AS n_at_cp,
        | CAST(sdev AS BIGINT) AS scaled_dev,
        | round(CAST(sdev AS DOUBLE) / nn, 4) AS max_dev
        |FROM r WHERE rn = 1""".stripMargin),

    Query("t13_twa", (s, d) => {
      // time-weighted average per user (each value holds until the next
      // event): Σ v·Δt / Σ Δt over the ordered series — the standard
      // irregular-series aggregate (sensor/price data), where a plain
      // avg over-weights bursts. Δt is exact integer seconds from one
      // lead window; the float Σ v·Δt runs as an ordered fold over the
      // user's ts-sorted contributions so engines agree bit-exactly.
      // Per-user array state is the same bounded-horizon contract as
      // the sessionizer buffers
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsec"), col("event_id"))
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          expr("CAST(ts AS LONG)").as("tsec"), col("value"))
        .withColumn("dt", lead(col("tsec"), 1).over(w) - col("tsec"))
        .filter(col("dt").isNotNull)
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_holds"),
          sum(col("dt")).as("span_sec"),
          array_sort(collect_list(struct(col("tsec"), col("event_id"),
            (col("value") * col("dt").cast("double")).as("vdt"))))
            .as("arr"))
        .select(col("user_id"), col("n_holds"), col("span_sec"),
          round(aggregate(col("arr"), lit(0.0d),
              (a, x) => a + x.getField("vdt")) /
            col("span_sec").cast("double"), 6).as("twa"))
    },
      // Δt from the same lead window; Σ v·Δt replayed as the identical
      // (tsec, event_id)-ordered fold
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec, value
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id, tsec, value,
        |   lead(tsec, 1) OVER (PARTITION BY user_id
        |     ORDER BY tsec, event_id) - tsec AS dt
        |  FROM e),
        |f AS (SELECT user_id, event_id, tsec, dt,
        |       value * CAST(dt AS DOUBLE) AS vdt
        |      FROM l WHERE dt IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_holds,
        | CAST(sum(dt) AS BIGINT) AS span_sec,
        | round(list_reduce(list_prepend(0.0::DOUBLE,
        |   list(vdt ORDER BY tsec, event_id)), (a, x) -> a + x)
        |   / sum(dt), 6) AS twa
        |FROM f GROUP BY user_id""".stripMargin),

    Query("t5_locf", (s, d) => {
      // dense (event_type × day) grid with last-observation-carried-
      // forward fill — the resample/gap-fill primitive. Grid = distinct
      // types × the global day span (both tiny: broadcast); fill = the
      // grouped-max-over-cumulative-count trick: grp counts observed
      // days so far, so every gap row shares its grp with exactly one
      // observed row and max() carries that value forward. Both windows
      // and the final shape ride ONE exchange on event_type (the
      // (event_type, grp) window re-uses the event_type hash
      // partitioning — subset-clustering satisfies the distribution)
      val ev = t(s, d, "events").select(col("event_type"),
        expr("CAST(ts AS LONG) div 86400").as("day"), col("value"))
      val daily = ev.groupBy("event_type", "day")
        .agg(count(lit(1)).as("n_obs"), round(sum(col("value")), 2).as("day_sum"))
      val days = ev.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val grid = ev.select("event_type").distinct().crossJoin(days)
      grid.join(daily, Seq("event_type", "day"), "left")
        .withColumn("grp", count(col("day_sum"))
          .over(Window.partitionBy("event_type").orderBy("day")))
        .withColumn("locf_sum",
          max(col("day_sum")).over(Window.partitionBy("event_type", "grp")))
        .select(col("event_type"), col("day"),
          coalesce(col("n_obs"), lit(0L)).as("n_events"),
          coalesce(col("locf_sum"), lit(0.0)).as("locf_sum"))
    },
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day, value
        |  FROM events),
        |daily AS (
        |  SELECT event_type, day, count(*) AS n_obs,
        |   round(sum(value), 2) AS day_sum
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |grid AS (
        |  SELECT t.event_type, d.day
        |  FROM (SELECT DISTINCT event_type FROM ev) t,
        |       (SELECT unnest(generate_series(d0, d1)) AS day FROM span) d),
        |f AS (
        |  SELECT g.event_type, g.day, daily.n_obs, daily.day_sum,
        |   count(daily.day_sum) OVER (PARTITION BY g.event_type
        |     ORDER BY g.day) AS grp
        |  FROM grid g LEFT JOIN daily
        |    ON g.event_type = daily.event_type AND g.day = daily.day)
        |SELECT event_type, day, COALESCE(n_obs, 0) AS n_events,
        | COALESCE(max(day_sum) OVER (PARTITION BY event_type, grp), 0.0)
        |   AS locf_sum
        |FROM f""".stripMargin),

    Query("t7_interp", (s, d) => {
      // linear-interpolation gap-fill — the smooth companion to t5's
      // LOCF. Same dense grid; each gap day takes
      // pv + (nv-pv)·(day-pd)/(nd-pd) between its bracketing
      // observations, found with the grouped-max trick run in BOTH
      // directions (forward grp for prev, backward grp for next); both
      // directions and the final projection ride the one event_type
      // partitioning. Leading/trailing gaps fall back to the nearest
      // observation (coalesce), so the series is total
      val ev = t(s, d, "events").select(col("event_type"),
        expr("CAST(ts AS LONG) div 86400").as("day"), col("value"))
      val daily = ev.groupBy("event_type", "day")
        .agg(round(sum(col("value")), 2).as("day_sum"))
      val days = ev.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val grid = ev.select("event_type").distinct().crossJoin(days)
      val wF = Window.partitionBy("event_type").orderBy(col("day"))
      val wB = Window.partitionBy("event_type").orderBy(col("day").desc)
      val g = grid.join(daily, Seq("event_type", "day"), "left")
        .withColumn("gf", count(col("day_sum")).over(wF))
        .withColumn("gb", count(col("day_sum")).over(wB))
      val pv = max(col("day_sum")).over(Window.partitionBy("event_type", "gf"))
      val pd = min(col("day")).over(Window.partitionBy("event_type", "gf"))
      val nv = max(col("day_sum")).over(Window.partitionBy("event_type", "gb"))
      val nd = max(col("day")).over(Window.partitionBy("event_type", "gb"))
      g.withColumn("pv", pv).withColumn("pd", pd)
        .withColumn("nv", nv).withColumn("nd", nd)
        .select(col("event_type"), col("day"),
          round(coalesce(col("day_sum"),
            col("pv") + (col("nv") - col("pv")) * (col("day") - col("pd")) /
              (col("nd") - col("pd")),
            col("pv"), col("nv")), 4).as("interp_sum"))
    },
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day, value
        |  FROM events),
        |daily AS (
        |  SELECT event_type, day, round(sum(value), 2) AS day_sum
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |grid AS (
        |  SELECT t.event_type, d.day
        |  FROM (SELECT DISTINCT event_type FROM ev) t,
        |       (SELECT unnest(generate_series(d0, d1)) AS day FROM span) d),
        |g AS (
        |  SELECT g.event_type, g.day, daily.day_sum,
        |   count(daily.day_sum) OVER (PARTITION BY g.event_type
        |     ORDER BY g.day) AS gf,
        |   count(daily.day_sum) OVER (PARTITION BY g.event_type
        |     ORDER BY g.day DESC) AS gb
        |  FROM grid g LEFT JOIN daily
        |    ON g.event_type = daily.event_type AND g.day = daily.day),
        |h AS (
        |  SELECT event_type, day, day_sum,
        |   max(day_sum) OVER (PARTITION BY event_type, gf) AS pv,
        |   min(day) OVER (PARTITION BY event_type, gf) AS pd,
        |   max(day_sum) OVER (PARTITION BY event_type, gb) AS nv,
        |   max(day) OVER (PARTITION BY event_type, gb) AS nd
        |  FROM g)
        |SELECT event_type, day,
        | round(COALESCE(day_sum,
        |   pv + (nv - pv) * (day - pd) / (nd - pd), pv, nv), 4) AS interp_sum
        |FROM h""".stripMargin),

    Query("t6_sliding_distinct", (s, d) => {
      // trailing-7-day distinct users per day with BOUNDED fanout: the
      // scalable form of sliding count-distinct. (day,user) distinct
      // first (shrinks to active-pairs), explode each pair into the ≤7
      // window-days it serves, distinct again, count — state is never
      // a per-window user list, and every stage is a keyed exchange
      // over at most 7× the active-pair count. A window-function
      // count-distinct doesn't exist; recomputing each window from raw
      // events would be 7 full passes
      val ev = t(s, d, "events")
        .select(expr("CAST(ts AS LONG) div 86400").as("day"), col("user_id"))
        .distinct()
      val mx = ev.agg(max("day").as("m"))
      ev.select(explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("user_id"))
        .distinct()
        .crossJoin(broadcast(mx))
        .filter(col("day") <= col("m"))
        .groupBy("day").agg(count(lit(1)).as("n_users_7d"))
    },
      """WITH ev AS (
        |  SELECT DISTINCT epoch_us(ts) // 1000000 // 86400 AS day, user_id
        |  FROM events),
        |ex AS (
        |  SELECT DISTINCT day + i AS day, user_id
        |  FROM ev, unnest(generate_series(0, 6)) AS t(i)),
        |mx AS (SELECT max(day) AS m FROM ev)
        |SELECT day, count(*) AS n_users_7d
        |FROM ex, mx WHERE day <= m GROUP BY day""".stripMargin)
  )
}
