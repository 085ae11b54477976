package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.{EventStreamOps, StreamTrace}
import graft.streaming.EventStreamOps.{Change, DocEvent, Event, FunnelEvent}
import graft.streaming.StreamTrace.{at, wall, T0}
import QueryKit._

/** Streaming golden traces, each run through `streaming/StreamTrace` (st*):
  * one [[Query]] record per query. */
private[graft] object Streaming {

  val all: Seq[Query] = Seq(
    Query("st_topk", (s, _) => {
      // continuous per-window heavy hitters: the streaming windowed
      // aggregation materializes (window, key, count) — bounded state,
      // same operator as st_windowed_counts — and the SERVING read ranks
      // within each finalized window (the lambda read side; ranking
      // windows aren't streamable, so the top-k lives where it belongs:
      // on the materialized view, partitioned by window).
      StreamTrace.run[Event](s, "st_topk", "complete")(src =>
        EventStreamOps.windowedCounts(src.toDF(), "ts", "user_id",
          "10 minutes", "5 minutes"))(
        Seq(Event(1, wall("2024-01-01 00:01:00"), 1.0),
          Event(1, wall("2024-01-01 00:02:00"), 1.0),
          Event(1, wall("2024-01-01 00:03:00"), 1.0),
          Event(2, wall("2024-01-01 00:04:00"), 1.0),
          Event(2, wall("2024-01-01 00:05:00"), 1.0),
          Event(3, wall("2024-01-01 00:06:00"), 1.0),
          Event(2, wall("2024-01-01 00:11:00"), 1.0),
          Event(2, wall("2024-01-01 00:12:00"), 1.0),
          Event(3, wall("2024-01-01 00:13:00"), 1.0)))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("window_start"))
            .orderBy(col("n_events").desc, col("user_id").asc)).cast("long"))
        .filter(col("rk") <= 2)
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("w_start"),
          col("user_id"), col("n_events"), col("rk"))
    },
      // golden trace: window 00:00 has u1×3 > u2×2 > u3×1; window 00:10
      // has u2×2 > u3×1 — top-2 each, ranked (count desc, user asc)
      """SELECT col0 AS w_start, CAST(col1 AS BIGINT) AS user_id,
        | CAST(col2 AS BIGINT) AS n_events, CAST(col3 AS BIGINT) AS rk
        |FROM (VALUES ('2024-01-01 00:00:00', 1, 3, 1),
        | ('2024-01-01 00:00:00', 2, 2, 2),
        | ('2024-01-01 00:10:00', 2, 2, 1),
        | ('2024-01-01 00:10:00', 3, 1, 2)) t""".stripMargin),

    Query("st_psi", (s, _) => {
      // streaming drift monitor: each watermarked window emits its
      // binned value counts (bounded state — O(windows × bins)); the
      // SERVING read computes PSI per finalized window against a fixed
      // reference distribution (broadcast literals) with the batch
      // stats_psi smoothing — the lambda read side, like st_topk.
      // Reference: uniform thirds over bins 0/1/2.
      val out = StreamTrace.run[Event](s, "st_psi", "complete")(src =>
        src.toDF()
          .withWatermark("ts", "5 minutes")
          .withColumn("b", least(lit(2L), expr("CAST(value AS LONG) div 10")))
          .groupBy(window(col("ts"), "10 minutes").as("w"), col("b"))
          .agg(count(lit(1)).as("c"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .as("w_start"), col("b"), col("c")))(
        Seq( // window 00:00 skews low, 00:10 skews high
          Event(1L, wall("2024-01-01 00:01:00"), 1.0),
          Event(1L, wall("2024-01-01 00:02:00"), 2.0),
          Event(1L, wall("2024-01-01 00:03:00"), 5.0),
          Event(1L, wall("2024-01-01 00:04:00"), 12.0),
          Event(1L, wall("2024-01-01 00:11:00"), 25.0),
          Event(1L, wall("2024-01-01 00:12:00"), 27.0),
          Event(1L, wall("2024-01-01 00:13:00"), 11.0)))
        // serving-side PSI vs the uniform reference p = 1/3 per bin:
        // full 3-bin grid per window, add-one smoothing on the observed
        // side, ordered fold (the sink view is checkpointed so the
        // windows×bins grid can self-join it without attribute conflicts)
        .localCheckpoint()
      val grid = out
        .select(col("w_start")).distinct()
        .crossJoin(out.sparkSession.range(0, 3).select(col("id").as("b")))
        .join(out, Seq("w_start", "b"), "left_outer")
        .select(col("w_start"), col("b"),
          coalesce(col("c"), lit(0L)).as("c"))
      grid.groupBy("w_start")
        .agg(sum("c").as("n"),
          array_sort(collect_list(struct(col("b"), col("c")))).as("arr"))
        .select(col("w_start"), col("n"),
          round(aggregate(col("arr"), lit(0.0d), (acc, x) => {
            val qv = (x.getField("c").cast("double") + 1) / (col("n") + 3)
            val p = lit(1.0) / 3
            acc + (p - qv) * log(p / qv)
          }), 6).as("psi"))
    },
      // the serving-side PSI fold replayed from the golden window cells
      // (00:00 skews low: bins 3/1/0; 00:10 skews high: 0/1/2)
      """WITH cells AS (SELECT col0 AS w_start, CAST(col1 AS BIGINT) AS b,
        |    CAST(col2 AS BIGINT) AS c
        |  FROM (VALUES ('2024-01-01 00:00:00', 0, 3),
        |   ('2024-01-01 00:00:00', 1, 1), ('2024-01-01 00:00:00', 2, 0),
        |   ('2024-01-01 00:10:00', 0, 0), ('2024-01-01 00:10:00', 1, 1),
        |   ('2024-01-01 00:10:00', 2, 2)) t),
        |g AS (SELECT w_start, CAST(sum(c) AS BIGINT) AS n,
        |       list([CAST(b AS DOUBLE), CAST(c AS DOUBLE)] ORDER BY b)
        |         AS arr
        |      FROM cells GROUP BY 1)
        |SELECT w_start, n,
        | round(list_reduce(list_prepend(0.0::DOUBLE,
        |   list_transform(arr, x ->
        |     (1.0::DOUBLE / 3 - (x[2] + 1.0::DOUBLE) / (n + 3))
        |     * ln((1.0::DOUBLE / 3) / ((x[2] + 1.0::DOUBLE) / (n + 3))))),
        |   (acc, v) -> acc + v), 6) AS psi
        |FROM g""".stripMargin),

    Query("st_ohlc", (s, _) => {
      // streaming OHLC per 10-minute window: open/close are stateful
      // (value, ts)-argmin/argmax aggregates — declarative, so Spark
      // merges partials across micro-batches like any windowed agg;
      // state is O(windows) structs, watermark-expired
      StreamTrace.run[Event](s, "st_ohlc", "complete")(src =>
        src.toDF()
          .withWatermark("ts", "5 minutes")
          .groupBy(window(col("ts"), "10 minutes").as("w"))
          .agg(count(lit(1)).as("n"),
            min_by(col("value"), col("ts")).as("open"),
            max(col("value")).as("high"), min(col("value")).as("low"),
            max_by(col("value"), col("ts")).as("close"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
              .as("w_start"),
            col("n"), col("open"), col("high"), col("low"), col("close")))(
        Seq(Event(1L, wall("2024-01-01 00:01:00"), 1.0),
          Event(1L, wall("2024-01-01 00:02:00"), 5.0),
          Event(1L, wall("2024-01-01 00:03:00"), 0.5),
          Event(1L, wall("2024-01-01 00:09:00"), 2.0),
          Event(1L, wall("2024-01-01 00:12:00"), 3.0),
          Event(1L, wall("2024-01-01 00:14:00"), 1.5)))
    },
      // golden trace: window 00:00 sees 1.0, 5.0, 0.5, 2.0; window 00:10
      // sees 3.0 then 1.5
      """SELECT col0 AS w_start, CAST(col1 AS BIGINT) AS n,
        | CAST(col2 AS DOUBLE) AS open, CAST(col3 AS DOUBLE) AS high,
        | CAST(col4 AS DOUBLE) AS low, CAST(col5 AS DOUBLE) AS close
        |FROM (VALUES ('2024-01-01 00:00:00', 4, 1.0, 5.0, 0.5, 2.0),
        | ('2024-01-01 00:10:00', 2, 3.0, 3.0, 1.5, 1.5)) t""".stripMargin),

    Query("st_smooth", (s, _) => {
      // streaming per-key EWMA: O(1) state (count + level), batch rows
      // fold in event-time order, updated levels emit every batch
      // (Update mode) — the serving read keeps each key's LATEST row.
      // Two micro-batches exercise the state carry-over; α = 1/2 keeps
      // levels exact dyadic rationals, so the trace replays exactly.
      StreamTrace.run[Event](s, "st_smooth", "update")(
          EventStreamOps.ewmaByKey(_))(
        Seq(Event(1, wall("2024-01-01 00:01:00"), 1.0),
          Event(1, wall("2024-01-01 00:02:00"), 2.0),
          Event(2, wall("2024-01-01 00:03:00"), 10.0)),
        Seq(Event(1, wall("2024-01-01 00:04:00"), 3.0),
          Event(2, wall("2024-01-01 00:05:00"), 20.0)))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("n_events"),
          round(col("level"), 6).as("level"))
    },
      // golden trace: u1 folds 1,2 (batch 1) then 3 (batch 2) at α = ½:
      // 1 → 1.5 → 2.25; u2: 10 → 15; serving keeps the latest row per key
      """SELECT CAST(col0 AS BIGINT) AS user_id,
        | CAST(col1 AS BIGINT) AS n_events, CAST(col2 AS DOUBLE) AS level
        |FROM (VALUES (1, 3, 2.25), (2, 2, 15.0)) t""".stripMargin),

    Query("st_cdc_apply", (s, _) => {
      // streaming CDC apply (EventStreamOps.cdcApply): latest-version-
      // wins upserts, tombstone deletes, and a STALE change (key 1's
      // v2 arriving after v3) that must not regress the key — the
      // serving read keeps each key's newest emission
      StreamTrace.run[Change](s, "st_cdc_apply", "update")(
          EventStreamOps.cdcApply(_))(
        Seq(Change(1L, "upsert", 10.0, 1L), Change(2L, "upsert", 20.0, 1L)),
        Seq(Change(1L, "upsert", 11.0, 3L), Change(2L, "delete", 0.0, 2L)),
        // stale v2 for key 1 (already at v3) + a fresh key
        Seq(Change(1L, "upsert", 99.0, 2L), Change(3L, "upsert", 30.0, 1L)))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("key")).orderBy(col("version").desc)))
        .filter(col("rk") === 1)
        .select(col("key"), col("value"), col("version"), col("deleted"))
    },
      // streaming CDC apply: the current table after latest-version-wins
      // folding — stale v2 for key 1 ignored, key 2 a kept tombstone
      """SELECT CAST(col0 AS BIGINT) AS key, CAST(col1 AS DOUBLE) AS value,
        | CAST(col2 AS BIGINT) AS version, CAST(col3 AS BOOLEAN) AS deleted
        |FROM (VALUES
        | (1, 11.0, 3, false), (2, 0.0, 2, true),
        | (3, 30.0, 1, false)) t""".stripMargin),

    Query("st_funnel", (s, _) => {
      // streaming funnel progression (EventStreamOps.funnelStages), the
      // ingest-time sibling of w10_funnel: each stage fires once, only
      // at-or-after the previous stage's entry; a click BEFORE the
      // user's first view (u3 batch 1, u2 batch 4) never advances; a
      // repeat purchase (u1 batch 4) never re-fires
      StreamTrace.run[FunnelEvent](s, "st_funnel", "update")(
          EventStreamOps.funnelStages(_))(
        Seq(FunnelEvent(1, "view", at(0L)), FunnelEvent(3, "click", at(5000L))),
        Seq(FunnelEvent(1, "click", at(10000L)),
          FunnelEvent(2, "view", at(20000L))),
        // u3's view and click land in ONE batch out of stage order in
        // arrival terms — the event-time sort admits both
        Seq(FunnelEvent(3, "click", at(40000L)),
          FunnelEvent(3, "view", at(30000L)),
          FunnelEvent(1, "purchase", at(50000L))),
        Seq(FunnelEvent(2, "click", at(15000L)),
          FunnelEvent(1, "purchase", at(60000L))))
        .select(col("user_id"), col("stage"), (col("ts_ms") - T0).as("ts_ms"))
    },
      // streaming funnel: one row per (user, stage) at its entry time;
      // u3's pre-view click and u2's pre-view click never advance, u1's
      // second purchase never re-fires
      """SELECT CAST(col0 AS BIGINT) AS user_id, col1 AS stage,
        | CAST(col2 AS BIGINT) AS ts_ms
        |FROM (VALUES
        | (1, 'view', 0), (1, 'click', 10000), (1, 'purchase', 50000),
        | (2, 'view', 20000),
        | (3, 'view', 30000), (3, 'click', 40000)) t""".stripMargin),

    Query("st_windowed_counts", (s, _) => {
      // streaming through the correctness gate: a deterministic event
      // trace flows through an in-memory stream source into the
      // watermarked windowed-count operator; the finished micro-batch
      // result is the query output
      StreamTrace.run[Event](s, "st_windowed_counts", "complete")(src =>
        EventStreamOps.windowedCounts(src.toDF(), "ts", "user_id",
          "10 minutes", "5 minutes"))(
        Seq(Event(1, wall("2024-01-01 00:01:00"), 1.0),
          Event(1, wall("2024-01-01 00:04:00"), 2.0),
          Event(2, wall("2024-01-01 00:12:00"), 3.0),
          Event(1, wall("2024-01-01 00:13:00"), 4.0)))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("user_id"), col("n_events"))
    },
      """SELECT col0 AS w_start, CAST(col1 AS BIGINT) AS user_id,
        | CAST(col2 AS BIGINT) AS n_events
        |FROM (VALUES ('2024-01-01 00:00:00', 1, 2),
        | ('2024-01-01 00:10:00', 2, 1), ('2024-01-01 00:10:00', 1, 1)) t""".stripMargin),

    Query("st_watermark_lag", (s, _) => {
      // streaming OBSERVABILITY: per-batch watermark lag (max event
      // time seen vs the watermark the batch ran with) — the first
      // number an on-call reads when a streaming pipeline's windows
      // stop closing. Spark's watermark is computed at the END of a
      // batch and applied to the NEXT one, so batch 1 runs at the
      // epoch-0 initial watermark and every later batch lags exactly
      // one batch's max − delay: the golden trace pins that
      // one-batch-behind semantic (a real operational gotcha). The
      // trace is harness metadata (StreamingQueryProgress), not data
      // rows — at scale this reads the same way from the progress API
      // regardless of input volume. The trace reads the stream's
      // progress, not its sink, so it runs the harness steps itself.
      val src = StreamTrace.source[Event](StreamTrace.session(s))
      val batches = Seq(
        Seq(Event(1, wall("2024-01-01 00:01:00"), 1.0),
          Event(1, wall("2024-01-01 00:05:00"), 1.0)),
        Seq(Event(1, wall("2024-01-01 00:09:00"), 1.0),
          Event(1, wall("2024-01-01 00:12:00"), 1.0)),
        Seq(Event(1, wall("2024-01-01 00:20:00"), 1.0)))
      val progress = StreamTrace.drive(
          EventStreamOps.windowedCounts(src.toDF(), "ts", "user_id",
            "10 minutes", "5 minutes"),
          "memory", "st_watermark_lag", "complete")(
          batches.iterator.map(b => () => src.addData(b))) { q =>
        q.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(p => (p.eventTime.get("max"), p.eventTime.get("watermark")))
      }
      import s.implicits._
      val fmt = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
      progress.zipWithIndex
        .map { case ((mx, wm), i) => (i + 1, mx, wm) }
        .toDF("batch_seq", "max_raw", "wm_raw")
        .select(col("batch_seq"),
          date_format(to_timestamp(col("max_raw"), fmt), "yyyy-MM-dd HH:mm:ss")
            .as("max_event"),
          date_format(to_timestamp(col("wm_raw"), fmt), "yyyy-MM-dd HH:mm:ss")
            .as("watermark"),
          (unix_timestamp(to_timestamp(col("max_raw"), fmt)) -
            unix_timestamp(to_timestamp(col("wm_raw"), fmt))).as("lag_s"))
    },
      // golden trace (buckets = fnv64(user#j) & 255: user 1 -> 135/212,
      // user 2 -> 54/233; no collisions)
      // the one-batch-behind watermark law: batch 1 runs at epoch 0,
      // batch N at (batch N−1's max − 5 min); lag_s for batch 1 is the
      // full epoch offset of the first max event time
      """SELECT CAST(col0 AS INT) AS batch_seq, col1 AS max_event,
        | col2 AS watermark, CAST(col3 AS BIGINT) AS lag_s
        |FROM (VALUES
        | (1, '2024-01-01 00:05:00', '1970-01-01 00:00:00', 1704067500),
        | (2, '2024-01-01 00:12:00', '2024-01-01 00:00:00', 720),
        | (3, '2024-01-01 00:20:00', '2024-01-01 00:07:00', 780)) t""".stripMargin),

    Query("st_cms", (s, _) => {
      // streaming count-min: each finalized window emits its bounded
      // depth×width cells (append mode), which merge cell-wise with the
      // batch sketch — same seed-suffixed FNV bucket family as
      // SketchOps.countMin. The sentinel advances the watermark past both
      // data windows; its own window stays open and unemitted
      StreamTrace.run[Event](s, "st_cms", "append")(src =>
        EventStreamOps.countMinCells(src.toDF(), "ts", "user_id",
          "10 minutes", "10 minutes", depth = 2, width = 256))(
        Seq(Event(1, wall("2024-01-01 00:01:00"), 1.0),
          Event(1, wall("2024-01-01 00:04:00"), 2.0),
          Event(2, wall("2024-01-01 00:12:00"), 3.0),
          Event(1, wall("2024-01-01 00:13:00"), 4.0)),
        // watermark sentinel: 00:40 − 10 min closes the 00:00 and 00:10
        // windows
        Seq(Event(99, wall("2024-01-01 00:40:00"), 0.0)))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("j"), col("bucket"), col("cnt"))
    },
      """SELECT col0 AS w_start, CAST(col1 AS INT) AS j,
        | CAST(col2 AS BIGINT) AS bucket, CAST(col3 AS BIGINT) AS cnt
        |FROM (VALUES ('2024-01-01 00:00:00', 0, 135, 2),
        | ('2024-01-01 00:00:00', 1, 212, 2),
        | ('2024-01-01 00:10:00', 0, 54, 1),
        | ('2024-01-01 00:10:00', 1, 233, 1),
        | ('2024-01-01 00:10:00', 0, 135, 1),
        | ('2024-01-01 00:10:00', 1, 212, 1)) t""".stripMargin),

    Query("st_throttle", (s, _) => {
      // event-time admission control (≤ 2 events per user per 10-min
      // window, chosen in EVENT-TIME order): the out-of-order 00:06
      // arrival in the second batch still beats the already-arrived
      // 00:07 event — admission is a function of event times, not
      // arrival. (00:06 > the 00:02 watermark after batch 1 — an
      // arrival AT the watermark is dropped as late by the stateful-op
      // filter, so the trace keeps a strict margin.) The sentinel
      // advances the watermark past both data windows
      StreamTrace.run[Event](s, "st_throttle", "append")(
          EventStreamOps.throttleEventTime(_, windowMs = 600000L,
            maxPerWindow = 2, watermark = "10 minutes"))(
        Seq(Event(1, wall("2024-01-01 00:05:00"), 3.0),
          Event(1, wall("2024-01-01 00:07:00"), 4.0),
          Event(2, wall("2024-01-01 00:12:00"), 5.0)),
        // within-watermark out-of-order arrival + a second-window event
        Seq(Event(1, wall("2024-01-01 00:06:00"), 3.5),
          Event(1, wall("2024-01-01 00:14:00"), 6.0)),
        // sentinel: watermark 00:40 − 10 min = 00:30 closes both windows
        Seq(Event(99, wall("2024-01-01 00:40:00"), 0.0)))
        .select(col("user_id"),
          date_format(timestamp_millis(col("w_start_ms")),
            "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("seq"),
          date_format(timestamp_millis(col("ts_ms")),
            "yyyy-MM-dd HH:mm:ss").as("ts"),
          col("value"))
    },
      // admission replayed FROM THE INPUT TRACE (not golden outputs):
      // first 2 per (user, window) in (ts, value) order — the event-time
      // rule the operator promises, independent of arrival
      """WITH ev(user_id, ts, value) AS (VALUES
        |  (1, TIMESTAMP '2024-01-01 00:05:00', 3.0::DOUBLE),
        |  (1, TIMESTAMP '2024-01-01 00:07:00', 4.0::DOUBLE),
        |  (2, TIMESTAMP '2024-01-01 00:12:00', 5.0::DOUBLE),
        |  (1, TIMESTAMP '2024-01-01 00:06:00', 3.5::DOUBLE),
        |  (1, TIMESTAMP '2024-01-01 00:14:00', 6.0::DOUBLE)),
        |w AS (SELECT user_id, ts, value,
        |       epoch_ms(ts) // 600000 * 600000 AS wms FROM ev),
        |r AS (SELECT user_id, wms, ts, value,
        |       CAST(row_number() OVER (PARTITION BY user_id, wms
        |         ORDER BY ts, value) AS INT) AS seq FROM w)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        | strftime(make_timestamp(wms * 1000), '%Y-%m-%d %H:%M:%S')
        |   AS w_start,
        | seq, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value
        |FROM r WHERE seq <= 2""".stripMargin),

    Query("st_hll", (s, _) => {
      // streaming distinct-count sketch: each finalized window emits its
      // ≤ 2^p HLL registers (append mode), max-mergeable across windows
      // and with the batch sketch_hll registers — the distinct-count
      // half of the lambda pattern (st_cms is the frequency half).
      // User 1 appears twice in window 0: one register, max'd
      StreamTrace.run[Event](s, "st_hll", "append")(src =>
        EventStreamOps.hllCells(src.toDF(), "ts", "user_id",
          "10 minutes", "10 minutes", p = 6))(
        Seq(Event(1, wall("2024-01-01 00:01:00"), 1.0),
          Event(1, wall("2024-01-01 00:04:00"), 2.0),
          Event(2, wall("2024-01-01 00:05:00"), 3.0),
          Event(3, wall("2024-01-01 00:07:00"), 4.0),
          Event(2, wall("2024-01-01 00:12:00"), 5.0),
          Event(3, wall("2024-01-01 00:13:00"), 6.0)),
        // watermark sentinel: 00:40 − 10 min closes both data windows;
        // its own window stays open and unemitted
        Seq(Event(99, wall("2024-01-01 00:40:00"), 0.0)))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("bucket"), col("rho"))
    },
      // the per-window registers recomputed from the trace via the SAME
      // fnv/rho chain as the batch sketch_hll oracle — derived, not
      // golden-copied; the sentinel's own window never closes
      s"""WITH tr(w_start, uid) AS (VALUES
         |  ('2024-01-01 00:00:00', '1'), ('2024-01-01 00:00:00', '1'),
         |  ('2024-01-01 00:00:00', '2'), ('2024-01-01 00:00:00', '3'),
         |  ('2024-01-01 00:10:00', '2'), ('2024-01-01 00:10:00', '3')),
         |b AS (
         |  SELECT w_start, CAST(fu % 64 AS BIGINT) AS bucket,
         |   CAST(fu // 64 AS BIGINT) AS rest
         |  FROM (SELECT w_start, ${fnvSql("uid || '#hll'")}
         |          % 4294967296::HUGEINT AS fu
         |        FROM tr))
         |SELECT w_start, bucket,
         | CAST(max(CASE WHEN rest = 0 THEN 27
         |   ELSE 27 - CAST(length(bin(rest)) AS INT) END) AS INT) AS rho
         |FROM b GROUP BY w_start, bucket""".stripMargin),

    Query("st_expectations", (s, _) => {
      // streaming data-quality monitor: per finalized window, violation
      // counts of the declared checks (negative value; user id outside
      // the known range) — the ingest-time sibling of stats_expectations
      StreamTrace.run[Event](s, "st_expectations", "append")(src =>
        EventStreamOps.windowedExpectations(src.toDF(), "ts",
          "10 minutes", "10 minutes",
          Seq("n_value_negative" -> (col("value") < 0),
            "n_user_unknown" -> (col("user_id") > 2))))(
        Seq(Event(1, wall("2024-01-01 00:01:00"), 1.0),
          Event(2, wall("2024-01-01 00:04:00"), -2.0),
          Event(5, wall("2024-01-01 00:12:00"), 3.0),
          Event(1, wall("2024-01-01 00:13:00"), -1.0)),
        // sentinel closes the 00:00 and 00:10 windows; its own window
        // (00:40) stays open and unemitted
        Seq(Event(2, wall("2024-01-01 00:40:00"), 0.0)))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("n_value_negative"), col("n_user_unknown"))
    },
      // golden trace: window 00:00 = {v=1.0 (u1), v=-2.0 (u2)} -> one
      // negative value, no unknown user; window 00:10 = {v=3.0 (u5),
      // v=-1.0 (u1)} -> one of each; the sentinel's window never closes
      """SELECT col0 AS w_start, CAST(col1 AS BIGINT) AS n_value_negative,
        | CAST(col2 AS BIGINT) AS n_user_unknown
        |FROM (VALUES ('2024-01-01 00:00:00', 1, 0),
        | ('2024-01-01 00:10:00', 1, 1)) t""".stripMargin),

    Query("st_sessions", (s, _) => {
      // streaming sessionizer through the gate: deterministic two-batch
      // trace; sessions close via the later-event gap path (timeout off)
      StreamTrace.run[Event](s, "st_sessions", "append")(
          EventStreamOps.sessionize(_, gapMs = 60000L, idleTimeout = false))(
        Seq(Event(1, at(0L), 1.0), Event(1, at(30000L), 2.0),
          Event(2, at(10000L), 4.0)),
        Seq(Event(1, at(3600000L), 5.0), Event(2, at(3600000L), 6.0)))
        .select(col("user_id"), col("start_ms"), col("end_ms"),
          col("n_events"), col("sum_value"))
    },
      """SELECT CAST(col0 AS BIGINT) AS user_id, CAST(col1 AS BIGINT) AS start_ms,
        | CAST(col2 AS BIGINT) AS end_ms, CAST(col3 AS INT) AS n_events,
        | CAST(col4 AS DOUBLE) AS sum_value
        |FROM (VALUES
        | (1, 1700000000000, 1700000030000, 2, 3.0),
        | (2, 1700000010000, 1700000010000, 1, 4.0)) t""".stripMargin),

    Query("st_sessions_event", (s, _) => {
      // the event-time sessionizer through the gate: same trace as
      // st_sessions plus a watermark-pushing sentinel key (filtered out)
      // so every session closes by watermark, not wall clock — the
      // emitted set is replay-deterministic (see StreamingSpec)
      StreamTrace.run[Event](s, "st_sessions_event", "append")(
          EventStreamOps.sessionizeEventTime(_, gapMs = 60000L,
            watermark = "10 seconds"))(
        Seq(Event(1, at(0L), 1.0), Event(1, at(30000L), 2.0),
          Event(2, at(10000L), 4.0)),
        Seq(Event(1, at(3600000L), 5.0), Event(2, at(3600000L), 6.0)),
        Seq(Event(9, at(10000000L), 0.0)))
        .filter(col("user_id") =!= 9L)
        .select(col("user_id"), col("start_ms"), col("end_ms"),
          col("n_events"), col("sum_value"))
    },
      // event-time variant: watermark-closed, so the batch-2 singletons
      // also emit (the sentinel pushes the watermark past their gap)
      """SELECT CAST(col0 AS BIGINT) AS user_id, CAST(col1 AS BIGINT) AS start_ms,
        | CAST(col2 AS BIGINT) AS end_ms, CAST(col3 AS INT) AS n_events,
        | CAST(col4 AS DOUBLE) AS sum_value
        |FROM (VALUES
        | (1, 1700000000000, 1700000030000, 2, 3.0),
        | (1, 1700003600000, 1700003600000, 1, 5.0),
        | (2, 1700000010000, 1700000010000, 1, 4.0),
        | (2, 1700003600000, 1700003600000, 1, 6.0)) t""".stripMargin),

    Query("st_static_join", (s, d) => {
      // stream-static enrichment through the gate: the live feed joins a
      // dim table derived from the batch events table (tier = user_id%3)
      // and aggregates per (10-min window, tier); the second batch
      // updates an existing window in complete mode. The dim table is
      // read on the stream's (cloned) session.
      StreamTrace.run[Event](s, "st_static_join", "complete") { src =>
        val dim = t(src.sparkSession, d, "events").select(col("user_id"))
          .distinct()
          .withColumn("tier",
            concat(lit("t"), pmod(col("user_id"), lit(3L)).cast("string")))
        EventStreamOps.enrichedWindowedSums(src.toDF(), dim, "user_id",
          "tier", "ts", "10 minutes")
      }(
        Seq(Event(1, wall("2024-01-01 00:01:00"), 1.5), // tier t1, window 00:00
          Event(4, wall("2024-01-01 00:04:00"), 2.5), // tier t1, same window
          Event(2, wall("2024-01-01 00:12:00"), 3.0)), // tier t2, window 00:10
        Seq(Event(1, wall("2024-01-01 00:13:00"), 4.0))) // t1 joins window 00:10
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("w_start"), col("tier"), col("n_events"), col("sum_value"))
    },
      // golden trace: tiers t1 (users 1,4) and t2 (user 2) from the
      // user_id%3 dim; window 00:10 accumulates across two micro-batches
      """SELECT col0 AS w_start, col1 AS tier, CAST(col2 AS BIGINT) AS n_events,
        | CAST(col3 AS DOUBLE) AS sum_value
        |FROM (VALUES ('2024-01-01 00:00:00', 't1', 2, 4.0),
        | ('2024-01-01 00:10:00', 't2', 1, 3.0),
        | ('2024-01-01 00:10:00', 't1', 1, 4.0)) t""".stripMargin),

    Query("st_dedup", (s, _) => {
      // streaming exact dedup through the gate: in-batch and cross-batch
      // duplicates of a live key drop; a key re-emits once the watermark
      // evicts its state (within-horizon semantics); a late duplicate
      // (ts < watermark) never reaches the operator. Sentinel key 9 only
      // pushes the watermark and is filtered from the result.
      StreamTrace.run[Event](s, "st_dedup", "append")(src =>
        EventStreamOps.dedupWithinWatermark(src.toDF(), Seq("user_id"),
          "ts", "1 minute"))(
        // batch 1: key 1 duplicated inside the batch (identical rows, so
        // the surviving copy is unambiguous)
        Seq(Event(1, at(0L), 1.0), Event(1, at(0L), 1.0),
          Event(2, at(10000L), 2.0)),
        // batch 2: key 1 again while its state is live -> dropped
        Seq(Event(1, at(30000L), 9.0), Event(3, at(40000L), 3.0)),
        // batch 3: sentinel pushes the watermark to 3_540_000 ms,
        // evicting every earlier key's state
        Seq(Event(9, at(3600000L), 0.0)),
        // batch 4: key 2 re-arrives past its horizon -> re-emitted;
        // key 3 re-arrives with ts < watermark -> dropped as late
        Seq(Event(2, at(3600000L), 7.0), Event(3, at(100000L), 9.9)))
        .filter(col("user_id") =!= 9L)
        .select(col("user_id"), (unix_millis(col("ts")) - T0).as("ts_ms"),
          col("value").as("v"))
    },
      // streaming dedup: first row per key while in-horizon; key 2
      // re-emits after watermark eviction; key 3's late replay never lands
      """SELECT CAST(col0 AS BIGINT) AS user_id, CAST(col1 AS BIGINT) AS ts_ms,
        | CAST(col2 AS DOUBLE) AS v
        |FROM (VALUES
        | (1, 0, 1.0),
        | (2, 10000, 2.0),
        | (3, 40000, 3.0),
        | (2, 3600000, 7.0)) t""".stripMargin),

    Query("st_neardup", (s, _) => {
      // streaming MinHash near-dup dedup through the gate: a case/
      // whitespace variant (identical token stream → all bands match)
      // and a one-token edit (shares a band) both drop against a live
      // original; unrelated docs pass; after watermark eviction a
      // near-dup re-emits; a late near-dup (ts < watermark) never
      // reaches the operator. Band buckets for the trace texts are
      // pinned in StreamingSpec against the batch minhash kernel.
      val fox = "the quick brown fox jumps over the lazy dog"
      StreamTrace.run[DocEvent](s, "st_neardup", "append")(src =>
        EventStreamOps.neardupWithinWatermark(src.toDF(), "text", "ts",
          "1 minute"))(
        // batch 1: two unrelated docs -> both emit
        Seq(DocEvent(1, fox, at(0L)), DocEvent(2,
          "completely unrelated payload about parquet row groups", at(10000L))),
        // batch 2: doc 3 = case/whitespace variant of doc 1 (all bands
        // equal), doc 4 = one-token edit (shares band 2) -> both drop;
        // doc 5 is fresh -> emits
        Seq(DocEvent(3, "The  Quick Brown FOX jumps over the LAZY dog", at(20000L)),
          DocEvent(4, "the quick brown fox leaps over the lazy dog", at(30000L)),
          DocEvent(5,
            "another fully distinct sentence mentioning shuffle exchanges",
            at(40000L))),
        // batch 3: sentinel pushes the watermark to 3_540_000 ms,
        // evicting every claimed bucket
        Seq(DocEvent(9, "watermark sentinel advancing event time", at(3600000L))),
        // batch 4: doc 6 is a near-dup of the (evicted) doc 1 -> re-emits
        // (within-horizon semantics); doc 7 replays doc 3's text with
        // ts < watermark -> dropped as late
        Seq(DocEvent(6, "the quick brown fox jumps over the lazy cat", at(3600000L)),
          DocEvent(7, "The  Quick Brown FOX jumps over the LAZY dog", at(100000L))))
        .filter(col("doc_id") =!= 9L)
        .select(col("doc_id"), (unix_millis(col("ts")) - T0).as("ts_ms"))
    },
      // streaming near-dup dedup: the all-bands variant (doc 3) and the
      // shared-band edit (doc 4) drop against the live doc 1; doc 6
      // re-emits after watermark eviction; doc 7's late replay never lands
      """SELECT CAST(col0 AS BIGINT) AS doc_id, CAST(col1 AS BIGINT) AS ts_ms
        |FROM (VALUES
        | (1, 0),
        | (2, 10000),
        | (5, 40000),
        | (6, 3600000)) t""".stripMargin),

    Query("st_substring", (s, _) => {
      // streaming SUBSTRING dedup through the gate — the stream form of
      // the window-MinHash tier (batch/stream symmetry for the newest
      // dedup tier, as st_dedup/st_neardup are for exact and MinHash):
      // docs explode into strided 4-token windows, each claiming its
      // 8-byte bottom-1 MinHash sketch within the watermark horizon;
      // the emitted stream is the NOVEL spans. The trace drives: a full
      // duplicate contributes nothing, a half-overlapping doc emits
      // only its new tail window, eviction re-admits, a late replay
      // never reaches the operator. State is O(windows-in-horizon).
      val eight = "alpha beta gamma delta epsilon zeta eta theta"
      StreamTrace.run[DocEvent](s, "st_substring", "append")(src =>
        EventStreamOps.substringNovelWindows(src.toDF(), "text", "ts",
          "1 minute", w = 4, stride = 4, shingleK = 2))(
        // batch 1: doc 1 (8 tokens → 2 disjoint windows, both novel);
        // doc 2 (4 tokens → 1 novel window)
        Seq(DocEvent(1, eight, at(0L)),
          DocEvent(2, "one two three four", at(10000L))),
        // batch 2: doc 3 duplicates doc 1 exactly → both windows
        // claimed, nothing emits; doc 4 overlaps doc 1's second window
        // → window 0 drops, window 1 (the novel tail) emits
        Seq(DocEvent(3, eight, at(20000L)),
          DocEvent(4, "epsilon zeta eta theta iota kappa lambda mu", at(30000L))),
        // batch 3: sentinel pushes the watermark to 3_540_000 ms,
        // evicting every claimed sketch
        Seq(DocEvent(9, "sentinel watermark advance tick", at(3600000L))),
        // batch 4: doc 6 replays doc 1 past the horizon → both windows
        // re-emit (within-horizon semantics); doc 7 replays doc 4 with
        // ts < watermark → dropped as late
        Seq(DocEvent(6, eight, at(3600000L)),
          DocEvent(7, "epsilon zeta eta theta iota kappa lambda mu", at(100000L))))
        .filter(col("doc_id") =!= 9L)
        .select(col("doc_id"), col("win_idx"),
          (unix_millis(col("ts")) - T0).as("ts_ms"))
    },
      // streaming substring dedup: the novel-window stream — doc 1's two
      // windows and doc 2's one admit; doc 3 (full dup) contributes
      // nothing; doc 4 emits only its novel tail window; doc 6 re-admits
      // both windows after eviction; doc 7's late replay never lands
      """SELECT CAST(col0 AS BIGINT) AS doc_id, CAST(col1 AS BIGINT) AS win_idx,
        | CAST(col2 AS BIGINT) AS ts_ms
        |FROM (VALUES
        | (1, 0, 0),
        | (1, 1, 0),
        | (2, 0, 10000),
        | (4, 1, 30000),
        | (6, 0, 3600000),
        | (6, 1, 3600000)) t""".stripMargin),

    Query("st_curate", (s, _) => {
      // composed streaming curation (EventStreamOps.curateStream):
      // quality gate → exact dedup → banded near-dup in ONE append
      // query, every stage's state watermark-bounded. The trace drives
      // each stage: a too-short doc dies at the stateless gate (even
      // arriving late), an exact copy and a whitespace variant drop
      // against the live original, a clean doc passes, and the original
      // re-admits after watermark eviction — the admitted stream is the
      // verdict.
      val fox = "the quick brown fox jumps over the lazy dog"
      StreamTrace.run[DocEvent](s, "st_curate", "append")(src =>
        EventStreamOps.curateStream(src.toDF(), "text", "ts",
          "1 minute", minChars = 20))(
        // batch 1: original admits; exact copy drops (stage 2); short
        // doc dies at the gate (stage 1); whitespace variant drops at
        // the band stage (stage 3: different hash, identical tokens)
        Seq(DocEvent(1, fox, at(0L)), DocEvent(2, fox, at(10000L)),
          DocEvent(3, "tiny doc", at(20000L)),
          DocEvent(4, "the  quick brown fox jumps over the lazy dog", at(30000L))),
        // batch 2: fresh clean doc admits
        Seq(DocEvent(5, "completely unrelated payload about parquet row groups",
          at(40000L))),
        // batch 3: sentinel pushes the watermark to 3_540_000 ms,
        // evicting the hash and band state of every earlier doc
        Seq(DocEvent(9, "watermark sentinel advancing event time", at(3600000L))),
        // batch 4: the original's text re-arrives past its horizon ->
        // re-admitted; a late short doc is still gated (stateless)
        Seq(DocEvent(6, fox, at(3600000L)), DocEvent(7, "tiny doc", at(100000L))))
        .filter(col("doc_id") =!= 9L)
        .select(col("doc_id"), (unix_millis(col("ts")) - T0).as("ts_ms"),
          col("n_chars"))
    },
      // composed streaming curation: the admitted stream — gate-rejected
      // (3, 7), exact-dup (2) and near-dup (4) rows never land; the
      // original re-admits (6) after watermark eviction
      """SELECT CAST(col0 AS BIGINT) AS doc_id, CAST(col1 AS BIGINT) AS ts_ms,
        | CAST(strlen(col2) AS INT) AS n_chars
        |FROM (VALUES
        | (1, 0, 'the quick brown fox jumps over the lazy dog'),
        | (5, 40000, 'completely unrelated payload about parquet row groups'),
        | (6, 3600000, 'the quick brown fox jumps over the lazy dog')) t""".stripMargin),

    Query("st_stream_join", (s, _) => {
      // watermarked stream-stream interval join through the gate:
      // clicks attribute to same-user impressions at most 30 minutes
      // older; the out-of-window click matches nothing. Two sources, so
      // the trace runs the harness steps itself.
      val ss = StreamTrace.session(s)
      val imps = StreamTrace.source[Event](ss)
      val clicks = StreamTrace.source[Event](ss)
      StreamTrace.drive(EventStreamOps.intervalJoin(imps.toDF(), clicks.toDF(),
          "user_id", "ts", "value", "1 minute", "30 minutes"),
          "memory", "st_stream_join", "append")(Iterator(
        () => imps.addData(Event(1, at(0L), 100.0), Event(2, at(10000L), 200.0)),
        // the user-2 click is 39:50 after its impression
        () => clicks.addData(Event(1, at(300000L), 1.0),
          Event(1, at(600000L), 2.0), Event(2, at(2400000L), 3.0))))(
        _ => ss.table("st_stream_join"))
        .select(col("user_id"),
          (unix_millis(col("left_ts")) - T0).as("imp_ms"),
          (unix_millis(col("right_ts")) - T0).as("click_ms"),
          col("left_value").as("imp_value"),
          col("right_value").as("click_value"))
    },
      // stream-stream interval join: clicks within 30 min of the same
      // user's impression; the 39:50-delay click matches nothing
      """SELECT CAST(col0 AS BIGINT) AS user_id, CAST(col1 AS BIGINT) AS imp_ms,
        | CAST(col2 AS BIGINT) AS click_ms, CAST(col3 AS DOUBLE) AS imp_value,
        | CAST(col4 AS DOUBLE) AS click_value
        |FROM (VALUES
        | (1, 0, 300000, 100.0, 1.0),
        | (1, 0, 600000, 100.0, 2.0)) t""".stripMargin)
  )
}
