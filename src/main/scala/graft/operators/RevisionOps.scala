package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Revision-stream operators: consecutive pairs, diffs, the change-ratio
  * sampler, event-time bucketing, and dense gap-filled series.
  *
  * These generalize the reference's revision-history semantics to any
  * (key, timestamp, payload)-shaped relation — here exercised on the
  * `events` table, same semantics as revisions keyed by page.
  *
  * Scale stance (100 TB): every op here is a window over
  * `partitionBy(key).orderBy(ts)` or a sorted-group traversal — both
  * require a clustering on the key and stream each group in timestamp
  * order; no whole-group materialization except the (bounded) sampler
  * carry state. An input already clustered on the key (a one-file
  * wikirev scan on `page_id`) gets a local sort in its own stage; any
  * other input is shuffled once on the key.
  */
object RevisionOps {

  /** S5/W1 — every row with its predecessor's columns (lag window).
    * Reference: io/input/WikiRevisionPairInputFormat.java:173-182 (dummy
    * first-pair semantics = nulls here). */
  def pairs(df: DataFrame, key: String, ts: String, cols: Seq[String],
            tieBreak: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieBreak))
    cols.foldLeft(df) { (d, c) => d.withColumn(s"prev_$c", lag(col(c), 1).over(w)) }
  }

  /** S6 — consecutive-pair diff rows: pairs() + a diff expression over the
    * previous/current token lists (caller picks the diff column fn).
    * Reference: io/input/WikiRevisionDiffInputFormat.java:139-154. */
  def diffs(df: DataFrame, key: String, ts: String, textCol: String,
            tieBreak: String, diffFn: (Column, Column) => Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieBreak))
    df.withColumn("prev_tokens", lag(col(textCol), 1).over(w))
      .withColumn("deltas", diffFn(col("prev_tokens"), col(textCol)))
  }

  /** S8 — the reference's "fast approximated reading" sampler with exact
    * carry semantics (io/etl/RevisionETLReader.java:320-397, thresholds
    * :35-36): traverse each key's rows in time order keeping a buf
    * candidate; per new row compute the change ratio vs the buffer —
    *   ratio < lower  → replace the buffer without emitting (near-identical);
    *   ratio > upper  → emit the buffer, then buffer the new row (big change);
    *   otherwise      → skip the new row, buffer unchanged (gray zone);
    * the final buffer is always emitted (the reference's flag-4 last-revision
    * case, :225-241).
    *
    * Implemented over sorted groups (`flatMapSortedGroups`): rows of one
    * key streamed in `ts` order, O(1) state per group — safe for the
    * largest keys at scale. The groups require a clustering on `key`
    * rather than forcing one: over a one-file wikirev scan, clustered on
    * `page_id`, they take a local sort in the scan's stage, and any other
    * input gets one exchange on `key` and a sort.
    * Returns the kept rows with the original schema.
    */
  def changeRatioSample(df: DataFrame, key: String, ts: String,
                        lenCol: String, lower: Double = 0.01,
                        upper: Double = 0.1, minLen: Double = 0.0,
                        tieBreak: String = null): DataFrame = {
    val schema = df.schema
    val lenIdx = schema.fieldIndex(lenCol)
    val rowEnc = Encoders.row(schema)
    // rows below the minimum size never take part in the carry — the
    // reference's GOOD_ENOUGH_REVISION skip (RevisionETLReader.java:43,
    // :273-294; its tiny-last-revision case degenerates to the normal
    // end-of-group buffer flush once such rows are excluded)
    val eligible = if (minLen > 0) df.filter(col(lenCol) >= minLen) else df
    // a tie-break column keeps the traversal (and thus the kept set)
    // deterministic when a key has equal timestamps
    val sortCols = if (tieBreak == null) Seq(col(ts)) else Seq(col(ts), col(tieBreak))
    eligible.groupBy(col(key))
      .as[Row, Row](Encoders.row(StructType(Seq(schema(key)))), rowEnc)
      .flatMapSortedGroups(sortCols: _*) { (_, it) =>
        new Iterator[Row] {
          private var buf: Row = null
          private var pending: Row = null // next row to emit
          private def ratio(prev: Row, cur: Row): Double = {
            val pl = math.max(math.abs(prev.getAs[Number](lenIdx).doubleValue()), 1.0)
            val cl = math.abs(cur.getAs[Number](lenIdx).doubleValue())
            math.abs(cl - pl) / pl
          }
          private def advance(): Unit = {
            while (pending == null && it.hasNext) {
              val cur = it.next()
              if (buf == null) buf = cur
              else {
                val r = ratio(buf, cur)
                if (r < lower) buf = cur
                else if (r > upper) { pending = buf; buf = cur }
                // else: gray zone — drop cur, keep the buffer
              }
            }
            if (pending == null && buf != null) { // end of group
              pending = buf; buf = null
            }
          }
          override def hasNext: Boolean = { advance(); pending != null }
          override def next(): Row = { advance(); val r = pending; pending = null; r }
        }
      }(rowEnc)
  }

  /** T1 — event-time ceil-rounding ("roundup") to a fixed-length unit with
    * an anchor offset, as epoch-seconds arithmetic. The smallest boundary
    * `k*unitSec + anchorSec >= ts` (a timestamp already on a boundary stays).
    * Reference: io/input/WikiRevisionTimeInputFormat.java:225-269 (day
    * anchored at 01:00, week at Monday 01:00; its month roundup via
    * addWeeks(1) is a documented bug we do not replicate). */
  def roundUp(ts: Column, unitSec: Long, anchorSec: Long = 0L): Column = {
    // exact integer micro-precision: the smallest t >= ts with
    // t ≡ anchor (mod unit) is ts + pmod(anchor - ts, unit) — a
    // timestamp one microsecond past a boundary belongs to the next
    // bucket (double division would round that microsecond away)
    val us = unix_micros(ts)
    val unitUs = unitSec * 1000000L
    val anchorUs = anchorSec * 1000000L
    timestamp_micros(us + pmod(lit(anchorUs) - us, lit(unitUs)))
  }

  /** T2 — fixed-interval bucketing by epoch millis (hour/6h/day/…).
    * Reference: experiments io/etl/RevisionBOWInputFormat.java:28,50-66. */
  def intervalBucket(ts: Column, intervalMs: Long): Column =
    floor(unix_millis(ts).cast("double") / intervalMs).cast("long")

  /** A8 — dense gap-filled daily series per key over [begin, end]:
    * missing days become 0. One aggregation + a generated date axis; no
    * secondary-sort machinery (reference: BuildShortTermTS.java:170-245).
    * Output: (key, day:String yyyy-MM-dd, cnt:Long), one row per key×day. */
  def denseDailyCounts(df: DataFrame, key: String, ts: String,
                       begin: String, end: String): DataFrame = {
    val daily = df
      .filter(col(ts) >= lit(begin).cast("timestamp") &&
        col(ts) < date_add(lit(end).cast("date"), 1).cast("timestamp"))
      .groupBy(col(key), to_date(col(ts)).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val axis = daily.select(col(key)).distinct()
      .withColumn("day",
        explode(sequence(lit(begin).cast("date"), lit(end).cast("date"))))
    axis.join(daily, Seq(key, "day"), "left")
      .select(col(key), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }
}
