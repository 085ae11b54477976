package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data preparation (driver brief: the
  * operations a large-scale training pipeline needs; no reference
  * analogue — the reference stops at corpus statistics).
  *
  * A tokenized corpus is consumed as fixed-budget training sequences;
  * the packer assigns every document a sequence id so a downstream
  * writer can group documents into sequences of ≤ `budget` tokens
  * (documents longer than the budget span sequences and are split by
  * the consumer at token granularity — the assignment here is by the
  * document's START offset, the standard contiguous-packing rule).
  *
  * Scale stance (100 TB): packing is per shard (`shardCol` — source,
  * crawl segment, bucket...), NOT global: the running token offset is a
  * window partitioned by shard, so shards pack in parallel and no
  * single-partition global ordering ever materializes. A global pack
  * over 100 TB would serialize the corpus through one task; per-shard
  * is what production pipelines run (sequences never cross shard
  * boundaries anyway, since shards are the unit of shuffling/epoching).
  */
object PackOps {

  /** Assign each document its token start offset and sequence id within
    * its shard: docs ordered by id, `tok_start` = running sum of
    * preceding token counts, `seq_id` = tok_start / budget.
    *
    * Output: (shard, doc_id, n_tokens, tok_start, seq_id). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    shardCol: String, budget: Int): DataFrame = {
    require(budget > 0, s"pack budget must be positive, got $budget")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(shardCol).as("shard"), col(idCol).as("doc_id"),
        size(TermOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integral `div`, not `/`: a corpus-scale token offset exceeds
      // double's 2^53 exact-integer range, where `/`+cast could misassign
      .withColumn("seq_id", expr(s"tok_start div $budget"))
  }

  /** Deterministic epoch shuffle: every document gets a reproducible
    * training-order position per epoch — no RNG state, any engine
    * recomputes the identical order. `h = hash32(hash32(id+1) + epoch)`
    * (the nested round decorrelates epochs without any multiplication
    * that could overflow strict-BIGINT engines), `shard = h % shards`,
    * `pos` = rank of `h` within the shard.
    *
    * Scale stance (100 TB): the rank window is partitioned by
    * (epoch, shard) — shards shuffle in parallel and no global ordering
    * ever funnels through one task. Shard count is the training job's
    * file/reader parallelism, so `sortWithinPartitions` on (shard, pos)
    * after `repartition(shards)` writes ready-to-stream epoch files. */
  def epochShuffle(docs: DataFrame, idCol: String, epochs: Int,
                   shards: Int): DataFrame = {
    require(epochs > 0 && shards > 0, s"need positive epochs/shards")
    val h = SimilarityOps.hash32Col(
      SimilarityOps.hash32Col(col("doc_id") + lit(1L)) + col("epoch"))
    docs.select(col(idCol).as("doc_id"))
      .crossJoin(broadcast(
        docs.sparkSession.range(1, epochs + 1).select(col("id").as("epoch"))))
      .withColumn("h", h)
      .withColumn("shard", col("h") % shards)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("h"), col("doc_id"))).cast("long"))
      .select("doc_id", "epoch", "shard", "pos")
  }

  /** Exact-count mixture sampling: a training-mix spec gives per-domain
    * TARGET counts ("50 en docs, 40 de, …"); each domain contributes its
    * `tgt` lowest-hash documents — the per-group generalization of
    * `SketchOps.bottomKSample`, and the counted complement of the
    * rate-based stratified sampler (`sample_stratified`): a mix budget is
    * a count, not a rate, so the planner needs exact sizes. Domains
    * absent from `targets` are excluded (inner join); a domain smaller
    * than its target contributes everything it has (rn never exceeds the
    * group size — the take-all clamp a real mix hits on scarce
    * languages).
    *
    * Deterministic: selection is a pure function of (id set, salt) —
    * invariant to partitioning, retries and cluster size, so the mix is
    * auditable and re-runnable. Scale shape: one hash projection, a
    * broadcast join against the O(domains) target table, and a rank
    * window partitioned by domain — domains rank in parallel; no global
    * ordering materializes. For a heavily-skewed domain the window's
    * per-key sort is the cost; at that point pre-filter with a hash
    * threshold (bottomKSample's TakeOrderedAndProject shape) per domain
    * first. */
  def mixtureSample(docs: DataFrame, idCol: String, domainCol: String,
                    targets: Map[String, Long], salt: String = "mix"): DataFrame = {
    require(targets.nonEmpty, "mixtureSample needs at least one target")
    require(targets.values.forall(_ > 0), "targets must be positive")
    val sp = docs.sparkSession
    import sp.implicits._
    val tdf = targets.toSeq.sortBy(_._1).toDF("domain", "tgt")
    docs
      .select(col(domainCol).as("domain"), col(idCol).as("doc_id"),
        call_function("fnv64",
          concat(col(idCol).cast("string"), lit(s"#$salt"))).as("h"))
      .join(broadcast(tdf), Seq("domain"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("domain")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .filter(col("rn") <= col("tgt"))
      .select(col("domain"), col("doc_id"), col("rn"))
  }

  /** Temperature-based source rebalancing (the multilingual-corpus
    * mixing rule, T = 2): source s keeps documents with probability
    * `sqrt(n_s / n_max)` — large sources are downsampled toward the
    * head, small ones kept whole-ish. Deterministic and integer-exact:
    * a doc is kept iff `h² · n_max < n_s · res²` with
    * `h = hash32(id+7) % res`, so no floating-point `sqrt`/`pow` has to
    * agree across engines. Output is the per-source mixing report
    * (n_docs, n_kept); the keep set itself is the un-aggregated filter.
    *
    * Bounds: `h² ≤ res²` (default 2^20), so the comparison stays inside
    * int64 for `n_max < 2^43` docs per source — raise `res` only with
    * that budget in mind. The per-source count table is broadcast (one
    * row per source; small even at 100 TB). */
  def temperatureResample(docs: DataFrame, idCol: String, srcCol: String,
                          res: Int = 1024): DataFrame = {
    val counts = docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val nMax = counts.agg(max("n_docs").as("n_max"))
    val kept = docs
      .select(col(srcCol).as("source"),
        pmod(SimilarityOps.hash32Col(col(idCol) + lit(7L)), lit(res.toLong))
          .as("h"))
      .join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(nMax))
      .filter(col("h") * col("h") * col("n_max") <
        col("n_docs") * lit(res.toLong * res))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    counts.join(kept, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Sliding-window document chunking — the RAG-retrieval / long-context
    * training-window op: each document's token array is cut into windows
    * of `winTokens` tokens advancing by `strideTokens` (overlap =
    * win − stride), with the LAST window anchored so the tail is always
    * covered: starts are 0, s, 2s, …, ceil(max(0, n−win)/s)·s.
    * Documents with no tokens produce no chunks.
    *
    * Pure map + generator — tokenize, build the start list with
    * `sequence`, `posexplode`, `slice` — zero exchanges, zero UDFs
    * (pinned in PlanSpec), so it scales as a linear pass like
    * embed_project. Deterministic closed-form start rule (no
    * accumulated state), so any engine replays the identical chunking —
    * the property that keeps retrieval indexes and training shards
    * rebuildable from scratch.
    *
    * Output: (doc_id, chunk_idx, tok_start, n_tokens, chunk_text). */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   winTokens: Int, strideTokens: Int): DataFrame = {
    require(winTokens > 0 && strideTokens > 0 && strideTokens <= winTokens,
      s"need 0 < stride <= win, got win=$winTokens stride=$strideTokens")
    val toks = TermOps.tokens(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), toks.as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      // last start covers the tail: ceil(max(0, n-win)/stride), integral
      .withColumn("starts", sequence(lit(0),
        expr(s"(greatest(n - $winTokens, 0) + $strideTokens - 1) div $strideTokens")))
      .select(col("doc_id"), col("n"),
        posexplode(transform(col("starts"),
          i => slice(col("toks"), i * strideTokens + 1, lit(winTokens))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * strideTokens).as("tok_start"),
        size(col("chunk")).as("n_tokens"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Exact global `row_number() OVER (ORDER BY value [DESC], id)` WITHOUT
    * a global sort: the ranking a 100 TB corpus cannot pay one task for.
    *
    * Two-phase, the same compressed-histogram move as
    * `layout_range_bounds`: (1) the value histogram — O(distinct values)
    * rows — gets a cumulative window for each value's rank base; (2) each
    * row's intra-value position is a window PARTITIONED by value (ordered
    * by the unique id), so no partition ever holds more than one value's
    * rows. rank = base + position. The only single-partition window runs
    * over the histogram, which is already thousands of times smaller than
    * the data; a value-skewed corpus can salt phase (2)'s key. */
  def exactRank(df: DataFrame, valueCol: String, idCol: String,
                descending: Boolean = false): DataFrame = {
    val v = col(valueCol)
    val hist = df.groupBy(v.as("__v")).agg(count(lit(1)).as("__n"))
      .withColumn("__base", coalesce(sum(col("__n")).over(
        Window.orderBy(if (descending) col("__v").desc else col("__v").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__v"), col("__base"))
    df.join(hist, v === col("__v"))
      .withColumn("rank", col("__base") + row_number().over(
        Window.partitionBy(v).orderBy(col(idCol))).cast("long"))
      .drop("__v", "__base")
  }

  /** Doubled average (fractional) rank per (group, value) — the integer
    * rank encoding Spearman correlation needs: the average rank of a tie
    * group of size m starting after `base` strictly-smaller rows is
    * base + (m+1)/2, a half-integer, so DOUBLING it (2·base + m + 1)
    * keeps every rank an exact integer and leaves Pearson-on-ranks
    * unchanged (correlation is scale-invariant). Returned as the
    * (group, value, r2) HISTOGRAM — O(distinct values per group) rows —
    * for the caller to join back; like [[exactRank]], the cumulative
    * window never sorts occurrences, only the per-group distinct-value
    * histogram, and it is PARTITIONED by the group, so no single task
    * ever owns more than one group's histogram. */
  def avgRank2(df: DataFrame, grpCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(col(grpCol)).orderBy(col(valCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.groupBy(col(grpCol), col(valCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__base", coalesce(sum(col("__n")).over(w), lit(0L)))
      .select(col(grpCol), col(valCol),
        (lit(2L) * col("__base") + col("__n") + 1).as("r2"))
  }

  /** Balanced shard assignment by snake (boustrophedon) order over the
    * size-descending exact rank: rank r goes to pass p = (r-1)/S, slot
    * q = (r-1)%S, shard = q on even passes and S-1-q on odd — each pass
    * deals the S currently-largest docs one per shard, and reversing
    * alternate passes cancels the within-pass bias, the classic
    * LPT-approximation a distributed engine can actually run (true LPT
    * is inherently sequential). Deterministic: same corpus → same
    * shards, so a training run's shard manifests are reproducible.
    *
    * Output: (doc_id, size, rank, shard). */
  def snakeShards(docs: DataFrame, idCol: String, sizeCol: String,
                  nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    exactRank(docs.select(col(idCol), col(sizeCol).as("size")),
        "size", idCol, descending = true)
      .withColumn("__p", expr(s"(rank - 1) div $nShards"))
      .withColumn("__q", (col("rank") - 1) % nShards)
      .withColumn("shard",
        when(col("__p") % 2 === 0, col("__q"))
          .otherwise(lit(nShards - 1) - col("__q")).cast("int"))
      .select(col(idCol), col("size"), col("rank"), col("shard"))
  }

  /** Curriculum phase assignment: ntile(`phases`) over (difficulty, id)
    * — SQL-standard ntile semantics (the first N mod P tiles take the
    * ceiling size) computed from [[exactRank]], so the global sort that
    * `ntile() OVER (ORDER BY …)` would plan (one task owning the corpus)
    * never happens. Ascending difficulty: phase 1 is the easy opener,
    * the last phase the hard tail — the standard curriculum schedule.
    *
    * Output: (doc_id, difficulty, phase ∈ [1, phases]). */
  def curriculumPhases(docs: DataFrame, idCol: String, diffCol: String,
                       phases: Int): DataFrame = {
    require(phases > 0, s"phases must be positive, got $phases")
    val n = docs.count()
    val big = n % phases        // tiles 1..big take size base+1
    val base = n / phases
    exactRank(docs.select(col(idCol), col(diffCol).as("difficulty")),
        "difficulty", idCol)
      .withColumn("phase",
        when(lit(base) === 0, col("rank").cast("int")) // n < phases
          .when(col("rank") <= lit(big * (base + 1)),
            expr(s"(rank - 1) div ${base + 1} + 1").cast("int"))
          .otherwise(
            expr(s"(rank - 1 - ${big * (base + 1)}) div $base + $big + 1")
              .cast("int")))
      .select(col(idCol), col("difficulty"), col("phase"))
  }
}
