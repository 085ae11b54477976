package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter join pruning — the map-side companion to the semi-join
  * family (P8 `p8_semijoin`, curation keep-lists): build a compact bitmap
  * from the small side's keys, broadcast it, and drop big-side rows whose
  * key cannot be in the set WITHOUT shuffling the big side at all.
  *
  * This is the standard 100 TB pre-filter: a semi-join shuffles the fact
  * table on the key; a bloom prune is one codegen'd filter over the scan
  * (false positives pass through and are removed by whatever exact join
  * follows — or tolerated, for best-effort curation). Spark's AQE injects
  * the same structure automatically for *joins it can see*
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`); this operator
  * makes it explicit for multi-stage pipelines where the keep-set is
  * produced in one job and the prune runs in later ones (write the words
  * array with the keep-list, reload it next job).
  *
  * Determinism/oracle: positions come from the repo's FNV-1a family — the
  * i-th hash is `fnv1a(key ++ "#" ++ i)` masked to `mBits` (a power of
  * two), so the whole construction — false positives included — is
  * bit-replicable in the DuckDB oracle (`bloom_prune` query). splitmix64
  * seeding (Hashing.seeded) is deliberately NOT used here: its u64×u64
  * multiply does not fit DuckDB's HUGEINT, and the seed-suffix trick
  * gives k independent FNV streams with one primitive.
  *
  * Sizing: false-positive rate ≈ (1 - e^{-kn/m})^k; for n keys at 1%
  * target use m ≈ 10n bits, k = 7. The bitmap ships as a plan literal —
  * fine to ~2^24 bits (2 MiB); past that, prefer writing the words array
  * to storage and broadcast-joining on word index, or Spark's built-in
  * runtime filter.
  */
object PruneOps {

  /** The k bloom positions of `key` (seed-suffixed FNV-1a, masked). */
  private def positions(key: Column, mBits: Int, k: Int): Seq[Column] =
    (0 until k).map(bloomPos(key, _, mBits))

  /** One bloom position of `key` for seed index `i` — the shared kernel
    * between bitmap construction, the `_bloom` table writers, and the
    * planning-time probe qualification in
    * [[graft.sources.IndexedFileIndex]] (both sides MUST hash
    * identically or skipping turns into row loss). */
  def bloomPos(key: Column, i: Int, mBits: Int): Column =
    call_function("fnv64", concat(key.cast("string"), lit(s"#$i")))
      .bitwiseAND(lit((mBits - 1).toLong))

  /** Build the bitmap as `mBits/64` longs. Distributed two-level
    * aggregation: distinct positions (map-side combine), then ≤ mBits/64
    * word rows of OR'd bits — only that tiny relation reaches the driver,
    * never the keys. */
  def bloomBitmap(small: DataFrame, smallKey: String,
                  mBits: Int, k: Int): Array[Long] = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64, got $mBits")
    // null keys contribute no positions (semi-join convention) — and must
    // be dropped BEFORE the word aggregation: a null position row would
    // read as word 0 / bits 0 at collect time and overwrite real bits
    val pos = small
      .filter(col(smallKey).isNotNull)
      .select(explode(array(positions(col(smallKey), mBits, k): _*)).as("pos"))
      .distinct()
    val words = pos
      .groupBy(call_function("shiftright", col("pos"), lit(6)).as("w"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        col("pos").bitwiseAND(lit(63L)).cast("int"))).as("bits"))
      .collect()
    val arr = new Array[Long](mBits / 64)
    words.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** True iff position `p`'s bit is set in the bitmap literal `bm`. */
  private def bitSet(bm: Column, p: Column): Column =
    call_function("shiftright",
      element_at(bm,
        call_function("shiftright", p, lit(6)).cast("int") + 1),
      p.bitwiseAND(lit(63L)).cast("int"))
      .bitwiseAND(lit(1L)) === lit(1L)

  /** Filter `big` to rows whose `bigKey` passes the bloom filter built
    * from `small`'s `smallKey` set. The big side is scan + filter only —
    * no shuffle, no join; `PlanSpec` pins that shape. Null keys never
    * pass (concat of a null key yields a null hash → null condition). */
  def bloomPrune(big: DataFrame, bigKey: String,
                 small: DataFrame, smallKey: String,
                 mBits: Int = 1 << 16, k: Int = 3): DataFrame = {
    val bm = typedlit(bloomBitmap(small, smallKey, mBits, k).toSeq)
    big.filter(positions(col(bigKey), mBits, k).map(bitSet(bm, _))
      .reduce(_ && _))
  }

  /** Bloom MEMBERSHIP flag instead of a filter: `big` gains boolean
    * `flagCol` = "all k positions of `bigKey` are set in `small`'s
    * bloom" — maybe-member (false positives at the sizing rate, never
    * false negatives). The marker form of [[bloomPrune]] for flows
    * that route flagged rows to an exact check rather than dropping
    * the rest (incremental dedup against a historical seen-set). Same
    * deterministic FNV family, so flags replay in the oracle. */
  def bloomFlag(big: DataFrame, bigKey: String,
                small: DataFrame, smallKey: String, flagCol: String,
                mBits: Int = 1 << 16, k: Int = 3): DataFrame = {
    val bm = typedlit(bloomBitmap(small, smallKey, mBits, k).toSeq)
    big.withColumn(flagCol,
      positions(col(bigKey), mBits, k).map(bitSet(bm, _)).reduce(_ && _))
  }
}
