package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distinct-count sketching (driver brief: sketches as first-class
  * custom operators). KMV — k minimum values — rather than HLL:
  * with a fixed hash the k smallest hash values of a set are a
  * DETERMINISTIC function of the set, so the estimate is reproducible
  * across engines and oracle-checkable (Spark's approx_count_distinct
  * HLL++ is not replicable in DuckDB). Estimator: the k-th smallest of
  * n distinct uniform hashes in [0, M) sits near k·M/n, so
  * n̂ = (k-1)·M / h_k (the unbiased form; Beyer et al., "On synopses
  * for distinct-value estimation under multiset operations",
  * SIGMOD 2007).
  *
  * Scale shape: hash is the codegen'd `hash32` column form, the k
  * smallest distinct hashes come from distinct + orderBy+limit
  * (TakeOrderedAndProject: per-partition top-k heaps, no global sort),
  * so the sketch costs one map pass + one k-row collect-free reduce.
  * Mergeability (union = k smallest of the combined sketches) is what
  * makes KMV a sketch rather than a sample.
  */
object SketchOps {

  /** (k_used, kth_hash, estimate) for the distinct count of non-null
    * `keyCol` values (nulls are excluded, the COUNT(DISTINCT col)
    * convention). If the true distinct count is < k the estimate is
    * exact (the count of distinct hashes seen); at ≥ k the (k-1)·M/h_k
    * estimator applies. Integral keys hash via the codegen'd hash32;
    * string keys via the native fnv64 expression folded to 32 bits —
    * anything else (including fractional numerics, where a cast to long
    * would merge distinct values) is rejected loudly rather than
    * silently collapsing under a lossy cast. */
  private def keyHashCol(df: DataFrame, keyCol: String): Column = {
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType, StringType}
    df.schema(keyCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        SimilarityOps.hash32Col(col(keyCol).cast("long"))
      case d: DecimalType if d.scale == 0 && d.precision <= 18 =>
        // scale-0 decimals up to 18 digits cast to long losslessly
        SimilarityOps.hash32Col(col(keyCol).cast("long"))
      case StringType =>
        pmod(expr(s"fnv64(`$keyCol`)"), lit(4294967296L))
      case dt => throw new IllegalArgumentException(
        s"kmvDistinct: unsupported key type ${dt.catalogString} for '$keyCol'")
    }
  }

  def kmvDistinct(df: DataFrame, keyCol: String, k: Int = 256): DataFrame = {
    val keyHash = keyHashCol(df, keyCol)
    val hashes = df
      .filter(col(keyCol).isNotNull)
      .select(keyHash.as("h"))
      .distinct()
      .orderBy(col("h").asc)
      .limit(k)
    hashes.agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_hash"))
      .select(col("k_used"), col("kth_hash"),
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(round((col("k_used") - 1).cast("double") *
            lit(4294967296.0) / col("kth_hash"), 2)).as("estimate"))
  }

  /** Per-group KMV: the [[kmvDistinct]] estimator per `groupCol` value —
    * approx distinct cardinality per group with O(k) state per group
    * instead of the O(distinct) an exact count needs. Shape: one
    * (group, hash) distinct (map-side combine), one group-partitioned
    * window keeping the k smallest hashes (rank, no global sort), one
    * agg. The estimator switches to the exact small-set count below k,
    * per group. */
  def kmvDistinctByKey(df: DataFrame, groupCol: String, keyCol: String,
                       k: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashes = df
      .filter(col(keyCol).isNotNull)
      .select(col(groupCol), keyHashCol(df, keyCol).as("h"))
      .distinct()
    hashes
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col(groupCol)).orderBy(col("h").asc)))
      .filter(col("rn") <= k)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_hash"))
      .select(col(groupCol), col("k_used"), col("kth_hash"),
        when(col("k_used") < k, col("k_used").cast("double"))
          .otherwise(round((col("k_used") - 1).cast("double") *
            lit(4294967296.0) / col("kth_hash"), 2)).as("estimate"))
  }

  /** KMV set-operation estimators between keyed corpora (Beyer et al.,
    * SIGMOD 2007, §4 multiset operations): for every unordered pair of
    * `groupCol` values, estimate the Jaccard similarity, union and
    * intersection cardinalities of their `keyCol` sets FROM THE
    * SKETCHES ALONE. K_∪ = the k smallest of K_A ∪ K_B; the match rate
    * ρ = |{h ∈ K_∪ : h ∈ K_A ∧ h ∈ K_B}| / |K_∪| estimates Jaccard;
    * D_∪ comes off K_∪'s k-th smallest (the [[kmvDistinct]] estimator);
    * D_∩ = ρ·D_∪. Below k the sketches ARE the sets and every figure is
    * exact. The 100 TB property: after one map pass builds O(k)-row
    * per-group sketches, the full pairwise overlap matrix is computed
    * on groups×k rows — the corpora never meet in a key join. */
  def kmvPairwise(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int = 128): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = df
      .filter(col(keyCol).isNotNull)
      .select(col(groupCol).as("g"), keyHashCol(df, keyCol).as("h"))
      .distinct()
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("g")).orderBy(col("h").asc)))
      .filter(col("rn") <= k)
      .select(col("g"), col("h"))
      // groups×k rows, read three times below — truncate once
      .localCheckpoint()
    val pairs = sk.select(col("g").as("g_a")).distinct()
      .crossJoin(broadcast(sk.select(col("g").as("g_b")).distinct()))
      .filter(col("g_a") < col("g_b"))
    val tagged = pairs.join(sk.withColumnRenamed("g", "g_a"), Seq("g_a"))
        .withColumn("fa", lit(1L)).withColumn("fb", lit(0L))
      .unionByName(pairs.join(sk.withColumnRenamed("g", "g_b"), Seq("g_b"))
        .withColumn("fa", lit(0L)).withColumn("fb", lit(1L)))
    val uni = tagged.groupBy(col("g_a"), col("g_b"), col("h"))
      .agg(max(col("fa")).as("fa"), max(col("fb")).as("fb"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("g_a"), col("g_b")).orderBy(col("h").asc)))
      .filter(col("rn") <= k)
    val agg = uni.groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("k_union"), max(col("h")).as("kth"),
        sum(col("fa") * col("fb")).as("n_both"))
    val rhoRaw = col("n_both").cast("double") / col("k_union")
    val unionRaw = when(col("k_union") < k, col("k_union").cast("double"))
      .otherwise((col("k_union") - 1).cast("double") * lit(4294967296.0) /
        col("kth"))
    agg.select(col("g_a"), col("g_b"), col("k_union"),
      round(rhoRaw, 4).as("rho"),
      round(unionRaw, 2).as("union_est"),
      round(rhoRaw * unionRaw, 2).as("inter_est"))
  }

  /** Count-min sketch of `keyCol` frequencies: a depth×width counter
    * matrix where row j counts by bucket `fnv1a(key ++ "#" ++ j)` masked
    * to `width` (power of two — same seed-suffix FNV family as
    * `PruneOps`, so the whole sketch is oracle-replicable). The sketch is
    * O(depth·width) regardless of key cardinality — THE point at 100 TB,
    * where exact per-key counts (SkewOps.heavyKeys) shuffle every
    * distinct key and a sketch shuffles ≤ depth·width cells (map-side
    * combine collapses each partition to the same bounded matrix first).
    * Cormode & Muthukrishnan, "An improved data stream summary: the
    * count-min sketch and its applications", J. Algorithms 55 (2005).
    *
    * Output: (j, bucket, cnt) — mergeable across shards/days by summing
    * matching cells. */
  def countMin(df: DataFrame, keyCol: String,
               depth: Int = 3, width: Int = 256): DataFrame = {
    require(width >= 2 && (width & (width - 1)) == 0,
      s"width must be a power of two, got $width")
    val buckets = (0 until depth).map { j =>
      call_function("fnv64", concat(col(keyCol).cast("string"), lit(s"#$j")))
        .bitwiseAND(lit((width - 1).toLong))
    }
    df.filter(col(keyCol).isNotNull)
      .select(posexplode(array(buckets: _*)))
      .toDF("j", "bucket")
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates from the sketch for a candidate key set: each
    * candidate's estimate is the MIN over its depth cells (collisions
    * only ever inflate a cell, so the min is the tightest upper bound;
    * est ≥ true count always). The sketch side is ≤ depth·width rows —
    * broadcast — so estimating any number of candidates is one map-side
    * join + a min-agg on (key, depth) rows. Candidates come from the
    * caller (a sample, a watchlist, yesterday's heavy hitters): a CMS
    * cannot enumerate keys, only answer them. */
  def countMinEstimates(df: DataFrame, keyCol: String, candidates: DataFrame,
                        depth: Int = 3, width: Int = 256): DataFrame = {
    val sketch = countMin(df, keyCol, depth, width)
    val buckets = (0 until depth).map { j =>
      call_function("fnv64", concat(col(keyCol).cast("string"), lit(s"#$j")))
        .bitwiseAND(lit((width - 1).toLong))
    }
    candidates.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
      .select(col(keyCol), posexplode(array(buckets: _*)))
      .toDF(keyCol, "j", "bucket")
      .join(broadcast(sketch), Seq("j", "bucket"), "left_outer")
      .groupBy(col(keyCol))
      // a candidate absent from the data has an all-null (or missing)
      // cell row on some path -> estimate 0
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
  }

  /** HyperLogLog registers over `keyCol` (Flajolet et al., "HyperLogLog:
    * the analysis of a near-optimal cardinality estimation algorithm",
    * AofA 2007) — the industry-standard mergeable distinct sketch, built
    * deterministically so the oracle replays it: hash = fnv64(key # hll)
    * folded to 32 bits, bucket = low `p` bits, and the register is the
    * MAX over the bucket's rows of rho = 1 + leading zero count of the
    * remaining (32-p) bits. rho comes from `length(bin(rest))` — an
    * integer-exact leftmost-bit position both Spark and DuckDB compute
    * from the same builtin, no float log anywhere.
    *
    * Scale shape: one map pass + one aggregation to AT MOST 2^p rows,
    * regardless of key cardinality; registers merge across shards/days by
    * cell-wise MAX (max of maxes = max of the union — the law
    * `sketch_hll_merge` proves through the gate). KMV ([[kmvDistinct]])
    * stays the precision sibling; HLL is the O(2^p)-state one a 100 TB
    * profile job actually ships per (day, source) cell. */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int = 6): DataFrame = {
    require(p >= 2 && p <= 12, s"hll precision p must be in [2,12], got $p")
    val m = 1L << p
    val h = pmod(call_function("fnv64",
      concat(col(keyCol).cast("string"), lit("#hll"))), lit(4294967296L))
    df.filter(col(keyCol).isNotNull)
      .select(h.bitwiseAND(lit(m - 1)).as("bucket"),
        shiftright(h, p).as("rest"))
      .select(col("bucket"),
        when(col("rest") === 0, lit(33 - p))
          .otherwise(lit(33 - p) - length(bin(col("rest")))).as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("rho"))
  }

  /** One-row HLL summary from [[hllRegisters]]: the standard estimator
    * with small-range (linear-counting) correction. The register sum
    * Σ 2^-rho is kept EXACT by scaling to integers (Σ 2^(30-rho) — rho ≤
    * 31 so every term and the ≤ 2^p-term sum fit a long), so the only
    * floats are one final division chain and the linear-counting ln,
    * computed by the identical expression on both engines. */
  def hllSummary(df: DataFrame, keyCol: String, p: Int = 6): DataFrame = {
    val m = 1L << p
    val mD = m.toDouble
    // alpha_m * m^2, spelled as the arithmetic both engines fold the
    // same way (left-assoc, double literals)
    val num = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(mD)) *
      lit(mD * mD) * lit(1073741824.0)
    hllRegisters(df, keyCol, p)
      .agg(count(lit(1)).as("m_used"),
        sum(expr("shiftleft(cast(1 as bigint), 30 - rho)")).as("s_present"))
      .select((lit(m) - col("m_used")).as("v_zero"),
        (col("s_present") + (lit(m) - col("m_used")) * lit(1L << 30))
          .as("s_scaled"))
      .select(col("v_zero"), col("s_scaled"),
        round(num / col("s_scaled"), 2).as("est_raw"),
        when(num / col("s_scaled") <= lit(2.5 * mD) && col("v_zero") > 0,
            round(lit(mD) * log(lit(mD) / col("v_zero")), 2))
          .otherwise(round(num / col("s_scaled"), 2)).as("est"))
  }

  /** Per-group quantile estimates read off the mergeable fixed-bin
    * histogram (the `stats_histogram_grouped` profile): for each
    * probability the unique bin with cum_prev < p·n ≤ cum, linearly
    * interpolated within the bin. This is the APPROXIMATE quantile path a
    * 100 TB profile uses — the histogram cells merge by sum across
    * shards/days and the read-off runs on O(groups × bins) rows, where
    * the exact rank-rule quantiles (`stats_group_quantiles`) shuffle
    * every row. Error ≤ binWidth by construction. All interpolation
    * arithmetic is ratios of exact longs (plus the p·n product), so both
    * engines compute bit-identical doubles. */
  def histogramQuantiles(df: DataFrame, groupCol: String, valCol: String,
                         binWidth: Double, probs: Seq[Double]): DataFrame = {
    require(binWidth > 0 && probs.nonEmpty && probs.forall(q => q > 0 && q < 1),
      s"need positive binWidth and probs in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val sp = df.sparkSession
    import sp.implicits._
    val bins = df
      .select(col(groupCol), floor(col(valCol) / binWidth).cast("long").as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("cnt"))
    val n = bins.groupBy(col(groupCol)).agg(sum("cnt").as("n"))
    val target = col("p") * col("n").cast("double")
    bins
      .withColumn("cum", sum("cnt")
        .over(Window.partitionBy(col(groupCol)).orderBy(col("bin"))))
      .join(broadcast(n), Seq(groupCol))
      .crossJoin(broadcast(probs.toDF("p")))
      .filter(col("cum").cast("double") >= target &&
        (col("cum") - col("cnt")).cast("double") < target)
      .select(col(groupCol), col("p"),
        round(col("bin").cast("double") * lit(binWidth) + lit(binWidth) *
          (target - (col("cum") - col("cnt")).cast("double")) /
          col("cnt").cast("double"), 4).as("q_est"))
  }

  /** Deterministic uniform sample: the k rows whose keyed FNV hash is
    * smallest — reproducible reservoir sampling. Unlike rand()-based
    * sampling, the selected set is a pure function of (key set, salt):
    * invariant to partitioning, row order, cluster size and retries,
    * which is what makes a 100 TB sample auditable and re-runnable.
    * Plans as TakeOrderedAndProject — an O(k) heap per task and k rows
    * over the wire, never a global sort. Different `salt` values give
    * independent samples. Output: input columns + the `h` ordering key
    * (also the proof-of-selection witness). */
  /** Deterministic weighted priority sampling (Duffield, Lund & Thorup,
    * "Priority sampling for estimation of arbitrary subset sums", JACM
    * 54(6), 2007): priority q_i = w_i / u_i with u_i = (h_i+1)/2^32
    * uniform from the keyed FNV hash; keep the k highest-priority rows
    * and set each kept row's estimator weight to max(w_i, tau), where
    * tau is the (k+1)-th priority. Σ w_est over the sample is an
    * unbiased estimator of Σ w over ANY subset — the property that lets
    * a k-row sample answer weighted questions about a 100 TB corpus.
    *
    * Deterministic and oracle-exact: u comes from the hash (pure
    * function of key+salt, invariant to partitioning/retries) and the
    * priority is ONE IEEE multiply + ONE divide — exact-rounded ops both
    * engines compute bit-identically, no libm anywhere. Plans as
    * TakeOrderedAndProject (per-task heaps of k+1) + a (k+1)-row window:
    * O(k) per task, never a global sort.
    *
    * Output: (key, weight, priority, w_est); rows with non-positive
    * weight are excluded (zero-weight rows have priority 0 and can never
    * be sampled; negative weights are outside the estimator's domain). */
  /** Gumbel-top-k weighted sampling WITHOUT replacement (Vieira 2014;
    * Kool et al. 2019): each row keys gumbel = ln(w) − ln(−ln(u)) with
    * u a deterministic hash-uniform in (0,1); the k largest keys are
    * distributed exactly as k successive P(i) ∝ w_i draws without
    * replacement — the one-pass distributed form of weighted
    * subsampling for data mixing (no sequential draws, no rejection).
    *
    * Scale shape: one map pass + TakeOrderedAndProject (per-partition
    * heaps); like [[prioritySample]] the uniform derives from fnv64 so
    * both engines select the identical sample, and ln runs on
    * identical doubles (the sample_dsir convention). u ∈
    * [1/(2³²+1), 2³²/(2³²+1)] by construction — never 0 or 1, both
    * ln calls finite. */
  def gumbelTopK(df: DataFrame, keyCol: String, weightCol: String,
                 k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val h = pmod(call_function("fnv64",
      concat(col(keyCol).cast("string"), lit(s"#g$salt"))), lit(4294967296L))
    val u = (h + lit(1L)).cast("double") / lit(4294967297.0)
    df.filter(col(keyCol).isNotNull && col(weightCol) > 0)
      .select(col(keyCol), col(weightCol).cast("double").as("w"),
        (log(col(weightCol).cast("double")) - log(-log(u)))
          .as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col(keyCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("gumbel_key").desc, col(keyCol).asc)).cast("int"))
  }

  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val h = pmod(call_function("fnv64",
      concat(col(keyCol).cast("string"), lit(s"#p$salt"))), lit(4294967296L))
    val cand = df
      .filter(col(keyCol).isNotNull && col(weightCol) > 0)
      .select(col(keyCol), col(weightCol).cast("double").as("w"),
        (col(weightCol).cast("double") * lit(4294967296.0) /
          (h + lit(1L)).cast("double")).as("priority"))
      .orderBy(col("priority").desc, col(keyCol).asc)
      .limit(k + 1)
    cand
      // with fewer than k+1 candidates the whole population is the
      // sample and the estimator is exact: tau = 0 (DLT's n <= k case)
      .withColumn("tau",
        when(count(lit(1)).over(Window.partitionBy()) <= k, lit(0.0))
          .otherwise(min(col("priority")).over(Window.partitionBy())))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("priority").desc, col(keyCol).asc)))
      .filter(col("rn") <= k)
      .select(col(keyCol), col("w"), col("priority"),
        greatest(col("w"), col("tau")).as("w_est"))
  }

  def bottomKSample(df: DataFrame, keyCol: String, k: Int,
                    salt: String = ""): DataFrame = {
    require(!df.columns.contains("h"),
      "bottomKSample appends an 'h' column; rename the existing one first")
    // null keys are excluded rather than hashed: a null key would get a
    // null hash and engines disagree on null sort position (Spark
    // NULLS FIRST vs others' NULLS LAST), which would silently make
    // the "deterministic" sample engine-dependent
    df.filter(col(keyCol).isNotNull)
      .withColumn("h", call_function("fnv64",
        concat(col(keyCol).cast("string"), lit(s"#$salt"))))
      .orderBy(col("h").asc, col(keyCol).asc)
      .limit(k)
  }
}
