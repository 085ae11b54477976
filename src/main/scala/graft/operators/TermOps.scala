package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term-level operators over a (doc_id, text) relation: term statistics,
  * dictionary building with df-rank ids, TF postings / inverted index, and
  * dictionary-encoded doc vectors.
  *
  * Scale stance: one `explode(tokens)` then hash aggregations — partial
  * (map-side) aggregation is automatic; the dictionary join is broadcast
  * when it fits, else a shuffle hash join on `term`. The only global-order
  * step is the df-rank `row_number`, which at 100 TB should switch to
  * `zipWithIndex`-style range ids; for dictionary-sized outputs (≤ tens of
  * millions of terms) a single-partition window over the *aggregated*
  * term table is the reference's own choice (1 reducer,
  * BuildDictionary.java:291-293) and stays cheap because it runs after the
  * heavy aggregation.
  */
object TermOps {

  /** F17 analyzer names: the default whitespace path and a
    * unicode-punctuation splitter approximating the reference's Lucene
    * analyzer variant (BuildVByteDocVectors.java:93-99) with a
    * deterministic, engine-replicable rule. Both are pure built-ins —
    * fully codegen'd, no UDF. */
  val Whitespace = "whitespace"
  val Unicode = "unicode"
  val Bpe = "bpe"

  /** GPT-2-style pre-tokenizer pattern, lookahead-free so the SAME
    * regex runs under Java regex (Spark) and RE2 (DuckDB): contraction
    * suffixes, then optional-leading-space letter runs / digit runs /
    * punctuation runs, then whitespace runs. Both engines use
    * leftmost-first alternation, so the split is identical. The
    * canonical GPT-2 pattern's `\s+(?!\S)` lookahead (hold back the
    * space that prefixes the next word) is the one part RE2 cannot
    * express; this variant glues that space to the FOLLOWING run
    * instead, which changes token boundaries only around runs of
    * multiple spaces — counts stay deterministic, which is what the
    * budget estimator needs. */
  private[graft] val BpePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Lower-cased whitespace tokens, empties dropped (F17 default). */
  def tokens(text: Column): Column = tokens(text, Whitespace)

  /** Tokenization with a selectable analyzer (F17 seam):
    *  - `"whitespace"`: split on runs of whitespace;
    *  - `"unicode"`: split on runs of non-letter/non-digit characters
    *    (punctuation separates tokens, `don't` → `don`,`t`) — the
    *    closest deterministic stand-in for a Lucene StandardAnalyzer
    *    pass, so corpora tokenized that way get comparable stats. */
  def tokens(text: Column, analyzer: String): Column = analyzer match {
    case Whitespace => filter(split(lower(text), "\\s+"), t => t =!= "")
    case Unicode =>
      filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => t =!= "")
    case Bpe =>
      // regexp_extract_all(_, pattern, 0): every match of the GPT-2-ish
      // pre-tokenizer, in order — token COUNT under this split is the
      // context-budget estimate the brief asks for (a real BPE merges
      // within these pieces, so this count upper-bounds word pieces
      // from the same vocabulary family)
      filter(regexp_extract_all(lower(text), lit(BpePattern), lit(0)),
        t => t =!= "")
    case other =>
      throw new IllegalArgumentException(
        s"unknown analyzer '$other' (expected $Whitespace, $Unicode " +
          s"or $Bpe)")
  }

  /** Word k-shingles of a token-array column as space-joined strings —
    * the single definition both the dedup operators and the repetition
    * signal (and their DuckDB oracles) rely on. Assumes the caller has
    * already guarded `size(toks) >= k`. Pure HOFs: stays in codegen. */
  def shingleStrings(toks: Column, k: Int): Column =
    transform(sequence(lit(0), size(toks) - k),
      i => array_join(slice(toks, i + 1, lit(k)), " "))

  /** Exploded (doc, term, tf) — the map phase of everything below. */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String,
                      analyzer: String = Whitespace): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol), analyzer)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Feature-hashed bag-of-words vectorization — the "hashing trick"
    * (Weinberger et al., "Feature hashing for large scale multitask
    * learning", ICML 2009): every term maps straight to bucket
    * `fnv64(term) & (dim-1)` with a ±1 sign drawn from the next hash
    * bit, and the per-(doc, bucket) weight is the signed tf sum. No
    * vocabulary, no dictionary build, no second pass over the corpus —
    * which is exactly why this is the text-vectorization shape that
    * holds at 100 TB, where the [[dictionary]] route needs a global
    * df-rank before a single vector exists. Output is the sparse
    * (doc_id, bucket, weight) matrix in fixed dimension `dim`.
    * Plan: one explode + ONE hash aggregation straight to
    * (doc, bucket) — the signed sum over raw token occurrences equals
    * the signed tf sum, so no intermediate per-term aggregation (and
    * no second shuffle) is needed; map-side partial aggregation bounds
    * the shuffle at docs×dim rows. The hash/mask/sign chain is all
    * codegen (native fnv64 + bitwise built-ins). */
  def featureHash(docs: DataFrame, idCol: String, textCol: String,
                  dim: Int = 256, analyzer: String = Whitespace): DataFrame = {
    require(dim >= 2 && (dim & (dim - 1)) == 0,
      s"dim must be a power of two, got $dim")
    val shift = java.lang.Integer.numberOfTrailingZeros(dim)
    docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol), analyzer)).as("term"))
      .withColumn("h", expr("fnv64(term)"))
      // low log2(dim) bits pick the bucket; the next bit the sign (the
      // signed variant keeps hash collisions unbiased in expectation)
      .withColumn("bucket", col("h").bitwiseAND(lit(dim - 1L)).cast("int"))
      .withColumn("sgn",
        shiftright(col("h"), shift).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("weight"))
  }

  /** A4 — per-term document frequency and collection frequency with a
    * min-df cut (reference: BasicComputeTermStats.java:107-200, MIN_DF
    * :103). */
  def termStats(docs: DataFrame, idCol: String, textCol: String,
                minDf: Long = 1L, analyzer: String = Whitespace): DataFrame =
    termFrequencies(docs, idCol, textCol, analyzer)
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .filter(col("df") >= minDf)

  /** A5/W3 — dictionary with ids assigned by df-descending rank (ties by
    * term asc, made deterministic). Reference: BuildDictionary.java:82-229
    * (rank/encode :157-227). */
  def dictionary(docs: DataFrame, idCol: String, textCol: String,
                 minDf: Long = 1L): DataFrame =
    termStats(docs, idCol, textCol, minDf)
      .withColumn("id",
        row_number().over(Window.orderBy(col("df").desc, col("term").asc)))

  /** The scale path for `dictionary`'s rank: range-partition the
    * aggregated term table on the rank order, sort within partitions,
    * and assign ids with `zipWithIndex` — identical ids to the windowed
    * form (the order (df desc, term asc) is total, so ranks are
    * partitioning-invariant), but no single-task global window: every
    * step is bounded by one partition's terms. zipWithIndex runs its
    * per-partition count job and the final pass over the SAME physical
    * RDD, so the sampled range boundaries are fixed once — no
    * double-materialization hazard. Use when the vocabulary is too large
    * for one task; ids stay Int (the dictionary contract — up to ~2.1B
    * terms, checked loudly). The reference's 1-reducer
    * BuildDictionary.java:291-293 has the single-task limit this removes. */
  def dictionaryScalable(docs: DataFrame, idCol: String, textCol: String,
                         minDf: Long = 1L, buckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField}
    val spark = docs.sparkSession
    val sorted = termStats(docs, idCol, textCol, minDf)
      .repartitionByRange(buckets, col("df").desc, col("term").asc)
      .sortWithinPartitions(col("df").desc, col("term").asc)
    val schema = sorted.schema.add(StructField("id", IntegerType, nullable = false))
    val ranked = sorted.rdd.zipWithIndex().map { case (r, i) =>
      // the dictionary id contract is Int (matches `dictionary` and every
      // consumer); fail loudly rather than wrap if a vocabulary ever
      // exceeds it
      if (i + 1 > Int.MaxValue)
        throw new IllegalStateException(
          s"dictionaryScalable: vocabulary exceeds Int id space at rank $i")
      Row.fromSeq(r.toSeq :+ (i + 1).toInt)
    }
    spark.createDataFrame(ranked, schema).select("term", "df", "cf", "id")
  }

  /** A10/A11 — TF postings (term → doc, tf), the relational form of the
    * inverted index; materialize grouped lists only at the sink.
    * Reference: experiments/InvertedIndexByBOW.java:28-69,
    * WikiRevIndex4NonTemporalSearch.java:36-110. */
  def tfPostings(docs: DataFrame, idCol: String, textCol: String,
                 analyzer: String = Whitespace): DataFrame =
    termFrequencies(docs, idCol, textCol, analyzer)

  /** A12 — token count per document (doc length for BM25).
    * Reference: experiments/WikiRevLength.java:31-64. */
  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).as("doc_len"))

  /** BM25 top-k search over the corpus for a literal query-term set —
    * completes the inverted-index story (A10 postings → ranked
    * retrieval; reference experiments:
    * WikiRevIndex4NonTemporalSearch.java:36-110 build the index this
    * scores). Robertson idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    *
    * Scale shape: the query-term filter sits INSIDE the token explode
    * (before any shuffle), and doc length rides along in the same scan,
    * so only matching docs' query-term tokens ever shuffle — never a
    * corpus-wide postings build and never a corpus-wide doc-length
    * join. Per-term df is a tiny aggregate, corpus stats (N, avgdl) are
    * one broadcast row (the single unavoidable corpus pass), and the
    * final top-k is TakeOrderedAndProject. Ranking uses the ROUNDED
    * score with a doc_id tie-break so the order is reproducible across
    * engines. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = tokens(col(textCol))
    val postings = docs
      .select(col(idCol).as("doc_id"), size(toks).as("doc_len"),
        explode(filter(toks, t => t.isin(queryTerms: _*))).as("term"))
      .groupBy("doc_id", "doc_len", "term").agg(count(lit(1)).as("tf"))
    val dfs = postings.groupBy("term").agg(count(lit(1)).as("term_df"))
    val global = docLengths(docs, idCol, textCol)
      .agg(count(lit(1)).as("n_docs"), avg(col("doc_len")).as("avgdl"))
    val contrib = postings
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(global))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("term_df") + lit(0.5)) /
          (col("term_df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("doc_len") / col("avgdl"))))
    contrib.groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Query-likelihood top-k with Dirichlet smoothing (Zhai & Lafferty,
    * SIGIR 2001) — the language-model scorer beside [[bm25Search]]'s
    * probabilistic-IR one: score(q, d) = Σ_t ln((tf_{t,d} + µ·p(t|C)) /
    * (|d| + µ)). Unlike BM25, smoothing scores EVERY document (a doc
    * missing a term still pays the background probability), so the
    * ranking is a single corpus-linear pass, never a candidate build.
    *
    * Float discipline: the ln argument is assembled as one ratio of
    * exact BIGINTs — (tf·C + µ·cf) / ((|d| + µ)·C) — so both engines
    * divide identical integers and ln identical doubles; the per-doc
    * score is a fixed-order 3-term sum and the ranking uses the ROUNDED
    * score with a doc_id tie-break (the [[bm25Search]] convention,
    * since libm's last ulp is not IEEE-pinned). A term absent from the
    * whole corpus floors at cf = 1 (the standard drop-or-floor choice
    * for unseen terms, made deterministic) rather than sending every
    * score to −∞.
    *
    * Overflow headroom (the raScale discipline): the largest BIGINT
    * intermediate is (|d| + µ)·C ≤ 2⁶³ whenever doc_len·ctot stays
    * under ~9.2·10¹⁸ — e.g. a 10¹³-token corpus with 900k-token docs,
    * or a 10¹⁴-token corpus with 90k-token docs. Inside that envelope
    * both engines compute identical integers; beyond it they diverge
    * in FAILURE MODE (Spark wraps where the oracle errors), so a
    * deployment at the >10¹³-token frontier must restructure the ln
    * argument as ln(tf + µ·cf/C) − ln(|d| + µ) — two double-precision
    * lns over pre-divided terms — accepting the last-ulp libm
    * divergence the exact-integer form exists to avoid.
    *
    * Scale shape: tf for query terms comes from the same
    * filter-inside-explode scan as BM25 (only query-term tokens ever
    * shuffle); corpus stats (C, per-term cf) are one broadcast row; the
    * all-docs scoring is a map over the doc-length scan and the top-k
    * is TakeOrderedAndProject. */
  def qlDirichletSearch(docs: DataFrame, idCol: String, textCol: String,
                        queryTerms: Seq[String], k: Int,
                        mu: Long = 2000L): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = tokens(col(textCol))
    val postings = docs
      .select(col(idCol).as("doc_id"),
        explode(filter(toks, t => t.isin(queryTerms: _*))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tfCols = queryTerms.zipWithIndex.map { case (qt, i) =>
      coalesce(sum(when(col("term") === qt, col("tf"))), lit(0L))
        .as(s"_tf$i")
    }
    // matching docs only (tiny vs corpus); checkpointed because BOTH the
    // cf stats and the scoring join read it — the two-consumer rule
    val perDoc = postings.groupBy("doc_id").agg(tfCols.head, tfCols.tail: _*)
      .localCheckpoint()
    // one broadcast row: total corpus tokens + per-query-term cf floors
    // (cf = column sums of the pivot — no second corpus pass)
    val cfCols = queryTerms.indices.map { i =>
      greatest(coalesce(sum(col(s"_tf$i")), lit(0L)), lit(1L)).as(s"_cf$i")
    }
    val stats = perDoc.agg(cfCols.head, cfCols.tail: _*)
      .crossJoin(docs.agg(
        sum(size(tokens(col(textCol)))).cast("long").as("_ctot")))
    val scored = docs
      .select(col(idCol).as("doc_id"),
        size(toks).cast("long").as("doc_len"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(stats))
    val score = queryTerms.indices.map { i =>
      log((coalesce(col(s"_tf$i"), lit(0L)) * col("_ctot") +
        lit(mu) * col(s"_cf$i")).cast("double") /
        ((col("doc_len") + lit(mu)) * col("_ctot")).cast("double"))
    }.reduceLeft(_ + _)
    scored.select(col("doc_id"), round(score, 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** MaxScore-pruned BM25 top-k (Turtle & Flood 1995): byte-identical
    * output to [[bm25Search]], but only a provably-sufficient candidate
    * subset is ever scored exactly. Per-term score upper bound is the
    * tf→∞ limit UB_t = idf_t·(k1+1); phase 1 scores just the docs
    * containing the highest-UB (rarest) term and takes their k-th best
    * exact score as the pruning threshold θ (a lower bound on the true
    * k-th best, since those docs are a subset); phase 2 drops every
    * matching doc whose Σ UB over contained terms falls below θ − ε
    * (its exact score can never reach the top k) and scores only the
    * survivors. The ε = 1e-3 slack keeps any doc whose unrounded score
    * could round into a tie at the boundary, so the final ROUNDED
    * ranking (round 4, doc_id tie-break — the [[bm25Search]]/oracle tie
    * discipline) is decided among the survivors exactly as the full
    * scoring would.
    *
    * Scale shape: the corpus pass is the same filtered-explode postings
    * build as [[bm25Search]]; what pruning saves is everything after it
    * — the per-doc aggregation, doc-length join and scoring run only
    * over seed ∪ candidate postings (with one skewed rare term, a
    * vanishing fraction of matching docs; Round12Spec pins the pruned
    * fraction). Term stats (|Q| rows) and θ (1 row) are broadcast; if
    * fewer than k seeds exist θ is −∞ and the method degrades to exact
    * full scoring, never to a wrong answer. */
  def maxScoreSearch(docs: DataFrame, idCol: String, textCol: String,
                     queryTerms: Seq[String], k: Int,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (postings, exactScores, candidates) =
      maxScoreCandidates(docs, idCol, textCol, queryTerms, k, k1, b)
    exactScores(postings.join(candidates, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), round(col("raw"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The postings/exact-scorer/candidate-set triple behind
    * [[maxScoreSearch]], exposed so the pruning-effectiveness audit
    * (Round12Spec) can count survivors without re-deriving the law. */
  private[graft] def maxScoreCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): (DataFrame, DataFrame => DataFrame, DataFrame) = {
    val toks = tokens(col(textCol))
    val postings = docs
      .select(col(idCol).as("doc_id"), size(toks).as("doc_len"),
        explode(filter(toks, t => t.isin(queryTerms: _*))).as("term"))
      .groupBy("doc_id", "doc_len", "term").agg(count(lit(1)).as("tf"))
    val global = docLengths(docs, idCol, textCol)
      .agg(count(lit(1)).as("n_docs"), avg(col("doc_len")).as("avgdl"))
    val stats = postings.groupBy("term")
      .agg(count(lit(1)).as("term_df"))
      .crossJoin(broadcast(global))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("term_df") + lit(0.5)) /
          (col("term_df") + lit(0.5))))
      .withColumn("ub", col("idf") * lit(k1 + 1.0))
    // exact unrounded BM25 over a postings subset (one doc-grain agg)
    def exactScores(sub: DataFrame): DataFrame = sub
      .join(broadcast(stats), Seq("term"))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("doc_len") / col("avgdl"))))
      .groupBy("doc_id").agg(sum(col("contrib")).as("raw"))
    val bestTerm = stats.orderBy(col("ub").desc, col("term")).limit(1)
      .select(col("term"))
    val seedDocs = postings.join(broadcast(bestTerm), Seq("term"))
      .select(col("doc_id")).distinct()
    val theta = exactScores(postings.join(seedDocs, Seq("doc_id"),
        "left_semi"))
      .orderBy(col("raw").desc).limit(k)
      .agg(count(lit(1)).as("n_seed"), min(col("raw")).as("kth"))
      .select(when(col("n_seed") >= k, col("kth") - lit(1e-3))
        .otherwise(lit(Double.NegativeInfinity)).as("theta"))
    val candidates = postings
      .join(broadcast(stats.select(col("term"), col("ub"))), Seq("term"))
      .groupBy("doc_id").agg(sum(col("ub")).as("ub_sum"))
      .crossJoin(broadcast(theta))
      .filter(col("ub_sum") >= col("theta"))
      .select(col("doc_id"))
    (postings, exactScores _, candidates)
  }

  /** Conjunctive (AND) boolean retrieval: docs containing EVERY query
    * term, with the total occurrence count of query terms as a simple
    * rank signal — the unscored companion to [[bm25Search]] (reference
    * retrieval surface: WikiRevIndex4NonTemporalSearch.java:36-110
    * builds the index both consume).
    *
    * Scale shape: the term filter runs INSIDE the explode, so only
    * occurrences of the |Q| query terms ever leave the scan (a
    * vanishing corpus fraction); the intersection is the two-phase
    * distinct aggregation on doc_id — count distinct terms == |Q| —
    * never a |Q|-way self-join of postings lists. */
  def booleanSearch(docs: DataFrame, idCol: String, textCol: String,
                    queryTerms: Seq[String]): DataFrame = {
    val terms = queryTerms.distinct
    val toks = tokens(col(textCol))
    docs.select(col(idCol).as("doc_id"),
        explode(filter(toks, t => t.isin(terms: _*))).as("term"))
      .groupBy("doc_id")
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("total_tf"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** Positional postings (doc_id, pos, term), 0-based — the positional
    * layer of the inverted index (the reference's index build keeps
    * term positions implicitly via BOW ordering; phrase retrieval needs
    * them explicit). */
  def positionalPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "term")))

  /** Exact phrase match via the positional index: docs containing the
    * token sequence `phrase` and the occurrence count.
    *
    * Scale shape: each phrase term's postings are filtered BEFORE the
    * join (term equality inside the explode — only the phrase terms'
    * positions ever shuffle, a vanishing corpus fraction), then the
    * occurrence join is equality on (doc_id, aligned-start-position):
    * an n-way hash join on identically-distributed keys, never a
    * corpus-wide window or per-doc loop. */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
                  phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val p = positionalPostings(docs, idCol, textCol)
    phrase.zipWithIndex
      .map { case (term, i) =>
        p.filter(col("term") === term)
          .select(col("doc_id"), (col("pos") - i).as("start"))
      }
      .reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** A6 — dictionary-encoded doc vectors: tokens → sorted distinct dict ids
    * per doc (reference stores compressed int arrays,
    * BuildVByteDocVectors.java:75-165; parquet handles the encoding).
    * The dictionary side is broadcast — it is the small side by
    * construction. */
  def docVectors(docs: DataFrame, idCol: String, textCol: String,
                 dict: DataFrame): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .join(broadcast(dict.select("term", "id")), Seq("term"))
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("id"))).as("term_ids"))

  /** The 1-deletion neighborhood of `termCol`, exploded: the term itself
    * (i = 0) plus every string obtained by deleting one character
    * (i = 1..len). O(len) variants per term, generated inside codegen
    * (`transform` over a `sequence`, no UDF). */
  def deletionVariants(df: DataFrame, termCol: String): DataFrame =
    df.withColumn("variant",
      explode(transform(sequence(lit(0), length(col(termCol))), i =>
        when(i === 0, col(termCol)).otherwise(concat(
          col(termCol).substr(lit(1), i - lit(1)),
          col(termCol).substr(i + lit(1), length(col(termCol))))))))

  /** SymSpell-style fuzzy term lookup (Garbe's symmetric-delete idea):
    * two strings within edit distance 1 always share a member of each
    * other's 1-deletion neighborhood (substitution at position i →
    * both lose position i; insertion/deletion → the shorter string IS a
    * deletion variant of the longer), so joining query variants against
    * dictionary variants yields every distance-≤1 match as a candidate
    * (plus distance-2 noise), and exact `levenshtein` — built-in,
    * codegen — verifies only those candidates.
    *
    * The 100 TB shape: the dictionary's deletion index is
    * O(vocab × term length) rows, built in one pass and materialize-
    * once/probe-many; a query batch broadcasts its own variants and the
    * per-candidate verify touches candidates only. A naive fuzzy match
    * is an O(vocab) edit-distance scan PER QUERY — the thing this
    * operator exists to avoid.
    *
    * `queries` needs (typo: string); `dict` needs (term, df). Output:
    * distinct (typo, term, df) with levenshtein(typo, term) ≤ 1. */
  def fuzzyLookup(queries: DataFrame, dict: DataFrame): DataFrame = {
    val qv = deletionVariants(queries.select(col("typo")), "typo")
    val dv = deletionVariants(dict.select(col("term"), col("df")), "term")
    dv.join(broadcast(qv), Seq("variant"))
      .select(col("typo"), col("term"), col("df")).distinct()
      .filter(levenshtein(col("typo"), col("term")) <= 1)
  }

  /** Per-depth intersection sizes of two rankings — the building block
    * of truncated rank-biased overlap (Webber et al., TOIS 2010):
    * RBO_p@D = (1-p)·Σ_{d=1..D} p^(d-1)·a_d/d over this output.
    *
    * A doc present in both lists enters every prefix pair from depth
    * g = max(rank_a, rank_b) on, so a_d = |{docs : g ≤ d}| — computed by
    * a non-equi join of the (tiny) common-doc set against a D-row depth
    * table, never touching the corpus. Depths with zero overlap have no
    * row (callers coalesce).
    *
    * Output: (d, a_d) for d ∈ [1, depth] with a_d > 0. */
  def rankOverlapByDepth(a: DataFrame, b: DataFrame, idCol: String,
                         rankACol: String, rankBCol: String,
                         depth: Int): DataFrame = {
    require(depth > 0, s"depth must be positive, got $depth")
    val pairs = a.join(b, Seq(idCol))
      .select(greatest(col(rankACol), col(rankBCol)).as("g"))
    val depths = a.sparkSession.range(1, depth + 1)
      .select(col("id").as("d"))
    pairs.join(depths, col("g") <= col("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("a_d"))
  }

  /** BPE merge training over the corpus word table (Sennrich et al.,
    * ACL 2016): learn `rounds` byte-pair merges greedily — the
    * tokenizer-TRAINING half of the F17 seam (tokens(_, Bpe) is the
    * serving half), run as a distributed operator. Words collapse to a
    * (symbols, count) table first (the classic BPE trick: merge
    * statistics only need word TYPES weighted by frequency, so the
    * corpus shuffles once and every round runs on O(vocab) rows);
    * each round counts adjacent symbol pairs (each occurrence, so
    * 'aaa' yields (a,a) twice), picks the argmax under the exact
    * (count DESC, left ASC, right ASC) order, and applies the merge
    * with a greedy LEFT-TO-RIGHT non-overlapping fold ('aaa' + merge
    * (a,a) → [aa, a] — the fold's merged symbol can never re-match as
    * the LEFT of the same pair because it textually differs).
    *
    * Returns (round, merge_left, merge_right, pair_count) — `rounds`
    * rows, the learned merge table in order. Determinism: integer
    * counts, binary string order; the whole chain replays in SQL
    * (`bpe_train`).
    *
    * Scale shape: one corpus tokenize+count shuffle, then per round
    * one O(vocab·avg_len) pair explode + aggregation and one broadcast
    * (1-row) merge map — no round ever touches the corpus again. */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
               rounds: Int): DataFrame =
    bpeCore(docs, idCol, textCol, rounds, applyLast = false)._1

  /** Shared train loop behind [[bpeTrain]] and [[bpeSegment]] — returns
    * (merge table, word table after the applied merges). `applyLast`
    * controls whether the final round's merge is applied to the word
    * table (training alone never needs it; segmentation does). */
  private def bpeCore(docs: DataFrame, idCol: String, textCol: String,
                      rounds: Int, applyLast: Boolean)
      : (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1, 8], got $rounds")
    var terms = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .select(split(col("term"), "").as("syms"), col("cnt"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val pairs = terms
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          // slice(sequence(...)) guard: Spark's sequence(1, 0) is the
          // DESCENDING [1, 0], not empty (the t20_pacf caution)
          """transform(
            |  slice(sequence(1, greatest(size(syms) - 1, 1)),
            |        1, size(syms) - 1),
            |  i -> named_struct('l', element_at(syms, i),
            |                    'r', element_at(syms, i + 1)))"""
            .stripMargin)).as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pair_count"))
      val best = pairs
        .orderBy(col("pair_count").desc, col("l").asc, col("r").asc)
        .limit(1).localCheckpoint(false)
      merges += best.select(lit(r).as("round"), col("l").as("merge_left"),
        col("r").as("merge_right"), col("pair_count"))
      if (r < rounds || applyLast) {
        terms = terms
          .crossJoin(broadcast(best.select(col("l").as("_ml"),
            col("r").as("_mr"))))
          .select(expr(
            """aggregate(syms, slice(syms, 1, 0), (acc, x) ->
              | CASE WHEN size(acc) > 0 AND element_at(acc, -1) = _ml
              |           AND x = _mr
              |      THEN concat(slice(acc, 1, size(acc) - 1),
              |                  array(concat(_ml, _mr)))
              |      ELSE concat(acc, array(x)) END)""".stripMargin)
            .as("syms"), col("cnt"))
          .localCheckpoint(false)
      }
    }
    (merges.reduce(_ unionByName _), terms)
  }

  /** BPE segmentation audit with the freshly trained merge table — the
    * SERVING half of [[bpeTrain]]: apply the learned merges to the
    * corpus word table (train → apply in one operator, the loop a
    * tokenizer team runs before shipping a vocab) and report what the
    * vocabulary buys: pieces per word (fertility) and characters per
    * piece (compression) over exact integer totals. Word INSTANCES are
    * weighted by frequency (the `cnt` column), so the numbers are
    * corpus-level, not type-level.
    *
    * One row: (n_words, n_types, n_chars, n_pieces, pieces_per_word,
    * chars_per_piece) — everything integer until the two final
    * divisions. Scale shape is [[bpeTrain]]'s: the corpus shuffles once
    * into the O(vocab) word table; every merge round and this audit
    * fold run on word types only. */
  def bpeSegment(docs: DataFrame, idCol: String, textCol: String,
                 rounds: Int): DataFrame = {
    val (_, words) = bpeCore(docs, idCol, textCol, rounds, applyLast = true)
    words
      .select(col("cnt"), size(col("syms")).cast("long").as("n_sym"),
        aggregate(transform(col("syms"), x => length(x).cast("long")),
          lit(0L), (a, x) => a + x).as("n_chr"))
      .agg(sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_types"),
        sum(col("n_chr") * col("cnt")).as("n_chars"),
        sum(col("n_sym") * col("cnt")).as("n_pieces"))
      .select(col("n_words"), col("n_types"), col("n_chars"),
        col("n_pieces"),
        round(col("n_pieces").cast("double") /
          col("n_words").cast("double"), 4).as("pieces_per_word"),
        round(col("n_chars").cast("double") /
          col("n_pieces").cast("double"), 4).as("chars_per_piece"))
  }
}
