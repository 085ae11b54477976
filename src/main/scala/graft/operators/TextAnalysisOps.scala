package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextFunctions}

/** Text-analysis operators for training-data pipelines (driver brief):
  * language ID, quality scoring, token counting, fingerprinting.
  * Everything is either pure built-in expressions or the engine's native
  * codegen kernels (graft.plans) — no UDF tier anywhere on the
  * per-document path.
  */
object TextAnalysisOps {

  /** BPE-ish token count: word pieces, digit runs, or single non-space
    * symbols — a codegen'd regexp, no UDF. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(TermOps.tokens(text))

  /** Quality metrics per document: token count, mean token length,
    * punctuation ratio, digit ratio, uppercase ratio. All built-ins. */
  def qualityMetrics(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("double")
    docs.select(
      col(idCol).as("doc_id"),
      wsTokenCount(t).as("n_tokens"),
      bpeTokenCount(t).as("n_bpe_tokens"),
      round(length(regexp_replace(t, "\\s", "")).cast("double") /
        greatest(wsTokenCount(t).cast("double"), lit(1.0)), 4).as("mean_tok_len"),
      round(length(regexp_replace(t, "[^\\p{Punct}]", "")).cast("double") /
        greatest(nChars, lit(1.0)), 4).as("punct_ratio"),
      round(length(regexp_replace(t, "[^0-9]", "")).cast("double") /
        greatest(nChars, lit(1.0)), 4).as("digit_ratio"))
  }

  /** English stopword ratio — a standard quality signal; the stopword set
    * rides along as literals (broadcast-equivalent, no join). */
  val EnStopwords: Seq[String] = Seq("the", "of", "and", "to", "in", "is",
    "that", "it", "was", "for", "with", "as", "on", "are", "a")

  def stopwordRatio(text: Column): Column = {
    val toks = TermOps.tokens(text)
    round(size(filter(toks, t => t.isin(EnStopwords: _*))).cast("double") /
      greatest(size(toks).cast("double"), lit(1.0)), 4)
  }

  /** Predicted language per document (n-gram/stopword heuristic kernel). */
  def withLangId(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("pred_lang", graft.GraftFunctions.langId(col(textCol)))

  /** Rolling-hash content fingerprint (exact-dup key cheaper than md5 for
    * repeated probing; deterministic across JVMs). */
  def withFingerprint(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("fingerprint",
      graft.GraftFunctions.rollingFingerprint(col(textCol)))

  /** PII/URL scrubbing for training corpora: URLs → `<URL>` (first, so
    * their digits/at-signs don't half-match later passes), emails →
    * `<EMAIL>`, long digit runs (phone/account numbers) → `<NUM>`.
    * Pure regexp_replace chain — codegen'd, and the patterns are shared
    * RE2/Java syntax so the DuckDB oracle replays them verbatim. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, "https?://[^\\s]+", "<URL>"),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "[0-9]{7,}", "<NUM>")

  /** Mean unigram surprisal per document — the perplexity-proxy quality
    * signal training pipelines filter on (gibberish and boilerplate sit
    * at the distribution tails): avg over token instances of
    * −log2(cf(term)/total_tokens), with corpus statistics from the data
    * itself.
    *
    * Scale shape: the scoring join runs on the tf-compressed
    * (doc, term, tf) relation, not per token instance — shuffle volume
    * is O(doc-term pairs), so repetitive/spam docs (exactly this
    * signal's targets) can't inflate it. The unigram table shuffles on
    * term (the vocabulary can be far past broadcast size at 100 TB —
    * term-hash partitioning is the honest shape). Rounded to 4dp so the
    * sum-order and 1-ulp log differences between engines vanish. */
  def surprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = TermOps.termFrequencies(docs, idCol, textCol)
    val cf = tf.groupBy("term").agg(sum(col("tf")).as("cf"))
    val total = tf.agg(sum(col("tf")).as("total"))
    tf.join(cf, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(round(
        sum(col("tf") * -log2(col("cf").cast("double") / col("total"))) /
          sum(col("tf")).cast("double"), 4).as("mean_surprisal"))
  }

  /** Mean bigram surprisal per document — the second-order companion to
    * `surprisal`: an add-k-smoothed bigram LM trained on the corpus
    * itself scores each document by avg over its bigrams of
    * −ln P(w2|w1), with P(w2|w1) = (c(w1 w2) + 0.5) / (c(w1 ·) + 0.5·V).
    * Catches locally-incoherent text (shuffled words, keyword stuffing)
    * that unigram statistics can't see; the standard cheap stand-in for
    * neural perplexity filtering.
    *
    * Scale shape: bigrams come from the same codegen'd shingle kernel
    * the dedup family uses; counts are hash aggregations with map-side
    * combine. The scoring join shuffles the (doc, bigram, n) relation
    * on the bigram hash — the bigram table at 100 TB is far past
    * broadcast size, so bigram-hash partitioning is the honest shape
    * (same reasoning as `surprisal`'s term join); the (w1) marginal
    * joins on the same relation's first token. Scores round to 4dp so
    * sum-order and 1-ulp `ln` differences between engines vanish. */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TermOps.tokens(col(textCol))
    val bgs = docs
      .select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(TermOps.shingleStrings(col("toks"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val c2 = bgs.groupBy("bg").agg(sum(col("n")).as("c2"))
    val c1 = bgs.groupBy("w1").agg(sum(col("n")).as("c1"))
    val vocab = docs.select(explode(toks).as("term"))
      .agg(count_distinct(col("term")).as("v"))
    bgs.join(c2, Seq("bg")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_bg"),
        round(
          sum(col("n") * -log((col("c2") + lit(0.5)) /
            (col("c1") + lit(0.5) * col("v")))) /
            sum(col("n")).cast("double"), 4).as("mean_bg_surprisal"))
  }

  /** Benchmark-contamination scan — the decontamination step of a
    * training pipeline: for each corpus document sharing at least
    * `minShared` distinct word n-grams with a probe (benchmark/eval)
    * document, emit (doc_id, probe_id, n_shared). The canonical use is
    * dropping or flagging training docs that leak evaluation data.
    *
    * Scale shape: both sides explode DISTINCT n-gram fnv64 hashes — 8
    * bytes per gram travel, never text; the probe side (benchmark
    * suites, thousands of docs) broadcasts, so the 100 TB corpus side
    * never shuffles for the join; overlap counts are a hash
    * aggregation. Never an all-pairs product.
    *
    * Collision tolerance: matching on fnv64(gram) means a 64-bit
    * collision between a corpus gram and a probe gram can inflate
    * `n_shared` relative to exact string equality (≈n²/2⁶⁵ expected
    * colliding pairs — negligible, and conservative in the safe
    * direction for decontamination: false flags, never false passes).
    * Re-verify matched (doc, probe) pairs on strings when exactness is
    * required. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    probes: DataFrame, probeIdCol: String, probeTextCol: String,
                    n: Int = 8, minShared: Long = 1L): DataFrame = {
    def grams(df: DataFrame, id: String, text: String, out: String) =
      df.select(col(id).as(out), TermOps.tokens(col(text)).as("toks"))
        .filter(size(col("toks")) >= n)
        .select(col(out), explode(array_distinct(
          graft.GraftFunctions.shingleHashes(col("toks"), n))).as("g"))
    grams(docs, idCol, textCol, "doc_id")
      .join(broadcast(grams(probes, probeIdCol, probeTextCol, "probe_id")), Seq("g"))
      .groupBy("doc_id", "probe_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Graded decontamination: each document's fraction of distinct
    * n-grams that appear anywhere in a benchmark corpus.
    * [[contamination]] reports per-probe shared-gram counts; curation
    * thresholds want the per-doc taint FRACTION (the n-gram-overlap
    * decontamination rule of Brown et al., "Language models are
    * few-shot learners", NeurIPS 2020, appendix C). Benchmark grams
    * hash-distinct into one small relation regardless of benchmark text
    * size, then broadcast; corpus grams probe it map-side — the corpus
    * (the 100 TB side) never shuffles its text, only (doc_id, hit)
    * pairs reach the per-doc aggregation. Docs with fewer than n tokens
    * have no grams and are absent (no 0/0 rows). */
  def overlapFraction(docs: DataFrame, idCol: String, textCol: String,
                      bench: DataFrame, benchTextCol: String,
                      n: Int = 8): DataFrame =
    overlapFractionFromToks(
      docs.select(col(idCol), TermOps.tokens(col(textCol)).as("_ofr_toks")),
      idCol, "_ofr_toks",
      bench.select(TermOps.tokens(col(benchTextCol)).as("_ofr_toks")),
      "_ofr_toks", n)

  /** [[overlapFraction]] over pre-tokenized relations — the shared-pass
    * entry curate_e2e uses so one materialized tokenize pass feeds the
    * contamination stage alongside the quality/dedup stages. */
  def overlapFractionFromToks(docs: DataFrame, idCol: String,
                              toksCol: String, bench: DataFrame,
                              benchToksCol: String,
                              n: Int = 8): DataFrame = {
    def grams(df: DataFrame, toks: String, idSel: Column*) =
      df.select(idSel :+ col(toks).as("toks"): _*)
        .filter(size(col("toks")) >= n)
        .withColumn("gh", explode(array_distinct(
          graft.GraftFunctions.shingleHashes(col("toks"), n))))
    val benchG = grams(bench, benchToksCol)
      .select(col("gh")).distinct().withColumn("hit", lit(1L))
    grams(docs, toksCol, col(idCol).as("doc_id"))
      .select(col("doc_id"), col("gh"))
      .join(broadcast(benchG), Seq("gh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        round(col("n_hits") / col("n_grams"), 4).as("frac"))
  }

  /** Corpus profile per group: doc count, mean and exact p50/p90/p99 of
    * a numeric column — the distribution snapshot curation thresholds
    * (length floors, quality cutoffs) are tuned against. Exact
    * `percentile` (not approx) so the result is engine-reproducible;
    * it aggregates per group with a single shuffle. The three
    * percentiles come from ONE `percentile(v, array(...))` aggregate
    * (single pass over the group) and are emitted as scalar columns.
    * For corpora where per-group exactness stops mattering, swap
    * `percentile_approx` in — same plan shape, bounded memory. */
  def corpusProfile(docs: DataFrame, groupCol: String,
                    valueCol: String): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col(valueCol)), 4).as("mean_val"),
        expr(s"percentile(`$valueCol`, array(0.5D, 0.9D, 0.99D))").as("qs"))
      .select(col(groupCol), col("n_docs"), col("mean_val"),
        round(col("qs").getItem(0), 4).as("p50"),
        round(col("qs").getItem(1), 4).as("p90"),
        round(col("qs").getItem(2), 4).as("p99"))

  /** Line-level boilerplate removal (the CCNet/RefinedWeb-style cleanup
    * step): a line is boilerplate when it appears in at least `minDf`
    * DISTINCT documents ("subscribe to our newsletter", cookie banners,
    * nav menus); such lines are stripped from every document, order of
    * the surviving lines preserved. Documents whose every line is
    * boilerplate drop out of the result (they carry no signal).
    *
    * Scale shape: line df is a hash aggregation over fnv64(line) — 8
    * bytes per line shuffle for the frequency pass, and the anti-join
    * that strips lines is keyed on the same hash with the (small)
    * boilerplate set broadcast. Text only moves once, in the final
    * per-document reassembly (output-sized by definition). */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       minDf: Long, sep: String = "\n"): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
      .filter(trim(col("line")) =!= "")
      .withColumn("lh", expr("fnv64(line)"))
    val boiler = lines.select(col("doc_id"), col("lh")).distinct()
      .groupBy("lh").agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") >= minDf)
      .select("lh")
    lines.join(broadcast(boiler), Seq("lh"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")), sep).as("clean_text"))
  }

  /** Within-document repetition ratio (a Gopher-style quality signal):
    * 1 − distinct/total word 3-shingles; 0 for docs under 3 tokens.
    * Built-in HOFs only (transform over an index sequence + slice), so
    * the whole signal stays inside codegen. */
  def repetitionRatio(text: Column, k: Int = 3): Column = {
    val toks = TermOps.tokens(text)
    // distinct count runs over the NATIVE hashed shingles (two distinct
    // shingle strings count once only on an fnv64 collision — ~2^-64
    // per pair, the identity convention the whole dedup family already
    // uses); total shingles = size(toks) - k + 1 by construction
    val sh = graft.GraftFunctions.shingleHashes(toks, k)
    when(size(toks) < k, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(sh)).cast("double") /
        (size(toks) - lit(k - 1)).cast("double"), 4))
  }

  /** Tokenizer-vocabulary coverage per document (OOV-rate profile): the
    * fraction of a doc's tokens outside `vocab` — the go/no-go check
    * before committing a tokenizer to a corpus (a high-OOV shard wastes
    * context on byte-fallback tokens, and a rising OOV rate on fresh
    * crawls signals vocabulary drift).
    *
    * Scale shape: a tokenizer vocabulary is bounded (10^4-10^6 terms)
    * regardless of corpus size, so it BROADCASTS; the corpus side is one
    * explode + broadcast left join + one doc-keyed aggregation exchange.
    * The rate divides two exact integers, so both engines compute the
    * identical double before rounding.
    *
    * Output: (doc_id, n_tokens, n_oov, oov_rate). Token-less docs drop
    * out (no explode rows), mirroring the oracle's inner token set. */
  /** DSIR-style importance weights for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): per-document mean log-likelihood ratio between a
    * TARGET distribution (the high-quality / in-domain corpus you want
    * more of) and the RAW corpus, both modeled as hashed-unigram bags
    * with add-one smoothing. Selecting top-weight (or
    * weight-proportional) documents tilts the raw corpus toward the
    * target — the standard cheap alternative to classifier-based
    * selection.
    *
    * Scale shape: both bucket tables and their totals are bounded by
    * `dim` regardless of corpus size, so the log-ratio table BROADCASTS;
    * the corpus pays one (doc, bucket) aggregation (map-side combined —
    * ≤ dim rows per doc survive the partial agg) and one doc-keyed
    * rollup. All counts are exact integers; the two `log` calls run on
    * identical doubles in any engine (`fnv64` bucket convention shared
    * with [[TermOps.featureHash]]).
    *
    * Output: (doc_id, n_tokens, dsir_w) — dsir_w is the mean per-token
    * log ratio, rounded; > 0 reads "more target-like than raw". */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, dim: Int = 256): DataFrame = {
    require(dim >= 2 && (dim & (dim - 1)) == 0,
      s"dim must be a power of two, got $dim")
    val tb = docs.select(col(idCol).as("doc_id"), isTarget.as("tgt"),
        explode(TermOps.tokens(col(textCol))).as("term"))
      .withColumn("bucket",
        expr("fnv64(term)").bitwiseAND(lit(dim - 1L)).cast("int"))
      .groupBy(col("doc_id"), col("tgt"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val rawB = tb.groupBy(col("bucket")).agg(sum(col("c")).as("rc"))
    val tgtB = tb.filter(col("tgt"))
      .groupBy(col("bucket")).agg(sum(col("c")).as("tc"))
    val counts = rawB.join(tgtB, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("tc"))
    val tot = counts.agg(sum(col("rc")).as("rtot"), sum(col("tc")).as("ttot"))
    val lr = counts.crossJoin(broadcast(tot)).select(col("bucket"),
      (log((col("tc") + lit(1L)).cast("double") /
           (col("ttot") + lit(dim.toLong)).cast("double")) -
       log((col("rc") + lit(1L)).cast("double") /
           (col("rtot") + lit(dim.toLong)).cast("double"))).as("lr"))
    tb.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        round(sum(col("c").cast("double") * col("lr")) /
          sum(col("c")).cast("double"), 4).as("dsir_w"))
  }

  /** Corpus-level distribution divergence between two document classes
    * over hashed-unigram buckets: KL(A‖B), KL(B‖A) and the symmetric
    * bounded Jensen-Shannon divergence, in bits — the "how different is
    * this slice from the rest" audit a mixture planner reads next to
    * [[dsirWeights]] (which scores per-DOC; this scores the corpus).
    *
    * Same bucket convention as DSIR (`fnv64(term) & (dim-1)`), add-one
    * smoothing over the full bucket grid so zero cells stay finite.
    * Exact integer counts; the three Σ p·log2(p/q) reductions are
    * ordered folds over the bucket-sorted cell array (engine-identical
    * IEEE order). One token-bucket aggregation over the corpus, then
    * O(dim) arithmetic — the corpus shuffles once, on (bucket).
    *
    * Output: one row (n_a, n_b, kl_ab, kl_ba, js). */
  def unigramDivergence(docs: DataFrame, textCol: String,
                        isA: Column, dim: Int = 64): DataFrame = {
    require(dim >= 2 && (dim & (dim - 1)) == 0,
      s"dim must be a power of two, got $dim")
    val cells = docs.select(isA.as("a"),
        explode(TermOps.tokens(col(textCol))).as("term"))
      .withColumn("bucket",
        expr("fnv64(term)").bitwiseAND(lit(dim - 1L)).cast("int"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("cb"))
    val grid = docs.sparkSession.range(0, dim)
      .select(col("id").cast("int").as("bucket"))
      .join(cells, Seq("bucket"), "left_outer")
      .na.fill(0L, Seq("ca", "cb"))
    val D = lit(dim.toLong)
    val folded = grid.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      array_sort(collect_list(struct(col("bucket"), col("ca"), col("cb"))))
        .as("arr"))
    def pa(x: Column) = (x.getField("ca") + lit(1L)).cast("double") /
      (col("n_a") + D).cast("double")
    def pb(x: Column) = (x.getField("cb") + lit(1L)).cast("double") /
      (col("n_b") + D).cast("double")
    val ln2 = log(lit(2.0))
    folded.select(col("n_a"), col("n_b"),
      round(aggregate(col("arr"), lit(0.0d), (acc, x) =>
        acc + pa(x) * (log(pa(x) / pb(x)) / ln2)), 6).as("kl_ab"),
      round(aggregate(col("arr"), lit(0.0d), (acc, x) =>
        acc + pb(x) * (log(pb(x) / pa(x)) / ln2)), 6).as("kl_ba"),
      round(aggregate(col("arr"), lit(0.0d), (acc, x) => {
        val m = (pa(x) + pb(x)) / lit(2.0)
        acc + (pa(x) * (log(pa(x) / m) / ln2) +
               pb(x) * (log(pb(x) / m) / ln2)) / lit(2.0)
      }), 6).as("js"))
  }

  def oovProfile(docs: DataFrame, idCol: String, textCol: String,
                 vocab: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TermOps.tokens(col(textCol))).as("term"))
    val v = vocab.select(col("term")).distinct()
      .withColumn("in_v", lit(1))
    toks.join(broadcast(v), Seq("term"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") /
          col("n_tokens").cast("double"), 4).as("oov_rate"))
  }

  /** URL canonical identity — the dedup key CommonCrawl-style pipelines
    * group re-crawls under: drop fragment and query string, drop the
    * scheme (http/https re-crawls are the same page), lowercase the
    * host and strip a leading `www.`, strip trailing slashes from the
    * path (which stays case-SENSITIVE — path case is meaningful, host
    * case is not). Pure built-in regexp chain, codegen-friendly, and
    * mirrored verbatim in the `dedup_url` oracle. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = get(split(url, "#"), lit(0))
    val noQuery = get(split(noFrag, "\\?"), lit(0))
    val rest = regexp_replace(noQuery,
      lit("^[A-Za-z][A-Za-z0-9+.-]*://"), lit(""))
    val host = regexp_replace(
      lower(regexp_extract(rest, "^[^/]*", 0)), lit("^www\\."), lit(""))
    val path = regexp_replace(
      regexp_replace(rest, lit("^[^/]*"), lit("")), lit("/+$"), lit(""))
    concat(host, path)
  }

  /** PII redaction (the C4-style scrub): count and replace email
    * addresses and NANP-style phone numbers with typed placeholders.
    * Emails scrub FIRST — an email local part may itself contain a
    * phone-shaped digit run, and the fixed order makes the counts
    * well-defined (phones are counted on the email-scrubbed text; the
    * oracle mirrors the same order). Patterns are deliberately simple
    * and lookahead-free, so they mean the same thing to Java regex and
    * RE2. Output: (id, n_emails, n_phones, scrubbed). */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(email), lit(0))))
      .withColumn("_t1",
        regexp_replace(col(textCol), lit(email), lit("<EMAIL>")))
      .withColumn("n_phones",
        size(regexp_extract_all(col("_t1"), lit(phone), lit(0))))
      .select(col(idCol), col("n_emails"), col("n_phones"),
        regexp_replace(col("_t1"), lit(phone), lit("<PHONE>"))
          .as("scrubbed"))
  }

  /** Function words whose PRESENCE (≥ `GopherMinStopwords` distinct) is
    * the Gopher natural-language gate — a different signal from
    * [[EnStopwords]]' ratio: gibberish and tables score zero here.
    * (Gopher's canonical list is {the, be, to, of, and, that, have,
    * with}; this set keeps the same presence semantics over common
    * English function words.) */
  val GopherStopwords: Seq[String] =
    Seq("the", "a", "in", "is", "and", "of", "to", "with")
  val GopherMinStopwords = 2

  /** Gopher-style hard quality RULES (Rae et al. 2021 §A1.1) — the
    * boolean gate bits a pretraining pipeline filters on, complementing
    * [[qualityMetrics]]' continuous signals. Every rule is an INTEGER
    * cross-multiplied comparison (10·symbols ≤ words, not
    * symbols/words ≤ 0.1), so there is no float boundary anywhere and
    * both engines decide identically. Pure map — zero exchanges at any
    * scale. Bits (true = passes):
    *  - `r_word_count`: 50 ≤ words ≤ 100 000
    *  - `r_mean_len`:   mean token length in [3, 10] chars
    *  - `r_symbol`:     (# of '#' chars + '…'-as-'...' runs) ≤ 10% of words
    *  - `r_bullet`:     ≤ 90% of lines start with a bullet ('- ' / '* ')
    *  - `r_ellipsis`:   ≤ 30% of lines end with '...'
    *  - `r_alpha`:      ≥ 80% of tokens contain a letter
    *  - `r_stop`:       ≥ 2 distinct [[GopherStopwords]] present
    * `keep` is the conjunction. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .select(col(idCol).as("doc_id"), TermOps.tokens(t).as("tk"),
        split(t, "\n").as("ln"), t.as("_t"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_words"),
        expr("aggregate(tk, 0L, (a, x) -> a + length(x))").as("sum_len"),
        (length(col("_t")) -
          length(regexp_replace(col("_t"), "#", ""))).cast("long").as("n_hash"),
        expr("CAST(length(_t) - length(replace(_t, '...', '')) AS BIGINT) div 3")
          .as("n_ell"),
        size(col("ln")).cast("long").as("n_lines"),
        expr("size(filter(ln, x -> x like '- %' or x like '* %'))")
          .cast("long").as("n_bullet"),
        expr("size(filter(ln, x -> x like '%...'))")
          .cast("long").as("n_ellend"),
        expr("size(filter(tk, x -> x rlike '[a-z]'))")
          .cast("long").as("n_alpha"),
        GopherStopwords.map(w =>
            array_contains(col("tk"), w).cast("int"))
          .reduce(_ + _).cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_words"), col("n_lines"),
        (col("n_words") >= 50L && col("n_words") <= 100000L).as("r_word_count"),
        (lit(3L) * col("n_words") <= col("sum_len") &&
          col("sum_len") <= lit(10L) * col("n_words")).as("r_mean_len"),
        (lit(10L) * (col("n_hash") + col("n_ell")) <= col("n_words"))
          .as("r_symbol"),
        (lit(10L) * col("n_bullet") <= lit(9L) * col("n_lines")).as("r_bullet"),
        (lit(10L) * col("n_ellend") <= lit(3L) * col("n_lines")).as("r_ellipsis"),
        (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")).as("r_alpha"),
        (col("n_stop") >= GopherMinStopwords.toLong).as("r_stop"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stop"))
  }
}
