package graft
package queries

import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import QueryKit._

/** Near-duplicate detection and clustering (dedup*, cluster*): one
  * [[Query]] record per query. */
private[graft] object Dedup {

  /** The embeddings corpus (vec_id, embedding) plus five planted
    * vectors far above the corpus id range: 9000001/9000002 and
    * 9000003/9000004 are identical pairs, 9000005 stands alone. The
    * organic corpus has no pair with cosine ≥ 0.99, so without them a
    * near-dup gate would only prove the absence of false positives. */
  private def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def v(f: Int => Float) = (0 until 64).map(f).toArray
    val planted = Seq(
      (9000001L, v(i => (i + 1).toFloat)),
      (9000002L, v(i => (i + 1).toFloat)),
      (9000003L, v(i => ((i * 37) % 64 + 1).toFloat)),
      (9000004L, v(i => ((i * 37) % 64 + 1).toFloat)),
      (9000005L, v(i => ((i * 11) % 64 + 1).toFloat))
    ).toDF("vec_id", "embedding")
    t(s, d, "embeddings").select("vec_id", "embedding").unionByName(planted)
  }

  /** The oracle twin of [[plantedCorpus]]: (vec_id, emb) with `emb`
    * as DOUBLE[]. */
  private val plantedCorpusSql =
    """  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      |  UNION ALL
      |  SELECT 9000000 + j AS vec_id,
      |   list_transform(generate_series(0, 63), i -> CAST(
      |     CASE WHEN j <= 2 THEN i + 1
      |          WHEN j <= 4 THEN (i * 37) % 64 + 1
      |          ELSE (i * 11) % 64 + 1 END AS DOUBLE)) AS emb
      |  FROM unnest(generate_series(1, 5)) AS t(j)""".stripMargin

  /** The deterministic SemDeDup training prologue (planted-union base,
    * 2-round Lloyd at `kSql` clusters, final assignment `asn` +
    * centroids `cent1`) — shared by [[semDedupSql]] and the two-level
    * approx-assignment audit ([[semDedupApproxSql]]). cent0/cent1/asn
    * are MATERIALIZED: the approx chain references cent1 five times
    * (the graph_ktruss re-expansion lesson). */
  private def semDedupCtes(kSql: String): String =
    s"""base AS MATERIALIZED (
       |$plantedCorpusSql),
       |d0 AS (SELECT vec_id % $kSql AS cluster, unnest(emb) AS v,
       |        generate_subscripts(emb, 1) AS dim FROM base),
       |cent0 AS MATERIALIZED (SELECT cluster, list(cv ORDER BY dim) AS centroid FROM
       |  (SELECT cluster, dim, avg(v) AS cv FROM d0 GROUP BY cluster, dim) g
       |  GROUP BY cluster),
       |a0 AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY list_cosine_similarity(emb, centroid) DESC, cluster ASC) AS rn
       |       FROM base CROSS JOIN cent0),
       |asn0 AS (SELECT vec_id, cluster FROM a0 WHERE rn = 1),
       |d1 AS (SELECT a.cluster, unnest(e.emb) AS v, generate_subscripts(e.emb, 1) AS dim
       |       FROM base e JOIN asn0 a ON e.vec_id = a.vec_id),
       |cent1 AS MATERIALIZED (SELECT cluster, list(cv ORDER BY dim) AS centroid FROM
       |  (SELECT cluster, dim, avg(v) AS cv FROM d1 GROUP BY cluster, dim) g
       |  GROUP BY cluster),
       |a1 AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY list_cosine_similarity(emb, centroid) DESC, cluster ASC) AS rn
       |       FROM base CROSS JOIN cent1),
       |asn AS MATERIALIZED (SELECT vec_id, cluster FROM a1 WHERE rn = 1)""".stripMargin

  /** The SemDeDup oracle chain (2-round Lloyd replay over embeddings ∪
    * planted near-dups, then within-cluster cosine pruning) with the
    * cluster count `kSql` as a SQL scalar expression — "8" replays the
    * pinned-k query, a ⌈√N⌉ subquery over `base` replays the adaptive
    * default (so k-agreement between the engines is itself gated). */
  private def semDedupSql(kSql: String): String =
    s"""WITH ${semDedupCtes(kSql)},
       |v AS (SELECT b.vec_id, b.emb, a.cluster FROM base b JOIN asn a USING (vec_id)),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id FROM v a JOIN v b
       |  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.emb", "b.emb")} >= 0.99)
       |SELECT v.vec_id, CAST(v.cluster AS INT) AS cluster,
       | (d.vec_id IS NULL) AS keep
       |FROM v LEFT JOIN dropped d ON v.vec_id = d.vec_id""".stripMargin

  /** Two-level assignment audit replay (ClusterOps.twoLevelAssign over
    * the semDedup ⌈√N⌉ training): g = ⌈√k⌉ super-cells from mod-g mean
    * init + one Lloyd refinement over the k centroid rows, vectors
    * route super → within-cell argmax; agreement + dropped-set recall
    * compare against the flat-argmax `asn`. Assignment argmaxes use
    * native list_cosine_similarity (the kmeans convention), threshold
    * compares use the bit-parity cosine fold (the dropped convention). */
  private lazy val semDedupApproxSql: String =
    s"""WITH ${semDedupCtes(
        "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM base)")},
       |kk AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM base),
       |gg AS (SELECT greatest(CAST(ceil(sqrt(k)) AS BIGINT), 1) AS g FROM kk),
       |si AS (SELECT cluster % (SELECT g FROM gg) AS super,
       |        unnest(centroid) AS v,
       |        generate_subscripts(centroid, 1) AS dim FROM cent1),
       |sup0 AS (SELECT super, list(cv ORDER BY dim) AS supc FROM
       |  (SELECT super, dim, avg(v) AS cv FROM si GROUP BY super, dim) q
       |  GROUP BY super),
       |ca0 AS (SELECT cluster, super, row_number() OVER (PARTITION BY cluster
       |        ORDER BY list_cosine_similarity(centroid, supc) DESC, super ASC) AS rn
       |       FROM cent1 CROSS JOIN sup0),
       |cm0 AS (SELECT cluster, super FROM ca0 WHERE rn = 1),
       |s1 AS (SELECT m.super AS super, unnest(c.centroid) AS v,
       |        generate_subscripts(c.centroid, 1) AS dim
       |       FROM cent1 c JOIN cm0 m USING (cluster)),
       |sup1 AS MATERIALIZED (SELECT super, list(cv ORDER BY dim) AS supc FROM
       |  (SELECT super, dim, avg(v) AS cv FROM s1 GROUP BY super, dim) q
       |  GROUP BY super),
       |ca1 AS (SELECT cluster, super, row_number() OVER (PARTITION BY cluster
       |        ORDER BY list_cosine_similarity(centroid, supc) DESC, super ASC) AS rn
       |       FROM cent1 CROSS JOIN sup1),
       |cmap AS MATERIALIZED (SELECT cluster, super FROM ca1 WHERE rn = 1),
       |live AS (SELECT sup1.super, sup1.supc FROM sup1
       |         JOIN (SELECT DISTINCT super FROM cmap) l USING (super)),
       |vs AS (SELECT b.vec_id, s.super, row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_cosine_similarity(b.emb, s.supc) DESC, s.super ASC) AS rn
       |       FROM base b CROSS JOIN live s),
       |vsup AS (SELECT vec_id, super FROM vs WHERE rn = 1),
       |fa AS (SELECT b.vec_id, c.cluster, row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_cosine_similarity(b.emb, c.centroid) DESC, c.cluster ASC) AS rn
       |       FROM base b JOIN vsup u ON b.vec_id = u.vec_id
       |       JOIN cmap m ON m.super = u.super
       |       JOIN cent1 c ON c.cluster = m.cluster),
       |apx AS MATERIALIZED (SELECT vec_id, cluster FROM fa WHERE rn = 1),
       |vE AS (SELECT b.vec_id, b.emb, a.cluster
       |       FROM base b JOIN asn a USING (vec_id)),
       |dE AS MATERIALIZED (
       |  SELECT DISTINCT y.vec_id FROM vE x JOIN vE y
       |  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |  WHERE ${cosSql("x.emb", "y.emb")} >= 0.99),
       |vA AS (SELECT b.vec_id, b.emb, a.cluster
       |       FROM base b JOIN apx a USING (vec_id)),
       |dA AS MATERIALIZED (
       |  SELECT DISTINCT y.vec_id FROM vA x JOIN vA y
       |  ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |  WHERE ${cosSql("x.emb", "y.emb")} >= 0.99),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       |        CAST(sum(CASE WHEN a.cluster = p.cluster THEN 1 ELSE 0 END)
       |          AS BIGINT) AS n_agree
       |       FROM asn a JOIN apx p USING (vec_id))
       |SELECT ag.n_vecs, CAST(kk.k AS INT) AS k, CAST(gg.g AS INT) AS g,
       | ag.n_agree,
       | round(CAST(ag.n_agree AS DOUBLE) / ag.n_vecs, 4) AS agree_frac,
       | (SELECT CAST(count(*) AS BIGINT) FROM dE) AS n_dropped_exact,
       | (SELECT CAST(count(*) AS BIGINT) FROM dA) AS n_dropped_approx,
       | (SELECT CAST(count(*) AS BIGINT)
       |    FROM dE JOIN dA USING (vec_id)) AS n_dropped_both,
       | round(CAST((SELECT count(*) FROM dE JOIN dA USING (vec_id)) AS DOUBLE)
       |   / greatest((SELECT count(*) FROM dE), 1), 4) AS drop_recall
       |FROM ag, kk, gg""".stripMargin

  /** The deterministic 2-round Lloyd chain (ClusterOps.kmeansModel,
    * k = 8, sharded init) as a CTE prologue — shared by the
    * cluster_kmeans gate and cluster_silhouette, which scores the same
    * final (cent1, asn1) pair. cent0/cent1 are MATERIALIZED so the
    * silhouette's cross join replays the trained centroids instead of
    * re-expanding the whole chain per reference. */
  private lazy val kmeansCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |d0 AS (SELECT vec_id % 8 AS cluster, unnest(emb) AS v,
      |        generate_subscripts(emb, 1) AS dim FROM e),
      |cent0 AS MATERIALIZED (SELECT cluster, list(cv ORDER BY dim) AS centroid FROM
      |  (SELECT cluster, dim, avg(v) AS cv FROM d0 GROUP BY cluster, dim) g
      |  GROUP BY cluster),
      |a0 AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY list_cosine_similarity(emb, centroid) DESC, cluster ASC) AS rn
      |       FROM e CROSS JOIN cent0),
      |asn0 AS (SELECT vec_id, cluster FROM a0 WHERE rn = 1),
      |d1 AS (SELECT a.cluster, unnest(e.emb) AS v, generate_subscripts(e.emb, 1) AS dim
      |       FROM e JOIN asn0 a ON e.vec_id = a.vec_id),
      |cent1 AS MATERIALIZED (SELECT cluster, list(cv ORDER BY dim) AS centroid FROM
      |  (SELECT cluster, dim, avg(v) AS cv FROM d1 GROUP BY cluster, dim) g
      |  GROUP BY cluster),
      |a1 AS (SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY list_cosine_similarity(emb, centroid) DESC, cluster ASC) AS rn
      |       FROM e CROSS JOIN cent1),
      |asn1 AS MATERIALIZED (SELECT vec_id, cluster FROM a1 WHERE rn = 1)""".stripMargin

  /** The suffix-array replay (dedup_substring's oracle): 4-gram-
    * partitioned neighbor sort on the token list, mirrored [go, n]
    * list-state LCP folds. A shared val so dedup_substring_eval can
    * nest the SAME chain (edit THIS, not copies). */
  private lazy val suffixDupSql: String =
      """WITH tk AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |    '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |tkn AS (SELECT doc_id, tk FROM tk WHERE len(tk) > 0),
        |sfx AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |   tk[i:least(len(tk), i + 23)] AS arr
        |  FROM tkn, unnest(generate_series(1, len(tk))) AS g(i)),
        |s2 AS (
        |  SELECT doc_id, pos, arr,
        |   array_to_string(arr[1:least(len(arr), 4)], ' ') AS gkey
        |  FROM sfx),
        |nb AS (
        |  SELECT doc_id, pos, arr,
        |   lag(arr) OVER w AS pa, lead(arr) OVER w AS na
        |  FROM s2
        |  WINDOW w AS (PARTITION BY gkey ORDER BY arr, doc_id, pos)),
        |lc AS (
        |  SELECT doc_id,
        |   greatest(
        |    CASE WHEN pa IS NULL THEN 0 ELSE
        |     list_reduce(list_prepend([1::BIGINT, 0::BIGINT],
        |       list_transform(generate_series(1, least(len(arr), len(pa))),
        |        j -> [CASE WHEN arr[j] = pa[j] THEN 1::BIGINT
        |              ELSE 0::BIGINT END, 0::BIGINT])),
        |      (ac, x) -> CASE WHEN ac[1] = 1 AND x[1] = 1
        |        THEN [1::BIGINT, ac[2] + 1]
        |        ELSE [0::BIGINT, ac[2]] END)[2] END,
        |    CASE WHEN na IS NULL THEN 0 ELSE
        |     list_reduce(list_prepend([1::BIGINT, 0::BIGINT],
        |       list_transform(generate_series(1, least(len(arr), len(na))),
        |        j -> [CASE WHEN arr[j] = na[j] THEN 1::BIGINT
        |              ELSE 0::BIGINT END, 0::BIGINT])),
        |      (ac, x) -> CASE WHEN ac[1] = 1 AND x[1] = 1
        |        THEN [1::BIGINT, ac[2] + 1]
        |        ELSE [0::BIGINT, ac[2]] END)[2] END) AS dup_len
        |  FROM nb)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
        | CAST(max(dup_len) AS BIGINT) AS max_dup_len,
        | CAST(sum(CASE WHEN dup_len >= 8 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dup_pos,
        | round(CAST(sum(CASE WHEN dup_len >= 8 THEN 1 ELSE 0 END)
        |   AS DOUBLE) / count(*), 4) AS dup_frac
        |FROM lc GROUP BY doc_id""".stripMargin

  /** The bottom-1 window-MinHash replay (dedup_substring_approx's
    * oracle): strided windows, min over the 13 in-window 4-gram fnv
    * hashes wrapped to SIGNED BIGINT before the min, dedup_spans-
    * style frequency join. Shared with dedup_substring_eval. */
  private lazy val windowMinhashSql: String =
      s"""WITH arrs AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
         |    '\\s+'), x -> x <> '') AS a
         |  FROM documents),
         |win AS (
         |  SELECT doc_id, i, a[i:i+15] AS warr
         |  FROM arrs, unnest(generate_series(1, len(a) - 15, 8)) AS t(i)
         |  WHERE len(a) >= 16),
         |gr AS (
         |  SELECT doc_id, i,
         |   CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
         |     THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
         |     AS hs
         |  FROM (SELECT doc_id, i,
         |         ${fnvSql("array_to_string(warr[j:j+3], ' ')")} AS h
         |        FROM win, unnest(generate_series(1, 13)) AS g(j))),
         |sk AS (SELECT doc_id, i, min(hs) AS mh FROM gr GROUP BY doc_id, i),
         |pd AS (SELECT doc_id, mh, count(*) AS c FROM sk GROUP BY doc_id, mh),
         |dup AS (SELECT mh FROM pd GROUP BY mh HAVING sum(c) >= 2)
         |SELECT pd.doc_id, CAST(sum(c) AS BIGINT) AS n_windows,
         | CAST(sum(CASE WHEN dup.mh IS NOT NULL THEN c ELSE 0 END)
         |   AS BIGINT) AS n_dup_windows,
         | round(sum(CASE WHEN dup.mh IS NOT NULL THEN c ELSE 0 END) * 1.0
         |   / sum(c), 4) AS dup_ratio
         |FROM pd LEFT JOIN dup USING (mh)
         |GROUP BY pd.doc_id""".stripMargin

  /** CTEs over `arrs`: `sh` (doc_id, sh), each doc's distinct 3-word
    * shingles with no df cap (a doc under 3 tokens is one shingle, its
    * whole text), and `sizes` (doc_id, n) — the MinHash verify sets. */
  private val uncappedShinglesSql =
    """sh AS (
      |  SELECT DISTINCT doc_id,
      |   CASE WHEN len(a) < 3 THEN array_to_string(a, ' ')
      |        ELSE a[i] || ' ' || a[i+1] || ' ' || a[i+2] END AS sh
      |  FROM arrs, unnest(generate_series(1, greatest(len(a)-2, 1))) AS t(i)
      |  WHERE len(a) >= 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** The exact-vs-approx substring-tier confusion table over a
    * grouping of [[substringVerdicts]]: docs hot in both tiers, exact
    * only and approx only, and the share of docs the tiers agree on. */
  private def tierConfusion(g: RelationalGroupedDataset): DataFrame =
    g.agg(count(lit(1)).as("n_docs"),
      sum(when(col("ehot") && col("ahot"), 1L).otherwise(0L))
        .as("n_both_hot"),
      sum(when(col("ehot") && !col("ahot"), 1L).otherwise(0L))
        .as("n_exact_only"),
      sum(when(!col("ehot") && col("ahot"), 1L).otherwise(0L))
        .as("n_approx_only"))
    .withColumn("agreement", round(
      (col("n_docs") - col("n_exact_only") - col("n_approx_only"))
        .cast("double") / col("n_docs"), 4))

  /** The oracle twin of [[tierConfusion]]: its columns after n_docs and
    * the FROM clause joining both nested tier chains on doc_id. */
  private lazy val tierConfusionSql: String =
    s""" CAST(sum(CASE WHEN x.n_dup_pos * 2 >= x.n_pos
       |   AND a.n_dup_windows * 2 >= a.n_windows THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_both_hot,
       | CAST(sum(CASE WHEN x.n_dup_pos * 2 >= x.n_pos
       |   AND NOT (a.n_dup_windows * 2 >= a.n_windows) THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_exact_only,
       | CAST(sum(CASE WHEN NOT (x.n_dup_pos * 2 >= x.n_pos)
       |   AND a.n_dup_windows * 2 >= a.n_windows THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_approx_only,
       | round((count(*)
       |   - sum(CASE WHEN x.n_dup_pos * 2 >= x.n_pos
       |       AND NOT (a.n_dup_windows * 2 >= a.n_windows)
       |       THEN 1 ELSE 0 END)
       |   - sum(CASE WHEN NOT (x.n_dup_pos * 2 >= x.n_pos)
       |       AND a.n_dup_windows * 2 >= a.n_windows
       |       THEN 1 ELSE 0 END)) * 1.0 / count(*), 4) AS agreement
       |FROM ($suffixDupSql) x JOIN ($windowMinhashSql) a USING (doc_id)""".stripMargin

  /** Verified MinHash-candidate pairs (exact jaccard ≥ 0.4 on the
    * uncapped shingle sets) — gates dedup_minhash_cand and feeds the
    * recall harness (dedup_minhash_eval) as a subquery. */
  private val minhashVerifiedSql =
    s"""$arrsSql,
      |$uncappedShinglesSql,
      |inter AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT ida AS id_a, idb AS id_b,
      | round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
      |FROM inter JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id
      |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.4
      |UNION ALL
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0 AS jaccard
      |FROM arrs a JOIN arrs b ON a.doc_id < b.doc_id
      |WHERE len(a.a) = 0 AND len(b.a) = 0
      |  AND (SELECT count(*) FROM arrs WHERE len(a) = 0) <= 1000""".stripMargin

  /** Planted-wrapper containment pairs ≥ 0.9 (dedup_containment): the
    * same shingle / df-cap chain as [[jaccardPairsSql]], over documents
    * plus a boilerplate-wrapped copy of every 97th doc, scored with
    * Broder containment i/min(na,nb) instead of symmetric jaccard. */
  private val containmentPairsSql =
    s"""WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |   'begin wrapper header ' || text || ' end wrapper footer'
      |  FROM documents WHERE doc_id % 97 = 0),
      |arrs AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |    x -> x <> '') AS a
      |  FROM docs),
      |$shinglesSql,
      |$shingleOverlapSql
      |SELECT ida AS id_a, idb AS id_b,
      | round(i * 1.0 / least(sa.n, sb.n), 4) AS containment
      |FROM inter JOIN sizes sa ON ida = sa.doc_id JOIN sizes sb ON idb = sb.doc_id
      |WHERE i * 1.0 / least(sa.n, sb.n) >= 0.9""".stripMargin

  val all: Seq[Query] = Seq(
    Query("dedup_exact", (s, d) =>
      DedupOps.exactGroups(t(s, d, "documents"), "doc_id", "text"),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY content_hash""".stripMargin),

    Query("dedup_minhash_cand", (s, d) =>
      DedupOps.verifiedNearDups(t(s, d, "documents"), "doc_id", "text",
          threshold = 0.4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard")),
      // exact computation of what the LSH+verify pipeline approximates: all
      // pairs with shingle-SET jaccard ≥ 0.4, mirroring every shingle rule
      // of Hashing.shingles — docs with 1..k-1 tokens contribute one
      // whole-doc shingle, and token-less docs (empty shingle sets share
      // every MinHash bucket and verify at jaccard 1.0) pair with each
      // other. A hash match proves the banded-MinHash candidates had no
      // false negatives on this corpus and the verify stage computed the
      // exact same jaccard values.
      minhashVerifiedSql),

    Query("dedup_simhash", (s, d) =>
      DedupOps.simhashCandidates(t(s, d, "documents"), "doc_id", "text")
        .filter(col("hamming") <= 8),
      // full replication of the SimHash kernel: FNV-1a per token in HUGEINT
      // (the xor only ever touches the low 7 bits — ASCII tokens — so it
      // runs in BIGINT), per-bit majority votes, 16-bit chunk buckets,
      // hamming over the xor of the signed signatures. Token-less docs get
      // signature 0 (the empty-vote fixpoint), mirroring Hashing.simHash.
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id,
        |   list_reduce(list_prepend(14695981039346656037::HUGEINT,
        |     list_transform(regexp_split_to_array(tok, ''), c -> unicode(c)::HUGEINT)),
        |     (h, c) -> ((h - h % 128 +
        |       xor(CAST(h % 128 AS BIGINT), CAST(c AS BIGINT))::HUGEINT)
        |       * 1099511628211) % 18446744073709551616::HUGEINT) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, b,
        |   sum(CASE WHEN (h // (1::HUGEINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS acc
        |  FROM th, unnest(generate_series(0, 63)) AS t(b)
        |  GROUP BY doc_id, b),
        |sigs AS (
        |  SELECT doc_id,
        |   sum(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS su
        |  FROM bits GROUP BY doc_id
        |  UNION ALL
        |  SELECT doc_id, 0::HUGEINT AS su FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) = 0),
        |sigc AS (
        |  SELECT doc_id,
        |   CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
        |     THEN su - 18446744073709551616::HUGEINT ELSE su END AS BIGINT) AS sig,
        |   CAST(su % 65536 AS BIGINT) AS c0,
        |   CAST((su // 65536) % 65536 AS BIGINT) AS c1,
        |   CAST((su // 4294967296) % 65536 AS BIGINT) AS c2,
        |   CAST((su // 281474976710656) % 65536 AS BIGINT) AS c3
        |  FROM sigs)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        |FROM sigc a JOIN sigc b ON a.doc_id < b.doc_id
        | AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3)
        |WHERE bit_count(xor(a.sig, b.sig)) <= 8""".stripMargin),

    Query("dedup_jaccard", (s, d) =>
      DedupOps.jaccardPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.5),
      jaccardPairsSql),

    Query("dedup_containment", (s, d) => {
      // planted boilerplate-wrapped supersets: every 97th doc reappears
      // embedded in a wrapper page, so (doc, wrapper) pairs score ~1.0
      // containment regardless of how small the doc is relative to the
      // page — the asymmetric-dup case symmetric jaccard under-scores
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val wrapped = docs.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("begin wrapper header "), col("text"),
            lit(" end wrapper footer")).as("text"))
      DedupOps.containmentPairs(docs.unionByName(wrapped), "doc_id", "text",
        threshold = 0.9)
    },
      containmentPairsSql),

    Query("dedup_components", (s, d) =>
      // near-dup clustering: pairwise jaccard output → connected
      // components (component id = min doc id, the deterministic keeper).
      // Pair generation via the lossless prefix filter (gated
      // byte-identical to the plain inverted-index join by
      // dedup_jaccard_prefix) — fat shingle buckets never fan out.
      dedupLabels05(s, d)
        .select(col("node").as("doc_id"), col("component")),
      // components of the jaccard pair graph by transitive reachability
      // (recursive CTE): component = min reachable doc id — the same
      // fixpoint the iterative min-label propagation converges to
      nearDupComponentsSql,
      sharesStage = true),

    Query("dedup_canonical", (s, d) => {
      // the per-document curation decision downstream of clustering:
      // every doc → (canonical id, keep?) — filter(keep) IS the deduped
      // corpus, the rest is the redirect map
      val docs = t(s, d, "documents")
      DedupOps.canonicalKeepList(docs, "doc_id", dedupLabels05(s, d))
    },
      // same component fixpoint, joined back to every document: canonical =
      // component min (or self), keep = is-canonical
      s"""$nearDupReachSql,
         |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
         |SELECT d.doc_id,
         | coalesce(c.component, d.doc_id) AS canonical,
         | d.doc_id = coalesce(c.component, d.doc_id) AS keep
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node""".stripMargin,
      sharesStage = true),

    Query("dedup_minhash_eval", (s, d) =>
      // the approximation-cost gauge for the LSH text-dedup path (the
      // ann_recall of the dedup family): exact-jaccard truth pairs vs
      // the banded-MinHash pipeline's verified candidates — recall =
      // the fraction of true near-dups the banding didn't lose. Both
      // legs read ONE materialized tokenize pass + ONE materialized
      // hashed-shingle pass (DedupOps.minhashRecallStats — the
      // ann_recall shared-stage treatment, r11 item 3)
      DedupOps.minhashRecallStats(t(s, d, "documents"), "doc_id", "text",
        truthThreshold = 0.5, candThreshold = 0.4),
      // truth pairs and verified LSH candidates replayed from their own
      // gate SQLs (the ann_recall nesting pattern), intersected on pairs
      s"""WITH t AS (SELECT id_a, id_b FROM ($jaccardPairsSql)),
         |c AS (SELECT id_a, id_b FROM ($minhashVerifiedSql)),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM t),
         |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM c),
         |nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
         |       FROM t JOIN c USING (id_a, id_b))
         |SELECT n_truth, n_candidates, n_hits,
         | round(CAST(n_hits AS DOUBLE) / n_truth, 4) AS recall
         |FROM nt, nc, nh""".stripMargin),

    Query("dedup_jaccard_prefix", (s, d) =>
      // lossless prefix-filtered all-pairs join (Bayardo et al.
      // WWW'07): byte-identical result to dedup_jaccard — the oracle
      // IS the full-join SQL — but candidates come from joining only
      // each doc's rarest shingles, so the fat inverted-index buckets
      // never fan out
      DedupOps.jaccardPairsPrefix(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.5),
      // prefix filtering is LOSSLESS, so the pruned path's oracle is the
      // full-join SQL itself — passing means the Bayardo prefix join
      // returned byte-identical pairs to the exhaustive index join
      jaccardPairsSql),

    Query("dedup_cluster_profile", (s, d) =>
      // dedup QA scorecard: the duplicate-cluster size distribution —
      // (cluster size → #clusters, #docs bound up in them). The number
      // a curation run eyeballs before trusting a dedup pass: a fat
      // tail here means a boilerplate template is gluing the corpus
      // together. O(dup docs) input, O(distinct sizes) output.
      dedupLabels05(s, d)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .select(col("sz"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs_in")),
      // same component fixpoint, rolled up twice: component → size →
      // (size → cluster count, docs bound up)
      s"""$nearDupReachSql,
         |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         |szs AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
         |SELECT CAST(sz AS BIGINT) AS sz,
         | CAST(count(*) AS BIGINT) AS n_clusters,
         | CAST(sz * count(*) AS BIGINT) AS n_docs_in
         |FROM szs GROUP BY sz""".stripMargin,
      sharesStage = true),

    Query("dedup_incremental", (s, d) => {
      // snapshot-over-snapshot exact dedup: even-id docs play the
      // already-indexed corpus, odd-id docs the new crawl. The organic
      // corpus has no exact dups, so planted rows (ids above the corpus
      // range, same convention as dedup_embedding) exercise all three
      // outcomes: dup-of-index, dup-within-snapshot, genuinely new
      import s.implicits._
      val docs = t(s, d, "documents").select("doc_id", "text")
      val planted = Seq(
        (9000001L, "planted incremental duplicate alpha alpha beta"),
        (9000002L, "planted incremental duplicate alpha alpha beta"),
        (9000003L, "planted incremental duplicate gamma delta epsilon"),
        (9000004L, "planted incremental duplicate gamma delta epsilon"),
        (9000005L, "planted incremental unique zeta eta theta"))
        .toDF("doc_id", "text")
      val indexed = docs.filter(col("doc_id") % 2 === 0)
        .unionByName(planted.filter(col("doc_id") === 9000001L))
      val newer = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(planted.filter(col("doc_id") > 9000001L))
      DedupOps.incrementalExact(newer, "doc_id", "text", indexed)
    },
      """WITH planted(doc_id, text) AS (VALUES
        |  (CAST(9000001 AS BIGINT), 'planted incremental duplicate alpha alpha beta'),
        |  (9000002, 'planted incremental duplicate alpha alpha beta'),
        |  (9000003, 'planted incremental duplicate gamma delta epsilon'),
        |  (9000004, 'planted incremental duplicate gamma delta epsilon'),
        |  (9000005, 'planted incremental unique zeta eta theta')),
        |indexed AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL SELECT doc_id, text FROM planted WHERE doc_id = 9000001),
        |newer AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL SELECT doc_id, text FROM planted WHERE doc_id > 9000001),
        |idx AS (SELECT md5(text) AS content_hash, min(doc_id) AS idx_id
        |  FROM indexed GROUP BY 1),
        |h AS (SELECT doc_id, md5(text) AS content_hash FROM newer),
        |nm AS (SELECT content_hash, min(doc_id) AS new_min FROM h GROUP BY 1)
        |SELECT h.doc_id, h.content_hash,
        | coalesce(idx.idx_id,
        |   CASE WHEN h.doc_id <> nm.new_min THEN nm.new_min END) AS dup_of,
        | idx.idx_id IS NULL AND h.doc_id = nm.new_min AS keep
        |FROM h JOIN nm USING (content_hash)
        |LEFT JOIN idx USING (content_hash)""".stripMargin),

    Query("dedup_spans", (s, d) =>
      // exact-substring-dedup signal (Lee et al. 2021) at 8-token
      // window granularity: per-doc duplicated-window fraction
      DedupOps.duplicatedSpans(t(s, d, "documents"), "doc_id", "text",
        w = 8, minCount = 2L),
      // every 8-token window, duplicated = exact content occurs >= 2 times
      // corpus-wide (positions count, not distinct grams)
      s"""$arrsSql,
        |g AS (
        |  SELECT doc_id, array_to_string(a[i:i+7], ' ') AS gram
        |  FROM arrs, unnest(generate_series(1, greatest(len(a)-7, 0))) AS t(i)
        |  WHERE len(a) >= 8),
        |n AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*) AS n_windows,
        | CAST(sum(CASE WHEN n.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dup_windows,
        | round(sum(CASE WHEN n.cnt >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
        |   AS dup_ratio
        |FROM g JOIN n USING (gram)
        |GROUP BY g.doc_id""".stripMargin),

    Query("dedup_substring", (s, d) =>
      // the same Lee et al. signal at FULL resolution via the sorted
      // suffix-array form: per position, the LCP with its sorted
      // neighbor = the longest exactly-duplicated substring starting
      // there (dedup_spans' fixed windows approximate this). Suffixes
      // travel as 64-bit token-hash arrays and sort within leading-
      // 4-gram groups — the sharded-suffix-array layout — so nothing
      // ever compares across a posting boundary.
      // See DedupOps.suffixDupSpans.
      DedupOps.suffixDupSpans(t(s, d, "documents"), "doc_id", "text",
        cap = 24, minSpan = 8),
      // the suffix-array replay: same 4-gram-partitioned neighbor sort
      // (element-wise on the token list — VARCHAR[] and array<string>
      // order identically: byte-wise element compare, shorter-prefix
      // first), same [go, n] list-state LCP fold (list_reduce wraps
      // elements to state arity per the t25 rule)
      suffixDupSql),

    Query("dedup_substring_approx", (s, d) =>
      // the tier BETWEEN dedup_spans (exact fixed windows) and
      // dedup_substring (exact suffix array): strided 16-token windows
      // sketched by bottom-1 MinHash over their 4-shingles — windows
      // sharing the sketch collide with probability = shingle Jaccard,
      // so NEAR-duplicate spans surface too. One 8-byte key per
      // window through the corpus-wide pass; the 100 TB default the
      // exact SA row calibrates. See DedupOps.windowMinhashSpans.
      DedupOps.windowMinhashSpans(t(s, d, "documents"), "doc_id", "text",
        w = 16, stride = 8, shingleK = 4, minCount = 2L),
      // the bottom-1 window-MinHash replay: strided windows, min over
      // the 13 in-window 4-gram fnv hashes WRAPPED TO SIGNED BIGINT
      // before the min (Spark orders the signed value — the established
      // CASE), then the dedup_spans-style frequency join on the sketch
      windowMinhashSql),

    Query("dedup_substring_eval", (s, d) => {
      // the calibration made concrete: doc-level agreement between the
      // exact SA tier and the approx window-MinHash tier at the
      // standard hot-doc verdict (duplicated mass ≥ half — integer
      // cross-multiply, the curate_e2e convention). A deployment runs
      // this on a sample to license the cheap tier corpus-wide; the
      // four-cell confusion table is the whole decision input. Inner
      // join: both tiers must cover the doc (approx needs ≥ 16 tokens).
      // The verdict frame is process-shared with the per-source rollup
      // (substringVerdicts); the tier generators keep their own gates.
      tierConfusion(substringVerdicts(s, d).groupBy())
    },
      // both full tier chains nested as derived tables (the r9 rule:
      // CTEs are legal inside FROM (...)), joined on doc_id, integer
      // hot verdicts mirrored, one final rounded division
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |$tierConfusionSql""".stripMargin,
      sharesStage = true),

    Query("dedup_substring_src_eval", (s, d) =>
      // the tier calibration rolled up PER SOURCE: which feed's
      // duplicated mass the cheap tier is missing (exact-only) or
      // over-flagging (approx-only) — the table that decides where the
      // exact SA tier's budget goes at 100 TB (run it only on feeds
      // whose exact-only mass is material; trust the 8-byte sketch on
      // the rest). Reads the same process-shared verdict frame as the
      // corpus-wide confusion row, plus one (doc_id, source) join.
      tierConfusion(substringVerdicts(s, d)
        .join(t(s, d, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy(col("source"))),
      // the same nested tier chains rolled up per source (one extra
      // documents join for the source key)
      s"""SELECT dd.source, CAST(count(*) AS BIGINT) AS n_docs,
         |$tierConfusionSql
         |JOIN (SELECT doc_id, source FROM documents) dd USING (doc_id)
         |GROUP BY 1""".stripMargin,
      sharesStage = true),

    Query("dedup_paragraph", (s, d) => {
      import s.implicits._
      // line-level corpus dedup + in-order reconstruction (the C4/CCNet
      // boilerplate rule: a line survives only at its globally-first
      // occurrence). Organic docs are single-line — the exact-dedup
      // degenerate case; the planted multi-line docs prove first-wins
      // election across AND within docs, ordered reconstruction, and a
      // doc losing every line (n_kept = 0)
      val planted = Seq(
        (9000001L, "alpha beta\ncommon boilerplate line\ngamma"),
        (9000002L, "common boilerplate line\ndelta\ncommon boilerplate line"),
        (9000003L, "common boilerplate line")).toDF("doc_id", "text")
      DedupOps.dedupLines(
        t(s, d, "documents").select(col("doc_id"), col("text"))
          .unionByName(planted), "doc_id", "text")
    },
      // first-wins line election mirrors min(struct(doc_id, idx)); planted
      // docs exercise cross-doc AND within-doc dup lines + the all-lost doc
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(col0 AS BIGINT), col1 FROM (VALUES
        |   (9000001, 'alpha beta' || chr(10) || 'common boilerplate line' || chr(10) || 'gamma'),
        |   (9000002, 'common boilerplate line' || chr(10) || 'delta' || chr(10) || 'common boilerplate line'),
        |   (9000003, 'common boilerplate line')) t(col0, col1)),
        |lines AS (
        |  SELECT doc_id, CAST(generate_subscripts(a, 1) - 1 AS INT) AS idx,
        |   unnest(a) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS a FROM base)),
        |kept AS (
        |  SELECT doc_id, idx, line FROM (
        |    SELECT doc_id, idx, line,
        |     row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
        |    FROM lines) WHERE rn = 1),
        |cnt AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1),
        |rec AS (SELECT doc_id, count(*) AS n_kept,
        |        string_agg(line, chr(10) ORDER BY idx) AS text_kept
        |        FROM kept GROUP BY 1)
        |SELECT c.doc_id, c.n_lines, coalesce(r.n_kept, 0) AS n_kept,
        | coalesce(r.text_kept, '') AS text_kept
        |FROM cnt c LEFT JOIN rec r USING (doc_id)""".stripMargin),

    Query("dedup_bloom_seen", (s, d) => {
      // approximate incremental dedup against a BLOOM of the historical
      // seen-set — the 100 TB shape of dedup_incremental: the exact
      // seen-set is too big to join every ingest batch against, but its
      // bloom broadcasts (here deliberately undersized so false
      // positives exist and the oracle must replay them bit-for-bit).
      // The exact `truly_seen` column beside the flag makes the FP rate
      // auditable; a production flow exact-checks ONLY the flagged
      // slice (a |flagged|-sized join, not |batch|).
      val docs = t(s, d, "documents")
      val seenKeys = docs.filter(col("doc_id") % 3 =!= 0)
        .select(md5(col("text")).as("h"))
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("h", md5(col("text")))
      PruneOps.bloomFlag(batch, "h", seenKeys, "h", "maybe_seen",
          mBits = 4096, k = 2)
        .join(seenKeys.distinct().withColumn("truly_seen", lit(true)),
          Seq("h"), "left_outer")
        .select(col("doc_id"), col("maybe_seen"),
          coalesce(col("truly_seen"), lit(false)).as("truly_seen"))
    },
      // bloom flags replayed with the shared FNV chain over the md5 key;
      // truly_seen beside them audits the false-positive rate
      s"""WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents
         |             WHERE doc_id % 3 <> 0),
         |batch AS (SELECT doc_id, md5(text) AS h FROM documents
         |          WHERE doc_id % 3 = 0),
         |seeds AS (SELECT unnest(generate_series(0, 1)) AS i),
         |pos AS (SELECT DISTINCT ${fnvSql("h || '#' || i")} % 4096 AS p
         |        FROM seen, seeds),
         |bp AS (SELECT doc_id, h,
         |        ${fnvSql("h || '#0'")} % 4096 AS p0,
         |        ${fnvSql("h || '#1'")} % 4096 AS p1 FROM batch)
         |SELECT doc_id,
         | (p0 IN (SELECT p FROM pos)) AND (p1 IN (SELECT p FROM pos))
         |   AS maybe_seen,
         | h IN (SELECT h FROM seen) AS truly_seen
         |FROM bp""".stripMargin),

    Query("dedup_cross_corpus", (s, d) => {
      // benchmark decontamination at the NEAR-DUP level (the sibling of
      // text_contamination's exact n-gram rule): banded-MinHash buckets
      // per side, candidates only ACROSS the train/eval split, exact
      // Jaccard verification ≥ 0.4 — a lightly-edited eval doc slips
      // past exact n-grams but not past this. Halves by doc_id parity
      // stand in for the train/benchmark corpora.
      val docs = t(s, d, "documents")
      DedupOps.crossCorpusNearDups(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", threshold = 0.4)
    },
      // the minhash exact-verify chain restricted to cross-parity pairs;
      // the LSH banding is recall-complete on this data (the
      // dedup_minhash_eval harness pins recall = 1 at threshold 0.4)
      s"""$arrsSql,
        |$uncappedShinglesSql,
        |inter AS (
        |  SELECT a.doc_id AS tid, b.doc_id AS eid, count(*) AS i
        |  FROM sh a JOIN sh b ON a.sh = b.sh
        |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |  GROUP BY 1, 2)
        |SELECT eid AS eval_id, tid AS train_id,
        | round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter JOIN sizes sa ON tid = sa.doc_id
        | JOIN sizes sb ON eid = sb.doc_id
        |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.4
        |UNION ALL
        |SELECT b.doc_id AS eval_id, a.doc_id AS train_id, 1.0 AS jaccard
        |FROM arrs a JOIN arrs b
        |  ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE len(a.a) = 0 AND len(b.a) = 0
        |  AND (SELECT count(*) FROM arrs WHERE len(a) = 0) <= 1000""".stripMargin),

    Query("cluster_kmeans", (s, d) =>
      ClusterOps.kmeansAssign(
        embeddings(s, d),
        k = 8, iters = 2),
      // deterministic Lloyd: sharded init (vec_id % k), 2 assign rounds
      // with one centroid recompute between; argmax ordering on the raw
      // sim with lower-cluster tie-break mirrors ClusterOps.assign
      s"""WITH $kmeansCtes
         |SELECT vec_id, CAST(cluster AS INT) AS cluster FROM asn1""".stripMargin),

    Query("cluster_silhouette", (s, d) => {
      // centroid-based silhouette of the cluster_kmeans partition — the
      // cluster-quality scorecard (is k=8 a real structure or noise?):
      // per vector, a = cosine distance to its OWN final centroid, b =
      // distance to the nearest OTHER centroid, s = (b−a)/max(a,b);
      // reported as the per-cluster mean. Simplified (centroid-based,
      // not pairwise) silhouette — the O(n·k) form that scales; true
      // pairwise silhouette is O(n²) and exists only inside SemDeDup's
      // bounded clusters. Per-point s rounds to 6 before the rank-
      // ordered mean fold (the embed_ood convention), so both engines
      // fold identical doubles in identical order.
      ClusterOps.silhouette(
        t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>")
            .as("embedding")),
        k = 8, iters = 2)
    },
      // a/b sims via the mirrored cosSql fold (VALUES matter here, not
      // just the argmax order); per-point s rounds to 6 before the
      // vec_id-ordered mean fold — the embed_ood convention
      s"""WITH $kmeansCtes,
         |ab AS (SELECT a.vec_id AS vec_id, a.cluster AS own,
         |   max(CASE WHEN c.cluster = a.cluster
         |       THEN ${cosSql("e.emb", "c.centroid")} END) AS a_sim,
         |   max(CASE WHEN c.cluster <> a.cluster
         |       THEN ${cosSql("e.emb", "c.centroid")} END) AS b_sim
         |  FROM e JOIN asn1 a ON e.vec_id = a.vec_id CROSS JOIN cent1 c
         |  GROUP BY a.vec_id, a.cluster),
         |ab2 AS (SELECT vec_id, own, 1.0::DOUBLE - a_sim AS a,
         |         1.0::DOUBLE - b_sim AS b FROM ab),
         |sil AS (SELECT vec_id, own,
         |   round(CASE WHEN greatest(a, b) = 0.0::DOUBLE THEN 0.0::DOUBLE
         |         ELSE (b - a) / greatest(a, b) END, 6) AS sil FROM ab2),
         |g AS (SELECT own AS cluster, CAST(count(*) AS BIGINT) AS n,
         |       list_reduce(list_prepend(0.0::DOUBLE,
         |         list(sil ORDER BY vec_id)), (acc, x) -> acc + x) AS ssum
         |      FROM sil GROUP BY own)
         |SELECT CAST(cluster AS INT) AS cluster, n,
         | round(ssum / n, 6) AS mean_silhouette FROM g""".stripMargin),

    Query("dedup_embedding", (s, d) =>
      SimilarityOps.embeddingNearDups(plantedCorpus(s, d), threshold = 0.99),
      // exact brute-force mirror over corpus ∪ planted vectors: the planted
      // identical pairs are guaranteed same-bucket in the LSH path, so the
      // hash match now proves presence (2 pairs) as well as absence of false
      // positives across all organic pairs. (Valid while no LSH bucket
      // exceeds maxBucket=2000 — trivially true at 505 vectors; the cap's
      // recall trade is documented on embeddingNearDups.)
      s"""WITH base AS (
         |$plantedCorpusSql)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | round(${cosSql("a.emb", "b.emb")}, 4) AS sim
         |FROM base a JOIN base b ON a.vec_id < b.vec_id
         |WHERE ${cosSql("a.emb", "b.emb")} >= 0.99""".stripMargin),

    Query("dedup_semantic", (s, d) => {
      // SemDeDup composition: k-means clusters + within-cluster cosine
      // pruning (DedupOps.semanticDedup). Same planted near-identical
      // vectors as dedup_embedding — the organic corpus has no pair
      // ≥ 0.99, so without them the gate would only prove absence.
      val emb = plantedCorpus(s, d)
        .withColumn("embedding", col("embedding").cast("array<double>"))
      DedupOps.semanticDedup(emb, k = 8, iters = 2, threshold = 0.99)
    },
      // SemDeDup replay: the same planted-union base as dedup_embedding,
      // the same deterministic Lloyd chain as cluster_kmeans (sharded
      // init, 2 assign rounds, argmax ties to the lower cluster — the
      // ranking is ulp-robust, proven by cluster_kmeans), then the keep
      // rule: drop iff a smaller-id same-cluster vector has exact-fold
      // cosine ≥ 0.99 (cosSql mirrors SimilarityOps.cosine bit-for-bit)
      semDedupSql("8")),

    Query("dedup_lsh_curve", (s, _) => {
      // the banding S-curve table the MinHash family is TUNED with:
      // P(candidate | Jaccard s) = 1 − (1 − s^r)^b for every (b, r)
      // split of the 8-hash signature across a Jaccard grid — the
      // threshold-selection artifact (b=4,r=2's midpoint sits near the
      // 0.4–0.5 thresholds the dedup gates use). Pure arithmetic on a
      // 36-cell grid; powers are REPEATED-MULTIPLY folds (not libm
      // pow), so both engines walk identical IEEE sequences.
      import s.implicits._
      val grid = (1 to 9).map(_ / 10.0)
      val brs = Seq((1, 8), (2, 4), (4, 2), (8, 1))
      val rows = for (sj <- grid; (b, r) <- brs) yield (sj, b, r)
      rows.toDF("s", "b", "r")
        .withColumn("sr", aggregate(sequence(lit(1), col("r")),
          lit(1.0d), (acc, _) => acc * col("s")))
        .withColumn("p", round(lit(1.0) -
          aggregate(sequence(lit(1), col("b")), lit(1.0d),
            (acc, _) => acc * (lit(1.0) - col("sr"))), 6))
        .select(col("s"), col("b"), col("r"), col("p"))
    },
      // repeated-multiply folds for s^r and (1-s^r)^b — no libm pow
      """WITH g AS (SELECT i / 10.0::DOUBLE AS s
        |           FROM unnest(generate_series(1, 9)) t(i)),
        |br AS (SELECT * FROM (VALUES (1, 8), (2, 4), (4, 2), (8, 1))
        |       t(b, r)),
        |x AS (SELECT s, b, r,
        |   list_reduce(list_prepend(1.0::DOUBLE,
        |     list_transform(generate_series(1, r), k -> s)),
        |     (acc, v) -> acc * v) AS sr
        |  FROM g, br),
        |y AS (SELECT s, b, r, sr,
        |   list_reduce(list_prepend(1.0::DOUBLE,
        |     list_transform(generate_series(1, b), k -> 1.0::DOUBLE - sr)),
        |     (acc, v) -> acc * v) AS q
        |  FROM x)
        |SELECT s, CAST(b AS INT) AS b, CAST(r AS INT) AS r,
        | round(1.0::DOUBLE - q, 6) AS p
        |FROM y""".stripMargin),

    Query("dedup_semantic_auto", (s, d) => {
      // the k ∝ √N SemDeDup default (DedupOps.semanticDedupAuto): same
      // planted pairs and threshold as dedup_semantic, but k = ⌈√N⌉
      // from a cheap count — the shape whose within-cluster pair work
      // stays Θ(N) as the corpus grows (the fixed-k query measured 28×
      // at ×10 data; this one is the scale default). The oracle replays
      // the SAME ⌈√N⌉ inside SQL, so k-agreement is part of the gate.
      val emb = plantedCorpus(s, d)
        .withColumn("embedding", col("embedding").cast("array<double>"))
      DedupOps.semanticDedupAuto(emb, iters = 2, threshold = 0.99)
    },
      // identical Lloyd replay, but k is the ⌈√N⌉ the engine derives from
      // its own count — the oracle recomputes it from base, so the gate
      // also proves the two engines agree on N and therefore on k
      semDedupSql(
      "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM base)")),

    Query("dedup_semantic_approx", (s, d) => {
      // SemDeDup's true-100 TB rung: the flat k = ⌈√N⌉ assignment is
      // O(N·k) = O(N^1.5) cosine work — the real scale bottleneck once
      // pair work is already Θ(N). ClusterOps.twoLevelAssign routes
      // vectors through g = ⌈√k⌉ super-cells (O(N·√k)); this row is
      // the ann_recall discipline applied to dedup — one audit row of
      // assignment agreement + dropped-set recall vs the exact flat
      // argmax, so the approximation's cost is always measured, never
      // assumed. Same planted dups + threshold as dedup_semantic_auto.
      val emb = plantedCorpus(s, d)
        .withColumn("embedding", col("embedding").cast("array<double>"))
        .localCheckpoint(eager = false)
      val n = emb.count()
      val k = math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt
      val g = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      val (cents, asnE) = ClusterOps.kmeansModel(
        emb.select(col("vec_id"), col("embedding")), k, iters = 2)
      val exact = asnE.localCheckpoint(eager = false)
      val approx = ClusterOps.twoLevelAssign(emb, cents, g)
        .localCheckpoint(eager = false)
      def dropped(asn: DataFrame) = {
        val v2 = emb.join(asn, "vec_id")
        val a = v2.select(col("cluster"), col("vec_id").as("id_a"),
          col("embedding").as("emb_a"))
        val b = v2.select(col("cluster"), col("vec_id").as("id_b"),
          col("embedding").as("emb_b"))
        a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
          .filter(SimilarityOps.cosine(col("emb_a"), col("emb_b")) >= 0.99)
          .select(col("id_b").as("vec_id")).distinct()
      }
      // r18 optimization (guide §1/§2.4): the three dropped-set counts
      // ran as three separate aggregate+crossJoin subtrees over two
      // eagerly-checkpointed drop sets (JobProbe: 61 jobs for this row,
      // ~0 MB shuffled — scheduling floor, not data). One full-outer
      // join computes |E|, |A| and |E∩A| in a single pass, each drop
      // set has exactly one consumer (so no checkpoint at all), and the
      // identical exact/approx chains feed the same counts.
      val dstats = dropped(exact).withColumn("e", lit(1L))
        .join(dropped(approx).withColumn("a", lit(1L)),
          Seq("vec_id"), "full_outer")
        // coalesce around each sum (r18 ADVICE): with BOTH drop sets
        // empty the full-outer join has zero rows and a bare sum()
        // would emit NULL where the oracle's count(*) emits 0 — a
        // latent data-dependent mismatch (non-empty on all shipped SFs,
        // so hashes are unchanged by this guard)
        .agg(coalesce(sum(coalesce(col("e"), lit(0L))), lit(0L))
            .as("n_dropped_exact"),
          coalesce(sum(coalesce(col("a"), lit(0L))), lit(0L))
            .as("n_dropped_approx"),
          coalesce(sum(when(col("e").isNotNull && col("a").isNotNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_dropped_both"))
      val agree = exact
        .join(approx.withColumnRenamed("cluster", "ca"), "vec_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("cluster") === col("ca"), 1L).otherwise(0L))
            .as("n_agree"))
      agree
        .crossJoin(broadcast(dstats))
        .select(col("n_vecs"), lit(k).as("k"), lit(g).as("g"),
          col("n_agree"),
          round(col("n_agree").cast("double") / col("n_vecs"), 4)
            .as("agree_frac"),
          col("n_dropped_exact"), col("n_dropped_approx"),
          col("n_dropped_both"),
          round(col("n_dropped_both").cast("double") /
            greatest(col("n_dropped_exact"), lit(1L)), 4).as("drop_recall"))
    },
      semDedupApproxSql),

    Query("dedup_url", (s, _) => {
      import s.implicits._
      // URL canonical-identity dedup (TextAnalysisOps.canonicalizeUrl):
      // the re-crawl grouping rule — scheme/fragment/query dropped, host
      // case-folded and de-www'd, trailing slash stripped, path case
      // PRESERVED. The fixture drives each rule: 1/2/3/6 collapse, 4
      // stays (path case), 5 stays (subdomain), 7/8 collapse (query vs
      // trailing slash). At 100 TB this is one hash groupBy on the
      // canonical string — the cheapest dedup family member.
      val urls = Seq(
        (1L, "https://WWW.Example.com/Path/Article?utm=x#frag"),
        (2L, "https://example.com/Path/Article"),
        (3L, "http://example.com/Path/Article/"),
        (4L, "https://example.com/path/article"),
        (5L, "https://sub.example.com/Path/Article"),
        (6L, "HTTP://WWW.EXAMPLE.COM/Path/Article#x"),
        (7L, "https://example.com/other?q=1"),
        (8L, "https://example.com/other/")
      ).toDF("fid", "url")
      val canon = urls.select(col("fid"),
        TextAnalysisOps.canonicalizeUrl(col("url")).as("canon"))
      val keepers = canon.groupBy("canon").agg(min("fid").as("keep_id"))
      canon.join(keepers, Seq("canon"))
        .select(col("fid"), col("canon"),
          (col("fid") === col("keep_id")).as("keep"),
          when(col("fid") =!= col("keep_id"), col("keep_id")).as("dup_of"))
    },
      // the canonicalization chain mirrored stepwise: fragment → query →
      // scheme → host fold (+ de-www) ⊕ trailing-slash-stripped path
      """WITH u(fid, url) AS (VALUES
        | (1, 'https://WWW.Example.com/Path/Article?utm=x#frag'),
        | (2, 'https://example.com/Path/Article'),
        | (3, 'http://example.com/Path/Article/'),
        | (4, 'https://example.com/path/article'),
        | (5, 'https://sub.example.com/Path/Article'),
        | (6, 'HTTP://WWW.EXAMPLE.COM/Path/Article#x'),
        | (7, 'https://example.com/other?q=1'),
        | (8, 'https://example.com/other/')),
        |s1 AS (SELECT fid, split_part(split_part(url, '#', 1), '?', 1) AS nq
        |       FROM u),
        |s2 AS (SELECT fid,
        |   regexp_replace(nq, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        |  FROM s1),
        |c AS (SELECT fid,
        |   regexp_replace(lower(regexp_extract(rest, '^[^/]*')), '^www\.', '')
        |   || regexp_replace(regexp_replace(rest, '^[^/]*', ''), '/+$', '')
        |     AS canon
        |  FROM s2),
        |k AS (SELECT canon, min(fid) AS keep_id FROM c GROUP BY 1)
        |SELECT CAST(c.fid AS BIGINT) AS fid, canon, c.fid = keep_id AS keep,
        | CAST(CASE WHEN c.fid <> keep_id THEN keep_id END AS BIGINT) AS dup_of
        |FROM c JOIN k USING (canon)""".stripMargin),

    Query("dedup_normalized", (s, d) => {
      import s.implicits._
      // dedup on the NORMALIZED text (lowercase, digit runs → <num>,
      // whitespace collapsed — the text_num_normalize kernel): catches
      // near-copies that differ only in case, spacing, or numbers
      // (timestamps, view counters), which exact dedup misses and
      // MinHash doesn't need. The planted trio collapses to one keeper;
      // organic docs keep their exact-dedup grouping (word-soup text
      // has no digits, so normalization there is just lowercase).
      val planted = Seq(
        (9200001L, "Breaking News 2024: markets up 500 points"),
        (9200002L, "breaking news 2025:  markets up  700 points"),
        (9200003L, "BREAKING NEWS 9999: Markets UP 1 points"),
        (9200004L, "an entirely different planted document")
      ).toDF("doc_id", "text")
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), lit("[0-9]+"), lit("<num>")),
        lit("\\s+"), lit(" ")))
      t(s, d, "documents").select("doc_id", "text").unionByName(planted)
        .select(col("doc_id"), md5(norm).as("norm_hash"))
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy("norm_hash")))
        .select(col("doc_id"), col("norm_hash"),
          (col("doc_id") === col("keep_id")).as("keep"))
    },
      // normalized-text grouping: the text_num_normalize kernel feeding a
      // min-id keep
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT CAST(col0 AS BIGINT), col1 FROM (VALUES
        |   (9200001, 'Breaking News 2024: markets up 500 points'),
        |   (9200002, 'breaking news 2025:  markets up  700 points'),
        |   (9200003, 'BREAKING NEWS 9999: Markets UP 1 points'),
        |   (9200004, 'an entirely different planted document')) t),
        |n AS (SELECT doc_id, md5(trim(regexp_replace(
        |   regexp_replace(lower(text), '[0-9]+', '<num>', 'g'),
        |   '\s+', ' ', 'g'))) AS norm_hash FROM base),
        |k AS (SELECT norm_hash, min(doc_id) AS keep_id FROM n GROUP BY 1)
        |SELECT doc_id, norm_hash, doc_id = keep_id AS keep
        |FROM n JOIN k USING (norm_hash)""".stripMargin)
  )
}
