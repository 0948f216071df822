package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.Knn
import graft.dedup.DedupOps
import graft.functions.{TextFns, VectorFns}
import graft.multimodal.BinaryOps
import graft.operators._

import SparkEntry._

/** QueriesDedup registry — the `d`-prefixed SparkEntry queries and their oracle SQL
  * (exact/near dedup, spans, decontamination). Split from SparkEntry.scala for hygiene; query ids and
  * bodies are unchanged, and SparkEntry merges every family registry
  * back into the single driver-contract maps.
  */
// scalastyle:off
private[graft] object QueriesDedup {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // sparse TF-IDF cosine pairs over a trigram inverted index (the
    // sparse-vector sibling of d06's dense embedding near-dup)
    "d11_sparse_cosine" -> ((s, d) =>
      DedupOps.tfidfCosinePairs(docs(s, d), "doc_id", "text",
        shingleN = 3, threshold = 0.5)),


    // incremental near-dup: the 20% "new batch" (doc_id % 5 = 0) against
    // the 80% "existing index" — candidates are new×index only
    "d12_incremental_neardup" -> ((s, d) => {
      val all = docs(s, d)
      DedupOps.nearDupAgainstIndex(
        all.filter(col("doc_id") % 5 === 0),
        all.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", shingleN = 3, k = 12, bands = 6, threshold = 0.5)
    }),


    // end-to-end dedup survivor list: LSH pairs → components → drop
    // non-canonical members; untouched docs bypass the component step
    "d10_dedup_keep" -> ((s, d) => {
      // survivor list off the shared component map: drop every
      // non-canonical member, untouched docs stream through the anti-join
      val victims = dupComps(s, d)
        .filter(col("doc_id") =!= col("canonical_id"))
        .select("doc_id")
      docs(s, d).join(victims, Seq("doc_id"), "left_anti")
        .select("doc_id")
    }),


    // benchmark decontamination: corpus docs sharing any 5-gram shingle
    // with the held-out "benchmark" slice (doc_id % 37 = 0)
    "d09_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      DedupOps.decontaminate(
        all.filter(col("doc_id") % 37 =!= 0),
        all.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", n = 5)
    }),


    // ---------------- deduplication ----------------
    "d01_exact_dedup" -> ((s, d) =>
      DedupOps.exactGroups(docs(s, d), "doc_id", "text")),


    // k=6 signatures projected off the pinned family shingle frame (the
    // shingle build is the shared cost; the md5-min lanes are map-only)
    "d02_minhash_sig" -> ((s, d) =>
      DedupOps.signaturesFromShingles(dupShingles(s, d), "doc_id", k = 6)),


    // the shared verified-pair frame IS d03's output (one LSH build per
    // pass for the whole d-family instead of one per query)
    "d03_lsh_neardup" -> ((s, d) => dupPairs(s, d)),


    // MinHash estimator audit: signature-agreement ĵ next to the exact
    // Jaccard with signed error per LSH candidate — the "is k big
    // enough" report before trusting ĵ as the verify shortcut at scale
    "d20_minhash_estimate" -> ((s, d) =>
      DedupOps.minhashEstimateFrom(dupShingles(s, d), dupCands(s, d),
        "doc_id", k = 12)),


    "d04_simhash" -> ((s, d) =>
      DedupOps.simhash32(docs(s, d), "doc_id", "text")),


    "d05_jaccard_pairs" -> ((s, d) => dupJacAll(s, d)),


    // asymmetric containment (quote-inclusion detector): |A∩B| / |smaller
    // side| gate, both directions reported — Jaccard misses short-in-long
    "d14_containment_pairs" -> ((s, d) =>
      DedupOps.containmentPairs(dupShingles(s, d), "doc_id", 0.6)),


    "d07_simhash_neardup" -> ((s, d) =>
      DedupOps.simhashNearDups(docs(s, d), "doc_id", "text", bandBits = 8, maxHamming = 6)),


    "d06_embedding_neardup" -> ((s, d) => {
      graft.expressions.GraftFunctions.register(s)
      DedupOps.embeddingNearDups(emb(s, d), "vec_id", "embedding", "label", 0.4,
        simFn = (a, b) => call_function("cosine_sim", a, b))
    }),


    // dedup group collapse: pairwise near-dup evidence → connected
    // components → one canonical id per member doc
    "d08_dedup_components" -> ((s, d) => dupComps(s, d)),


    // RefinedWeb/CCNet-style segment-level boilerplate removal: aligned
    // 4-token segments occurring ≥2 times corpus-wide are dropped from
    // every doc; docs are reassembled from the survivors in order
    "d13_segment_dedup" -> ((s, d) =>
      DedupOps.dropDuplicateSegments(docs(s, d), "doc_id", "text",
        w = 4, minDup = 2L)),


    // sorted-neighborhood near-dup pairs (Hernández–Stolfo SNM): sort-order
    // locality blocking — catches the typo/truncation near-identicals the
    // shingle methods' content-overlap blocking is blind to
    "d15_sorted_neighborhood" -> ((s, d) =>
      DedupOps.sortedNeighborhood(docs(s, d), "doc_id", "text",
        window = 3, maxDist = 16)),


    // LSH banding quality audit: candidate pairs vs exact-Jaccard truth
    // at the d03 dials — the recall/precision report that tunes
    // (k, bands) before a full-corpus run
    "d16_lsh_recall" -> ((s, d) =>
      DedupOps.lshRecallFrom(dupJacAll(s, d).select("id_a", "id_b"),
        dupCands(s, d))),


    // dedup report: near-dup cluster-size histogram (incl. the singleton
    // bucket via anti-join) — the "how much of the corpus is duplicated,
    // and in what clump sizes" summary every dedup run ships with
    "d18_cluster_sizes" -> ((s, d) => {
      val comp = dupComps(s, d)
      val hist = comp.groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
      val singles = docs(s, d)
        .join(comp.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .agg(lit(1L).as("cluster_size"), count(lit(1)).as("n_clusters"))
      hist.unionByName(singles)
    }),


    // SemDeDup (Abbas et al. 2023): fixed-centroid coarse clustering
    // bounds the pairwise cosine search to within-cluster pairs; drop
    // every vector with a lower-id cluster-mate at sim ≥ 0.4. Assignment
    // reuses the v03b portable argmin; the threshold compare rides the
    // same raw-double cosine d06 proved engine-portable
    "d19_semdedup" -> ((s, d) => {
      graft.expressions.GraftFunctions.register(s)
      DedupOps.semanticDedup(emb(s, d), "vec_id", "embedding",
        semCentroids, 0.4,
        simFn = (a, b) => call_function("cosine_sim", a, b))
    }),


    // ExactSubstr duplication coverage (Lee et al. 2022): fraction of
    // each doc's tokens covered by a 5-gram occurring ≥2× corpus-wide;
    // equal-length spans make the interval union one lead() window
    "d21_dupspan_coverage" -> ((s, d) =>
      QualityOps.dupSpanCoverage(docs(s, d), "doc_id", "text", k = 5)),


    // TRUE ExactSubstr (Lee et al. 2022): arbitrary-length maximal
    // duplicated spans via the sorted-suffix neighborhood — candidate
    // positions from the d21 inverted index, 64-token suffix prefixes
    // globally ranked, adjacent-LCP = exact maximal duplicated length,
    // overlap-only island union per doc
    "d22_exactsubstr_spans" -> ((s, d) =>
      QualityOps.exactSubstrSpans(spanProf(s, d))),


    // cross-doc attribution of duplicated spans: rank-adjacent suffix
    // pairs with LCP >= 5 from different docs, normalized and grouped —
    // which pairs share verbatim material and their longest shared span
    "d23_dupspan_pairs" -> ((s, d) =>
      QualityOps.dupSpanPairs(spanProf(s, d))),


    // cluster-level closure of d23: the adjacent-pair graph through d08's
    // connected components, so >=3-doc duplication clusters report every
    // member mutually attributed (rank adjacency alone only yields a
    // spanning set) — doc -> (cluster, size, longest shared span)
    "d25_dupspan_clusters" -> ((s, d) =>
      QualityOps.dupSpanClusters(spanProf(s, d))),


    // the keep-one scrub policy: the span-cluster representative (min
    // doc id) keeps its text, every other member is fully scrubbed —
    // one suffix rank feeds islands AND pairs, closure via d08
    "d26_span_scrub_keepone" -> ((s, d) =>
      QualityOps.exactSubstrScrubKeepOne(spanProf(s, d))),


    // span-level decontamination (the d09 split: every 37th doc is the
    // benchmark): eval docs sharing a verbatim >=5-token span with ANY
    // train doc, via the cluster closure so recall survives the
    // rank-adjacency spanning-set gap — per eval doc: train partners,
    // longest cluster span, contaminated flag
    "d27_span_decontaminate" -> ((s, d) => {
      // the eval marker is a pure function of doc_id, so it projects off
      // the profile's pinned token frame — the single-scan discipline
      // (PlanQualitySpec: no FileScan in the final plan) survives sharing
      val p = spanProf(s, d)
      QualityOps.spanDecontaminate(p,
        p.toks.select(col("doc_id"),
          (col("doc_id") % 37 === 0).as("__eval")))
    }),


    // ExactSubstr span REMOVAL (Lee et al. 2022's actual transform):
    // d22's duplicated islands dropped from every document, survivors
    // re-joined — one positional filter per doc, no token-level join
    "d24_span_scrub" -> ((s, d) =>
      QualityOps.exactSubstrScrub(spanProf(s, d)))
  )

  def oracles: Map[String, String] = Map(

    // the d10 minhash/LSH/verify/components construction + a size
    // histogram and the singleton bucket
    "d18_cluster_sizes" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
                   FROM cand c JOIN ex a ON a.doc_id = c.id_a
                     JOIN ex b ON b.doc_id = c.id_b AND b.sg = a.sg
                   GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5),
         und AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM und
           UNION
           SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
                  FROM reach GROUP BY a),
         h AS (SELECT s AS cluster_size,
                      CAST(COUNT(*) AS BIGINT) AS n_clusters
               FROM (SELECT canonical_id, COUNT(*) AS s FROM comp
                     GROUP BY 1)
               GROUP BY 1),
         si AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
                       CAST(COUNT(*) AS BIGINT) AS n_clusters
                FROM documents
                WHERE doc_id NOT IN (SELECT doc_id FROM comp))
         SELECT * FROM h UNION ALL SELECT * FROM si""",


    // v03b's portable argmin assignment against the 16 patterned
    // centroids, then within-cluster pairwise cosine at the raw-double
    // threshold d06 proved engine-portable
    "d19_semdedup" ->
      s"""WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
          c(cluster, cv) AS (VALUES $semCentroidsSqlValues),
          dd AS (SELECT vec_id, v, cluster,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                          LIST_SUM(LIST_TRANSFORM(range(1, 65),
                            i -> (v[i] - CAST(cv[i] AS DOUBLE)) * (v[i] - CAST(cv[i] AS DOUBLE)))) ASC,
                          cluster ASC) AS rn
                 FROM e CROSS JOIN c),
          asg AS (SELECT vec_id, v, cluster FROM dd WHERE rn = 1),
          dup AS (SELECT DISTINCT b.vec_id
                  FROM asg a JOIN asg b
                    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                  WHERE LIST_DOT_PRODUCT(a.v, b.v)
                        / (SQRT(LIST_DOT_PRODUCT(a.v, a.v))
                           * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) >= 0.4)
          SELECT asg.vec_id, CAST(asg.cluster AS INTEGER) AS cluster,
                 CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
          FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id""",


    "d11_sparse_cosine" ->
      """WITH t AS (
           SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         toks AS (
           SELECT doc_id, UNNEST(CASE WHEN LEN(toks) >= 3 THEN
             LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [] END) AS term
           FROM t),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n FROM documents),
         wts AS (SELECT doc_id, term,
                        tf * (LN((n + 1.0) / (df + 1.0)) + 1.0) AS w
                 FROM tf JOIN dfq USING (term) CROSS JOIN n),
         norms AS (SELECT doc_id, SQRT(SUM(w * w)) AS nrm FROM wts GROUP BY 1),
         dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dp
                  FROM wts a JOIN wts b
                    ON a.term = b.term AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
         SELECT id_a, id_b, ROUND(dp / (na.nrm * nb.nrm), 6) + 0.0 AS sim
         FROM dots
         JOIN norms na ON na.doc_id = id_a
         JOIN norms nb ON nb.doc_id = id_b
         WHERE dp / (na.nrm * nb.nrm) >= 0.5""",


    "d12_incremental_neardup" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key
                  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT c.id_new, c.id_old, COUNT(*) AS cnt
                   FROM cand c JOIN ex a ON a.doc_id = c.id_new
                     JOIN ex b ON b.doc_id = c.id_old AND b.sg = a.sg
                   GROUP BY 1, 2)
         SELECT id_new, id_old,
                ROUND(cnt * 1.0 / (sa.n + sb.n - cnt), 6) + 0.0 AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = id_new
         JOIN sizes sb ON sb.doc_id = id_old
         WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5""",


    "d10_dedup_keep" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
                   FROM cand c JOIN ex a ON a.doc_id = c.id_a
                     JOIN ex b ON b.doc_id = c.id_b AND b.sg = a.sg
                   GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5),
         und AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM und
           UNION
           SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
                  FROM reach GROUP BY a)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> canonical_id)""",


    "d09_decontaminate" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 5 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 4),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                        toks[i+3] || ' ' || toks[i+4]))
                 ELSE [] END AS sh FROM t),
         corpus AS (SELECT DISTINCT doc_id, UNNEST(sh) AS sg FROM s
                    WHERE doc_id % 37 <> 0),
         bench AS (SELECT DISTINCT UNNEST(sh) AS sg FROM s WHERE doc_id % 37 = 0),
         shared AS (SELECT c.doc_id, COUNT(*) AS n_shared
                    FROM corpus c JOIN bench b ON b.sg = c.sg
                    GROUP BY 1)
         SELECT d.doc_id, COALESCE(n_shared, 0) AS n_shared,
                CASE WHEN COALESCE(n_shared, 0) > 0 THEN 1 ELSE 0 END AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 37 <> 0) d
         LEFT JOIN shared USING (doc_id)""",


    "d01_exact_dedup" ->
      """SELECT MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp,
                CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
                CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM documents GROUP BY 1""",


    "d02_minhash_sig" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t)
         SELECT doc_id,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS mh00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS mh01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS mh02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS mh03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS mh04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS mh05
         FROM s""",


    "d03_lsh_neardup" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
                   FROM cand c JOIN ex a ON a.doc_id = c.id_a
                     JOIN ex b ON b.doc_id = c.id_b AND b.sg = a.sg
                   GROUP BY 1, 2)
         SELECT id_a, id_b, ROUND(cnt * 1.0 / (sa.n + sb.n - cnt), 6) + 0.0 AS jaccard
         FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5""",


    // d03's signature/cand CTEs + per-lane string-equality agreement;
    // est, jaccard, and err assembled with the engine's exact ops
    "d20_minhash_estimate" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         agr AS (SELECT c.id_a, c.id_b,
                        (CASE WHEN x.m00 = y.m00 THEN 1 ELSE 0 END
                       + CASE WHEN x.m01 = y.m01 THEN 1 ELSE 0 END
                       + CASE WHEN x.m02 = y.m02 THEN 1 ELSE 0 END
                       + CASE WHEN x.m03 = y.m03 THEN 1 ELSE 0 END
                       + CASE WHEN x.m04 = y.m04 THEN 1 ELSE 0 END
                       + CASE WHEN x.m05 = y.m05 THEN 1 ELSE 0 END
                       + CASE WHEN x.m06 = y.m06 THEN 1 ELSE 0 END
                       + CASE WHEN x.m07 = y.m07 THEN 1 ELSE 0 END
                       + CASE WHEN x.m08 = y.m08 THEN 1 ELSE 0 END
                       + CASE WHEN x.m09 = y.m09 THEN 1 ELSE 0 END
                       + CASE WHEN x.m10 = y.m10 THEN 1 ELSE 0 END
                       + CASE WHEN x.m11 = y.m11 THEN 1 ELSE 0 END)
                          AS lanes
                 FROM cand c JOIN sig x ON x.doc_id = c.id_a
                      JOIN sig y ON y.doc_id = c.id_b),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
                   FROM cand c JOIN ex a ON a.doc_id = c.id_a
                     JOIN ex b ON b.doc_id = c.id_b AND b.sg = a.sg
                   GROUP BY 1, 2)
         SELECT agr.id_a, agr.id_b, CAST(lanes AS BIGINT) AS lanes_agree,
                ROUND(CAST(lanes AS DOUBLE) / 12, 6) + 0.0 AS est,
                ROUND(CAST(COALESCE(cnt, 0) AS DOUBLE)
                  / CAST(sa.n + sb.n - COALESCE(cnt, 0) AS DOUBLE), 6) + 0.0
                  AS jaccard,
                ROUND(CAST(lanes AS DOUBLE) / 12
                  - CAST(COALESCE(cnt, 0) AS DOUBLE)
                    / CAST(sa.n + sb.n - COALESCE(cnt, 0) AS DOUBLE), 6)
                  + 0.0 AS err
         FROM agr
         LEFT JOIN inter ON inter.id_a = agr.id_a AND inter.id_b = agr.id_b
         JOIN sizes sa ON sa.doc_id = agr.id_a
         JOIN sizes sb ON sb.doc_id = agr.id_b""",


    "d04_simhash" ->
      """WITH toks AS (
           SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
           FROM documents),
         votes AS (
           SELECT doc_id, p,
                  SUM(CASE WHEN CAST(FLOOR(
                        (STRPOS('0123456789abcdef',
                           SUBSTR(MD5(tok), 1 + CAST(FLOOR(p / 4) AS INTEGER), 1)) - 1)
                        / POWER(2, 3 - (p % 4))) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS vote
           FROM toks CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS p)
           GROUP BY 1, 2)
         SELECT doc_id,
                STRING_AGG(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS simhash
         FROM votes GROUP BY doc_id""",


    "d05_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS cnt
                   FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b, ROUND(cnt * 1.0 / (sa.n + sb.n - cnt), 6) + 0.0 AS jaccard
         FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5""",


    "d14_containment_pairs" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS cnt
                   FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b,
                ROUND(cnt * 1.0 / sa.n, 6) + 0.0 AS containment_a,
                ROUND(cnt * 1.0 / sb.n, 6) + 0.0 AS containment_b
         FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         WHERE cnt * 1.0 / LEAST(sa.n, sb.n) >= 0.6""",


    "d07_simhash_neardup" ->
      """WITH toks AS (
           SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
           FROM documents),
         votes AS (
           SELECT doc_id, p,
                  SUM(CASE WHEN CAST(FLOOR(
                        (STRPOS('0123456789abcdef',
                           SUBSTR(MD5(tok), 1 + CAST(FLOOR(p / 4) AS INTEGER), 1)) - 1)
                        / POWER(2, 3 - (p % 4))) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END) AS vote
           FROM toks CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS p)
           GROUP BY 1, 2),
         sim AS (
           SELECT doc_id,
                  STRING_AGG(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY p)
                    AS simhash
           FROM votes GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sa, b.simhash AS sb
           FROM sim a JOIN sim b
             ON SUBSTR(a.simhash, 1, 8) = SUBSTR(b.simhash, 1, 8) AND a.doc_id < b.doc_id),
         ham AS (
           SELECT id_a, id_b,
                  SUM(CASE WHEN SUBSTR(sa, i, 1) <> SUBSTR(sb, i, 1) THEN 1 ELSE 0 END) AS h
           FROM pairs CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 32)) AS i)
           GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(h AS INTEGER) AS hamming FROM ham WHERE h <= 6""",


    "d06_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, label, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                ROUND(LIST_DOT_PRODUCT(a.v, b.v)
                  / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 6) + 0.0
                  AS sim
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE LIST_DOT_PRODUCT(a.v, b.v)
               / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) >= 0.4""",


    "d08_dedup_components" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS cnt
                   FROM cand c JOIN ex a ON a.doc_id = c.id_a
                     JOIN ex b ON b.doc_id = c.id_b AND b.sg = a.sg
                   GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
           WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5),
         und AS (SELECT id_a AS a, id_b AS b FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT a, b FROM und
           UNION
           SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
         SELECT a AS doc_id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS canonical_id
         FROM reach GROUP BY a""",


    "d13_segment_dedup" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         segs AS (SELECT doc_id,
                    UNNEST(GENERATE_SERIES(0, CAST(FLOOR((LEN(toks) - 1) / 4.0) AS INT))) AS seg_idx,
                    UNNEST(LIST_TRANSFORM(GENERATE_SERIES(0, CAST(FLOOR((LEN(toks) - 1) / 4.0) AS INT)),
                      i -> ARRAY_TO_STRING(toks[i*4+1 : i*4+4], ' '))) AS seg
                  FROM t),
         c AS (SELECT seg, COUNT(*) AS c FROM segs GROUP BY 1)
         SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
                CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                COALESCE(STRING_AGG(CASE WHEN c.c < 2 THEN s.seg END, ' ' ORDER BY s.seg_idx), '')
                  AS clean_text
         FROM segs s JOIN c USING (seg) GROUP BY s.doc_id""",


    // same (key, id)-total-ordered neighborhood: ROW_NUMBER stands in for
    // the two-phase global rank, BETWEEN for the anchor explode — both
    // enumerate exactly the `window` forward neighbors per row
    "d15_sorted_neighborhood" ->
      """WITH k AS (SELECT doc_id,
                           substr(regexp_replace(lower(text), '\s+', ' ', 'g'),
                             1, 64) AS key
                    FROM documents),
         r AS (SELECT doc_id, key,
                      ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rn
               FROM k)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(levenshtein(a.key, b.key) AS INT) AS dist
         FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
         WHERE levenshtein(a.key, b.key) <= 16""",


    // reuses the d03 minhash/banding stack for candidates and the d05
    // inverted index for truth — both sides share one shingle CTE
    "d16_lsh_recall" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         sig AS (SELECT doc_id, sh,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('0:' || x))) AS m00,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('1:' || x))) AS m01,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('2:' || x))) AS m02,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('3:' || x))) AS m03,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('4:' || x))) AS m04,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('5:' || x))) AS m05,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('6:' || x))) AS m06,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('7:' || x))) AS m07,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('8:' || x))) AS m08,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('9:' || x))) AS m09,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('10:' || x))) AS m10,
                LIST_MIN(LIST_TRANSFORM(sh, x -> MD5('11:' || x))) AS m11
           FROM s),
         bands AS (
           SELECT doc_id, 0 AS band, MD5(m00 || '|' || m01) AS band_key FROM sig
           UNION ALL SELECT doc_id, 1, MD5(m02 || '|' || m03) FROM sig
           UNION ALL SELECT doc_id, 2, MD5(m04 || '|' || m05) FROM sig
           UNION ALL SELECT doc_id, 3, MD5(m06 || '|' || m07) FROM sig
           UNION ALL SELECT doc_id, 4, MD5(m08 || '|' || m09) FROM sig
           UNION ALL SELECT doc_id, 5, MD5(m10 || '|' || m11) FROM sig),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_key = b.band_key
                       AND a.doc_id < b.doc_id
                  WHERE a.band_key IS NOT NULL),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         sizes AS (SELECT doc_id, LEN(sh) AS n FROM s),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS cnt
                   FROM ex a JOIN ex b
                     ON a.sg = b.sg AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         truth AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON sa.doc_id = id_a
                     JOIN sizes sb ON sb.doc_id = id_b
                   WHERE cnt * 1.0 / (sa.n + sb.n - cnt) >= 0.5),
         agg AS (SELECT
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
                   (SELECT CAST(COUNT(*) AS BIGINT)
                    FROM truth JOIN cand USING (id_a, id_b)) AS n_hit)
         SELECT n_truth, n_cand, n_hit,
                ROUND(CAST(n_hit AS DOUBLE) / n_truth, 6) + 0.0 AS recall,
                ROUND(CAST(n_hit AS DOUBLE) / n_cand, 6) + 0.0 AS precision
         FROM agg""",


    // ExactSubstr coverage: global 5-gram hash counts → duplicated start
    // positions → equal-length interval union via one LEAD window
    "d21_dupspan_coverage" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         tk AS (SELECT doc_id, toks, LEN(toks) AS n FROM t),
         gh AS (SELECT doc_id, n, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks, n,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT))) AS pos
                      FROM tk WHERE n >= 5)),
         dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         dp AS (SELECT gh.doc_id, gh.pos FROM gh JOIN dup USING (h)),
         cov AS (SELECT doc_id, pos,
                        LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
                 FROM dp),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
                        CAST(SUM(CASE WHEN nxt IS NULL THEN 5
                                      ELSE LEAST(5, nxt - pos) END) AS BIGINT)
                          AS covered
                 FROM cov GROUP BY 1)
         SELECT tk.doc_id, CAST(tk.n AS INT) AS n_toks,
                COALESCE(agg.n_dup_spans, 0) AS n_dup_spans,
                COALESCE(agg.covered, 0) AS covered_tokens,
                ROUND(COALESCE(agg.covered, 0) * 1.0 / tk.n, 6) + 0.0 AS coverage
         FROM tk LEFT JOIN agg USING (doc_id)""",


    // sorted-suffix neighborhood ExactSubstr: global suffix rank, LCP
    // with the adjacent suffix (max-LCP partner is always adjacent in
    // sorted order), overlap-only interval union — all exact integers
    "d22_exactsubstr_spans" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         tk AS (SELECT doc_id, toks, LEN(toks) AS n FROM t),
         gh AS (SELECT doc_id, toks, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks, n,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT))) AS pos
                      FROM tk WHERE n >= 5)),
         dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         cand AS (SELECT gh.doc_id, gh.pos,
                         toks[gh.pos + 1 : gh.pos + 64] AS sfx
                  FROM gh JOIN dup USING (h)),
         rk AS (SELECT doc_id, pos, sfx,
                       ROW_NUMBER() OVER (ORDER BY ARRAY_TO_STRING(sfx, ' '),
                                          doc_id, pos) AS rn
                FROM cand),
         nx AS (SELECT a.rn,
                       CAST(COALESCE(
                         LIST_MIN(LIST_FILTER(
                           GENERATE_SERIES(1, GREATEST(LEN(a.sfx), LEN(b.sfx))),
                           i -> NOT COALESCE(a.sfx[i] = b.sfx[i], FALSE))) - 1,
                         LEAST(LEN(a.sfx), LEN(b.sfx))) AS BIGINT) AS lcpn
                FROM rk a JOIN rk b ON b.rn = a.rn + 1),
         sp AS (SELECT r.doc_id, r.pos,
                       GREATEST(COALESCE(n1.lcpn, 0), COALESCE(n0.lcpn, 0))
                         AS len
                FROM rk r
                LEFT JOIN nx n1 ON n1.rn = r.rn
                LEFT JOIN nx n0 ON n0.rn = r.rn - 1
                WHERE GREATEST(COALESCE(n1.lcpn, 0), COALESCE(n0.lcpn, 0)) >= 5),
         il AS (SELECT doc_id, pos, len,
                       MAX(pos + len) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS rmax
                FROM sp),
         ili AS (SELECT doc_id, pos, len,
                        SUM(CASE WHEN rmax IS NULL OR pos >= rmax
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY pos) AS isl
                 FROM il),
         pis AS (SELECT doc_id, isl,
                        MAX(pos + len) - MIN(pos) AS slen
                 FROM ili GROUP BY 1, 2),
         pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
                       CAST(MAX(slen) AS BIGINT) AS max_span,
                       CAST(SUM(slen) AS BIGINT) AS covered
                FROM pis GROUP BY 1)
         SELECT tk.doc_id, CAST(tk.n AS INT) AS n_toks,
                COALESCE(pd.n_spans, 0) AS n_spans,
                COALESCE(pd.max_span, 0) AS max_span,
                COALESCE(pd.covered, 0) AS covered_tokens,
                ROUND(COALESCE(pd.covered, 0) * 1.0 / tk.n, 6) + 0.0 AS coverage
         FROM tk LEFT JOIN pd USING (doc_id)""",


    // d22's ranked-suffix adjacency with both doc ids kept: cross-doc
    // pairs with LCP >= 5, normalized, longest shared span per pair
    "d23_dupspan_pairs" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         tk AS (SELECT doc_id, toks, LEN(toks) AS n FROM t),
         gh AS (SELECT doc_id, toks, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks, n,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT))) AS pos
                      FROM tk WHERE n >= 5)),
         dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         cand AS (SELECT gh.doc_id, gh.pos,
                         toks[gh.pos + 1 : gh.pos + 64] AS sfx
                  FROM gh JOIN dup USING (h)),
         rk AS (SELECT doc_id, pos, sfx,
                       ROW_NUMBER() OVER (ORDER BY ARRAY_TO_STRING(sfx, ' '),
                                          doc_id, pos) AS rn
                FROM cand),
         nx AS (SELECT a.doc_id AS da, b.doc_id AS db,
                       CAST(COALESCE(
                         LIST_MIN(LIST_FILTER(
                           GENERATE_SERIES(1, GREATEST(LEN(a.sfx), LEN(b.sfx))),
                           i -> NOT COALESCE(a.sfx[i] = b.sfx[i], FALSE))) - 1,
                         LEAST(LEN(a.sfx), LEN(b.sfx))) AS BIGINT) AS lcpn
                FROM rk a JOIN rk b ON b.rn = a.rn + 1)
         SELECT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b,
                CAST(COUNT(*) AS BIGINT) AS n_adjacent,
                CAST(MAX(lcpn) AS BIGINT) AS max_shared_span
         FROM nx WHERE lcpn >= 5 AND da <> db
         GROUP BY 1, 2""",


    // d23's pair frame closed to clusters: recursive min-label closure
    // (the d08 pattern) over the undirected adjacent-pair graph, then
    // per-cluster size and max shared span re-attached per member
    "d25_dupspan_clusters" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
               FROM documents),
         tk AS (SELECT doc_id, toks, LEN(toks) AS n FROM t),
         gh AS MATERIALIZED (SELECT doc_id, toks, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks, n,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT))) AS pos
                      FROM tk WHERE n >= 5)),
         dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         cand AS MATERIALIZED (SELECT gh.doc_id, gh.pos,
                         toks[gh.pos + 1 : gh.pos + 64] AS sfx
                  FROM gh JOIN dup USING (h)),
         rk AS MATERIALIZED (SELECT doc_id, pos, sfx,
                       ROW_NUMBER() OVER (ORDER BY ARRAY_TO_STRING(sfx, ' '),
                                          doc_id, pos) AS rn
                FROM cand),
         nx AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db,
                       CAST(COALESCE(
                         LIST_MIN(LIST_FILTER(
                           GENERATE_SERIES(1, GREATEST(LEN(a.sfx), LEN(b.sfx))),
                           i -> NOT COALESCE(a.sfx[i] = b.sfx[i], FALSE))) - 1,
                         LEAST(LEN(a.sfx), LEN(b.sfx))) AS BIGINT) AS lcpn
                FROM rk a JOIN rk b ON b.rn = a.rn + 1),
         pr AS MATERIALIZED (SELECT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b,
                       CAST(MAX(lcpn) AS BIGINT) AS mss
                FROM nx WHERE lcpn >= 5 AND da <> db
                GROUP BY 1, 2),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pr
                 UNION SELECT doc_b, doc_a FROM pr),
         reach AS (SELECT a, b FROM und
                   UNION
                   SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         cc AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS canon
                FROM reach GROUP BY a),
         cs AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS cluster_size
                FROM cc GROUP BY 1),
         sp AS (SELECT c.canon, CAST(MAX(pr.mss) AS BIGINT) AS cluster_max_span
                FROM pr JOIN cc c ON c.doc_id = pr.doc_a GROUP BY 1)
         SELECT cc.doc_id, CAST(cc.canon AS BIGINT) AS cluster_id,
                cs.cluster_size, sp.cluster_max_span
         FROM cc JOIN cs ON cs.canon = cc.canon
         JOIN sp ON sp.canon = cc.canon""",


    // d22's island CTEs, then a positional anti-exists against the merged
    // intervals; survivors re-aggregate in token order
    "d24_span_scrub" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         tk AS (SELECT doc_id, toks, LEN(toks) AS n FROM t),
         gh AS (SELECT doc_id, toks, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks, n,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT))) AS pos
                      FROM tk WHERE n >= 5)),
         dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         cand AS (SELECT gh.doc_id, gh.pos,
                         toks[gh.pos + 1 : gh.pos + 64] AS sfx
                  FROM gh JOIN dup USING (h)),
         rk AS (SELECT doc_id, pos, sfx,
                       ROW_NUMBER() OVER (ORDER BY ARRAY_TO_STRING(sfx, ' '),
                                          doc_id, pos) AS rn
                FROM cand),
         nx AS (SELECT a.rn,
                       CAST(COALESCE(
                         LIST_MIN(LIST_FILTER(
                           GENERATE_SERIES(1, GREATEST(LEN(a.sfx), LEN(b.sfx))),
                           i -> NOT COALESCE(a.sfx[i] = b.sfx[i], FALSE))) - 1,
                         LEAST(LEN(a.sfx), LEN(b.sfx))) AS BIGINT) AS lcpn
                FROM rk a JOIN rk b ON b.rn = a.rn + 1),
         sp AS (SELECT r.doc_id, r.pos,
                       GREATEST(COALESCE(n1.lcpn, 0), COALESCE(n0.lcpn, 0))
                         AS len
                FROM rk r
                LEFT JOIN nx n1 ON n1.rn = r.rn
                LEFT JOIN nx n0 ON n0.rn = r.rn - 1
                WHERE GREATEST(COALESCE(n1.lcpn, 0), COALESCE(n0.lcpn, 0)) >= 5),
         il AS (SELECT doc_id, pos, len,
                       MAX(pos + len) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS rmax
                FROM sp),
         ili AS (SELECT doc_id, pos, len,
                        SUM(CASE WHEN rmax IS NULL OR pos >= rmax
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY pos) AS isl
                 FROM il),
         pis AS (SELECT doc_id, isl, MIN(pos) AS s, MAX(pos + len) AS e
                 FROM ili GROUP BY 1, 2),
         posn AS (SELECT doc_id, toks,
                         UNNEST(GENERATE_SERIES(0, CAST(n - 1 AS INT))) AS p
                  FROM tk WHERE n >= 1),
         kept AS (SELECT posn.doc_id, posn.p, posn.toks[posn.p + 1] AS tok
                  FROM posn
                  WHERE NOT EXISTS (SELECT 1 FROM pis i
                                    WHERE i.doc_id = posn.doc_id
                                      AND posn.p >= i.s AND posn.p < i.e))
         SELECT tk.doc_id, CAST(tk.n AS BIGINT) AS n_toks,
                CAST(COUNT(k.p) AS BIGINT) AS n_kept,
                COALESCE(STRING_AGG(k.tok, ' ' ORDER BY k.p), '') AS scrubbed
         FROM tk LEFT JOIN kept k USING (doc_id)
         GROUP BY tk.doc_id, tk.n""",


    // d24's scrub restricted to NON-representative cluster members: the
    // d25 recursive closure picks each cluster's min doc id, which keeps
    // its text; pis2 = islands of everyone else
    "d26_span_scrub_keepone" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
               FROM documents),
         tk AS (SELECT doc_id, toks, LEN(toks) AS n FROM t),
         gh AS MATERIALIZED (SELECT doc_id, toks, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks, n,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT))) AS pos
                      FROM tk WHERE n >= 5)),
         dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         cand AS MATERIALIZED (SELECT gh.doc_id, gh.pos,
                         toks[gh.pos + 1 : gh.pos + 64] AS sfx
                  FROM gh JOIN dup USING (h)),
         rk AS MATERIALIZED (SELECT doc_id, pos, sfx,
                       ROW_NUMBER() OVER (ORDER BY ARRAY_TO_STRING(sfx, ' '),
                                          doc_id, pos) AS rn
                FROM cand),
         nxd AS MATERIALIZED (SELECT a.rn, a.doc_id AS da, b.doc_id AS db,
                        CAST(COALESCE(
                          LIST_MIN(LIST_FILTER(
                            GENERATE_SERIES(1, GREATEST(LEN(a.sfx), LEN(b.sfx))),
                            i -> NOT COALESCE(a.sfx[i] = b.sfx[i], FALSE))) - 1,
                          LEAST(LEN(a.sfx), LEN(b.sfx))) AS BIGINT) AS lcpn
                 FROM rk a JOIN rk b ON b.rn = a.rn + 1),
         sp AS (SELECT r.doc_id, r.pos,
                       GREATEST(COALESCE(n1.lcpn, 0), COALESCE(n0.lcpn, 0))
                         AS len
                FROM rk r
                LEFT JOIN nxd n1 ON n1.rn = r.rn
                LEFT JOIN nxd n0 ON n0.rn = r.rn - 1
                WHERE GREATEST(COALESCE(n1.lcpn, 0), COALESCE(n0.lcpn, 0)) >= 5),
         il AS (SELECT doc_id, pos, len,
                       MAX(pos + len) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS rmax
                FROM sp),
         ili AS (SELECT doc_id, pos, len,
                        SUM(CASE WHEN rmax IS NULL OR pos >= rmax
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY pos) AS isl
                 FROM il),
         pis AS MATERIALIZED (SELECT doc_id, isl, MIN(pos) AS s, MAX(pos + len) AS e
                 FROM ili GROUP BY 1, 2),
         pr AS MATERIALIZED (SELECT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b
                FROM nxd WHERE lcpn >= 5 AND da <> db
                GROUP BY 1, 2),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pr
                 UNION SELECT doc_b, doc_a FROM pr),
         reach AS (SELECT a, b FROM und
                   UNION
                   SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         cc AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS canon
                FROM reach GROUP BY a),
         nonrep AS (SELECT doc_id FROM cc WHERE doc_id <> canon),
         pis2 AS (SELECT pis.* FROM pis JOIN nonrep USING (doc_id)),
         posn AS (SELECT doc_id, toks,
                         UNNEST(GENERATE_SERIES(0, CAST(n - 1 AS INT))) AS p
                  FROM tk WHERE n >= 1),
         kept AS (SELECT posn.doc_id, posn.p, posn.toks[posn.p + 1] AS tok
                  FROM posn
                  WHERE NOT EXISTS (SELECT 1 FROM pis2 i
                                    WHERE i.doc_id = posn.doc_id
                                      AND posn.p >= i.s AND posn.p < i.e))
         SELECT tk.doc_id, CAST(tk.n AS BIGINT) AS n_toks,
                CAST(COUNT(k.p) AS BIGINT) AS n_kept,
                tk.doc_id NOT IN (SELECT DISTINCT doc_id FROM pis2)
                  AS kept_intact,
                COALESCE(STRING_AGG(k.tok, ' ' ORDER BY k.p), '') AS scrubbed
         FROM tk LEFT JOIN kept k USING (doc_id)
         GROUP BY tk.doc_id, tk.n""",


    // the d25 closure with a train/eval set tag (eval = doc_id % 37 = 0):
    // per eval doc, train members of its span cluster + per-cluster max
    // span; left join keeps clean eval docs with contaminated = FALSE
    "d27_span_decontaminate" ->
      """WITH RECURSIVE
         t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
               FROM documents),
         tk AS (SELECT doc_id, toks, LEN(toks) AS n FROM t),
         gh AS MATERIALIZED (SELECT doc_id, toks, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks, n,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT))) AS pos
                      FROM tk WHERE n >= 5)),
         dup AS (SELECT h FROM gh GROUP BY h HAVING COUNT(*) >= 2),
         cand AS MATERIALIZED (SELECT gh.doc_id, gh.pos,
                         toks[gh.pos + 1 : gh.pos + 64] AS sfx
                  FROM gh JOIN dup USING (h)),
         rk AS MATERIALIZED (SELECT doc_id, pos, sfx,
                       ROW_NUMBER() OVER (ORDER BY ARRAY_TO_STRING(sfx, ' '),
                                          doc_id, pos) AS rn
                FROM cand),
         nx AS MATERIALIZED (SELECT a.doc_id AS da, b.doc_id AS db,
                       CAST(COALESCE(
                         LIST_MIN(LIST_FILTER(
                           GENERATE_SERIES(1, GREATEST(LEN(a.sfx), LEN(b.sfx))),
                           i -> NOT COALESCE(a.sfx[i] = b.sfx[i], FALSE))) - 1,
                         LEAST(LEN(a.sfx), LEN(b.sfx))) AS BIGINT) AS lcpn
                FROM rk a JOIN rk b ON b.rn = a.rn + 1),
         pr AS MATERIALIZED (SELECT LEAST(da, db) AS doc_a,
                       GREATEST(da, db) AS doc_b,
                       CAST(MAX(lcpn) AS BIGINT) AS mss
                FROM nx WHERE lcpn >= 5 AND da <> db
                GROUP BY 1, 2),
         und AS (SELECT doc_a AS a, doc_b AS b FROM pr
                 UNION SELECT doc_b, doc_a FROM pr),
         reach AS (SELECT a, b FROM und
                   UNION
                   SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         cc AS MATERIALIZED (SELECT a AS doc_id, LEAST(a, MIN(b)) AS canon
                FROM reach GROUP BY a),
         ctr AS (SELECT canon,
                        CAST(SUM(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS ntp
                 FROM cc GROUP BY 1),
         csp AS (SELECT c.canon, CAST(MAX(pr.mss) AS BIGINT) AS mss
                 FROM pr JOIN cc c ON c.doc_id = pr.doc_a GROUP BY 1),
         ce AS (SELECT m.doc_id, ctr.ntp, csp.mss
                FROM cc m
                JOIN ctr ON ctr.canon = m.canon
                JOIN csp ON csp.canon = m.canon
                WHERE m.doc_id % 37 = 0 AND ctr.ntp >= 1)
         SELECT e.doc_id,
                CAST(COALESCE(ce.ntp, 0) AS BIGINT) AS n_train_partners,
                CAST(COALESCE(ce.mss, 0) AS BIGINT) AS max_shared_span,
                ce.ntp IS NOT NULL AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 37 = 0) e
         LEFT JOIN ce USING (doc_id)"""
  )
}
