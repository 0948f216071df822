package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication operators for large-scale corpus pipelines: exact
  * (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket-join),
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design: nothing here compares all pairs. Exact dedup is one hash
  * aggregate on a 16-byte key; LSH turns near-dup search into an equi-join
  * on band keys (shuffle on band_key, AQE handles hot buckets, and
  * degenerate buckets are capped before the self-join — see
  * `lshCandidatePairs`); Jaccard verification runs only on LSH candidates,
  * in-row on each pair's two shingle arrays, never on the full cross
  * product.
  */
object DedupOps {

  /** Exact dedup groups: one row per distinct fingerprint with the group
    * size and the smallest doc id as the canonical representative.
    */
  def exactGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id), TextFns.fingerprint(col(text)).as("fp"))
      .groupBy("fp")
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** (id, shingles) with distinct `n`-token shingles per document.
    *
    * The input is spread across the cluster first (`Tables.spread`):
    * shingling + the downstream MinHash tower are hash-heavy per row, so a
    * narrow scan (one row group ⇒ one task) would serialize the whole
    * kernel on one core. No-op when the corpus scan is
    * already wide.
    */
  def withShingles(docs: DataFrame, id: String, text: String, n: Int): DataFrame =
    graft.Tables.spread(docs.select(col(id), col(text)))
      .select(col(id), TextFns.shingles(TextFns.tokens(col(text)), n).as("shingles"))

  /** MinHash signature: `k` lexicographic-min seeded md5s over the shingle
    * set, as columns `mh00..mh{k-1}`. Null components for docs with no
    * shingles.
    */
  def minhashSignatures(docs: DataFrame, id: String, text: String, n: Int, k: Int): DataFrame =
    signaturesFromShingles(withShingles(docs, id, text, n), id, k)

  /** Signatures from an existing (id, shingles) frame. */
  def signaturesFromShingles(shingled: DataFrame, id: String, k: Int): DataFrame = {
    val cols = (0 until k).map(i => TextFns.minhash(col("shingles"), i).as(f"mh$i%02d"))
    shingled.select((col(id) +: cols): _*)
  }

  /** LSH band keys: `bands` keys per doc, each the md5 of `rowsPerBand`
    * consecutive minhash components. Output: (id, band, band_key), one row
    * per band — the unit that gets bucket-joined.
    *
    * A doc with no shingles has null components and gets a NULL band key
    * in every band (as SQL's `m00 || '|' || m01` does): `concat_ws` would
    * skip the nulls and hash "", putting every shingle-less doc into one
    * shared bucket per band.
    */
  def lshBandKeys(signatures: DataFrame, id: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val perBand = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(f"mh${b * rowsPerBand + r}%02d"))
      val key = when(parts.map(_.isNotNull).reduce(_ && _),
        md5(concat_ws("|", parts: _*)))
      struct(lit(b).as("band"), key.as("band_key"))
    }
    signatures
      .select(col(id), explode(array(perBand: _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Default LSH bucket cap for every near-dup entry point (see
    * [[lshCandidatePairs]]): 2000 members → ≤ ~2×10⁶ pairs per bucket.
    * Sized for corpus scale: a bucket that big is boilerplate collapse,
    * not genuine near-duplication, and admitting it would let ONE bucket
    * dominate the join (a 100k cap allows ~5×10⁹ pairs from a single
    * degenerate bucket). Raise it only for small corpora where exhaustive
    * recall inside mega-buckets matters more than the quadratic cost.
    */
  val DefaultMaxBucket: Int = 2000

  /** Candidate pairs: distinct (a, b) with a < b sharing at least one LSH
    * bucket. The self-join is an equi-join on (band, band_key).
    *
    * Degenerate-bucket guard: a band bucket with B members contributes
    * B(B−1)/2 candidate pairs — an adversarial bucket (e.g. boilerplate
    * that collapses a whole crawl segment) turns the equi-join quadratic.
    * [[capBuckets]] drops buckets larger than `maxBucket` and null band
    * keys (docs with no shingles) BEFORE the self-join. Members of an
    * over-cap bucket can still pair through their other bands — recall
    * degrades gracefully instead of the job dying.
    */
  def lshCandidatePairs(bandKeys: DataFrame, id: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val capped = capBuckets(bandKeys, maxBucket)
    val l = capped.select(col("band"), col("band_key"), col(id).as("id_a"))
    val r = capped.select(col("band"), col("band_key"), col(id).as("id_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Band-key rows without null keys and without the members of any
    * bucket over `maxBucket`: a count window keyed on the bucket, so the
    * only exchange is the one the bucket join shuffles on anyway.
    */
  private def capBuckets(bandKeys: DataFrame, maxBucket: Int): DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("band", "band_key")
    bandKeys
      .filter(col("band_key").isNotNull)
      .withColumn("__bsz", count(lit(1)).over(wB))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")
  }

  /** Exact shingle-set Jaccard for the given pairs, computed in-row by
    * [[pairOverlaps]]. Keeps pairs that share at least one shingle and
    * have jaccard >= `threshold`.
    *
    * `maxDf` (default off) applies the [[capPostings]] vocabulary cap to
    * the verification sets: with the cap, similarities are exact over the
    * SURVIVING shingles (each doc's set shrinks to its kept shingles, so
    * sizes shrink coherently with intersections), so a corpus-wide
    * boilerplate shingle neither inflates the per-pair intersection work
    * nor biases scores low.
    */
  def jaccardVerify(pairs: DataFrame, shingled: DataFrame, id: String,
      threshold: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    val sets = cappedShingleSets(shingled, id, maxDf)
    jaccardAtLeast(pairOverlaps(pairs.select("id_a", "id_b"), "id_a", "id_b", sets, sets, id),
      "id_a", "id_b", threshold)
  }

  /** `pairs` plus `n_inter` = |A∩B|, `sz_a` = |A| and `sz_b` = |B|, where
    * A is `setsA`'s and B is `setsB`'s (id, shingles) row for the pair's
    * `idA` and `idB`. In-row: each pair is joined to its two shingle
    * arrays and |A∩B| is `size(array_intersect(a, b))` — both arrays are
    * per-doc distinct, so that is exactly the count an inverted index
    * would produce, without exploding every shingle of every pair's docs.
    */
  private def pairOverlaps(pairs: DataFrame, idA: String, idB: String,
      setsA: DataFrame, setsB: DataFrame, id: String): DataFrame =
    pairs
      .join(setsA.select(col(id).as(idA), col("shingles").as("__sa")), Seq(idA))
      .join(setsB.select(col(id).as(idB), col("shingles").as("__sb")), Seq(idB))
      .select(pairs.columns.map(col) ++ Seq(
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("n_inter"),
        size(col("__sa")).cast("long").as("sz_a"),
        size(col("__sb")).cast("long").as("sz_b")): _*)

  /** |A∩B| / |A∪B| over the `n_inter`, `sz_a`, `sz_b` columns. */
  private def jaccardOf: Column =
    col("n_inter").cast("double") / (col("sz_a") + col("sz_b") - col("n_inter"))

  /** (idA, idB, jaccard) for the overlap rows that share at least one
    * shingle and reach `threshold`; the raw value is compared, the output
    * rounded to 6 places.
    */
  private def jaccardAtLeast(overlaps: DataFrame, idA: String, idB: String,
      threshold: Double): DataFrame =
    overlaps
      // a pair sharing nothing never met in the inverted index; it also
      // keeps the union below positive
      .filter(col("n_inter") > 0)
      .withColumn("__j", jaccardOf)
      .filter(col("__j") >= threshold)
      .select(col(idA), col(idB), round(col("__j"), 6).as("jaccard"))

  /** (id, shingles) restricted to the shingles that survive the
    * [[capPostings]] cap. With no cap, the input itself; with a cap, the
    * capped postings regrouped per doc — docs left with no shingle drop
    * out, as they would from the inverted index.
    */
  private def cappedShingleSets(shingled: DataFrame, id: String, maxDf: Long): DataFrame =
    if (maxDf == Long.MaxValue) shingled.select(col(id), col("shingles"))
    else capPostings(shingled.select(col(id), explode(col("shingles")).as("s")), "s", maxDf)
      .groupBy(col(id)).agg(collect_list(col("s")).as("shingles"))

  /** Document-frequency cap for inverted-index postings: a posting whose
    * term appears in k documents contributes k² candidate rows to the
    * self-join, so ONE adversarial corpus-wide shingle (a boilerplate
    * header, a templated footer) turns the index quadratic. Postings with
    * df > `maxDf` are dropped BEFORE the join — exactly the terms that
    * carry near-zero discriminative signal (IDF ≈ 0). With the cap on,
    * pairs that share ONLY capped terms are missed, and both intersections
    * AND set sizes are computed over the SURVIVING vocabulary (see
    * [[cappedShingleSets]]) — so jaccard/containment are exact
    * similarities over the kept terms, the same coherent-shrinking
    * semantics `tfidfCosinePairs` applies to its weights and norms, rather
    * than a biased-low hybrid of capped intersections against uncapped
    * sizes. `Long.MaxValue` (the default) bypasses the df aggregate
    * entirely, so default plans and hashes are unchanged.
    *
    * Plan shape: one extra hash aggregate over |distinct terms| and one
    * equi-join back on the term — both linear in the index, the price that
    * removes the quadratic tail.
    */
  private def capPostings(postings: DataFrame, term: String, maxDf: Long): DataFrame =
    if (maxDf == Long.MaxValue) postings
    else {
      val dfreq = postings.groupBy(term)
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf)
        .drop("__df")
      postings.join(dfreq, Seq(term), "left_semi")
    }

  /** Inverted-index pair counts over (id, term) `postings`: one row
    * (id_a, id_b, n_inter) per id_a < id_b sharing at least one term
    * that survives the `maxDf` cap, n_inter the number of shared
    * postings. Docs only meet through a shared term, never doc×doc.
    */
  private def postingPairCounts(postings: DataFrame, id: String, term: String,
      maxDf: Long): DataFrame = {
    val p = capPostings(postings.select(col(id), col(term)), term, maxDf)
    p.select(col(id).as("id_a"), col(term))
      .join(p.select(col(id).as("id_b"), col(term)), Seq(term))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))
  }

  /** [[pairOverlaps]]' columns for EVERY pair sharing a shingle, found
    * through the inverted index; set sizes count the same capped
    * vocabulary the intersections do.
    */
  private def indexedOverlaps(shingled: DataFrame, id: String, maxDf: Long): DataFrame = {
    // three consumers of the shingle arrays (sizes + both join sides) —
    // truncate lineage so shingling runs once (see nearDupPairs)
    val ck = shingled.localCheckpoint(false)
    val sizes = cappedShingleSets(ck, id, maxDf)
      .select(col(id), size(col("shingles")).cast("long").as("sz"))
    postingPairCounts(ck.select(col(id), explode(col("shingles")).as("s")), id, "s", maxDf)
      .join(sizes.select(col(id).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(id).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
  }

  /** n-gram Jaccard near-dup WITHOUT LSH: all pairs sharing >=1 shingle via
    * the inverted index, thresholded. Exact but heavier than `nearDupPairs`
    * (pair candidates grow with shingle document frequency) — the
    * correctness baseline the LSH path is validated against. `maxDf` caps
    * the posting document frequency (see [[capPostings]]).
    */
  def jaccardAllPairs(shingled: DataFrame, id: String, threshold: Double,
      maxDf: Long = Long.MaxValue): DataFrame =
    jaccardAtLeast(indexedOverlaps(shingled, id, maxDf), "id_a", "id_b", threshold)

  /** Asymmetric containment similarity: |A ∩ B| / |A| over distinct
    * shingle sets — the quote-inclusion detector. A short document fully
    * quoted inside a long one scores containment ≈ 1 while its Jaccard
    * stays low (the union is dominated by the long side), so Jaccard-gated
    * dedup misses it. Same inverted-index join as [[jaccardAllPairs]],
    * emitting BOTH directions of each pair (containment is not
    * symmetric). `threshold` gates on the containment of the smaller side.
    */
  def containmentPairs(shingled: DataFrame, id: String, threshold: Double,
      maxDf: Long = Long.MaxValue): DataFrame =
    indexedOverlaps(shingled, id, maxDf)
      .withColumn("__c", col("n_inter").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("__c") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("n_inter").cast("double") / col("sz_a"), 6).as("containment_a"),
        round(col("n_inter").cast("double") / col("sz_b"), 6).as("containment_b"))

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket-join
    * → exact-Jaccard verify.
    */
  def nearDupPairs(docs: DataFrame, id: String, text: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = DefaultMaxBucket, maxDf: Long = Long.MaxValue): DataFrame = {
    // The shingle set feeds three consumers (signatures, the verify join's
    // two sides); localCheckpoint truncates the lineage so the md5/shingle
    // work runs once instead of once per branch. Lazy: nothing computes
    // until the caller's action.
    val shingled = withShingles(docs, id, text, shingleN).localCheckpoint(false)
    val sigs = signaturesFromShingles(shingled, id, k)
    val cands = lshCandidatePairs(lshBandKeys(sigs, id, bands, k / bands), id, maxBucket)
    jaccardVerify(cands, shingled, id, threshold, maxDf)
  }

  /** MinHash estimator audit over prebuilt (pinned) shingle and LSH
    * candidate frames: for every candidate pair, the signature-agreement
    * estimate ĵ = |matching lanes|/k NEXT TO the exact Jaccard and their
    * signed error — the tuning report that tells you whether k is large
    * enough BEFORE you trust ĵ as a verify shortcut at scale (E[ĵ] = J,
    * sd = √(J(1−J)/k); at k = 12 that's ±0.14 at J = 0.5). The signature
    * lanes are a map-only projection off `shingled`, the k lane equality
    * checks one codegen'd projection on the joined signature rows, and the
    * exact Jaccard is in-row ([[pairOverlaps]]); pairs sharing no shingle
    * report 0.
    */
  def minhashEstimateFrom(shingled: DataFrame, cands: DataFrame,
      id: String, k: Int): DataFrame = {
    val sigs = signaturesFromShingles(shingled, id, k)
    val lanes = (0 until k).map(i => f"mh$i%02d")
    val a = sigs.select(col(id).as("id_a") +:
      lanes.map(c => col(c).as(s"__a_$c")): _*)
    val b = sigs.select(col(id).as("id_b") +:
      lanes.map(c => col(c).as(s"__b_$c")): _*)
    val agree = lanes.map(c =>
        when(col(s"__a_$c") === col(s"__b_$c"), 1L).otherwise(0L))
      .reduce(_ + _)
    val scored = cands
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"), agree.as("lanes_agree"))
    val est = col("lanes_agree").cast("double") / k
    pairOverlaps(scored, "id_a", "id_b", shingled, shingled, id)
      .select(col("id_a"), col("id_b"), col("lanes_agree"),
        round(est, 6).as("est"), round(jaccardOf, 6).as("jaccard"),
        round(est - jaccardOf, 6).as("err"))
  }

  /** Incremental near-dup: a NEW ingest batch tested against an EXISTING
    * corpus index — candidates are (new × indexed) band-bucket matches,
    * never new×new or indexed×indexed. This is the growth path of a live
    * corpus: each batch pays LSH cost proportional to the batch, while the
    * index side is the historical band-key + shingle frames (persistable
    * as bucketed tables, so the join co-locates without a fresh shuffle of
    * the corpus). The bucket cap guards the unbounded index side; a null
    * new-side key never meets it in the equi-join.
    */
  def nearDupAgainstIndex(newDocs: DataFrame, indexDocs: DataFrame, id: String,
      text: String, shingleN: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val shNew = withShingles(newDocs, id, text, shingleN).localCheckpoint(false)
    val shIdx = withShingles(indexDocs, id, text, shingleN).localCheckpoint(false)
    def bandKeys(sh: DataFrame) =
      lshBandKeys(signaturesFromShingles(sh, id, k), id, bands, k / bands)
    val cands = bandKeys(shNew)
      .select(col("band"), col("band_key"), col(id).as("id_new"))
      .join(capBuckets(bandKeys(shIdx), maxBucket)
        .select(col("band"), col("band_key"), col(id).as("id_old")),
        Seq("band", "band_key"))
      .select("id_new", "id_old").distinct()
    jaccardAtLeast(pairOverlaps(cands, "id_new", "id_old", shNew, shIdx, id),
      "id_new", "id_old", threshold)
  }

  /** SimHash near-duplicate pairs: band on the signature's first
    * `bandBits` bits (hamming-close signatures agree on short prefixes with
    * high probability), then verify exact hamming distance ≤ `maxHamming`
    * on candidates only. Same candidate-generation shape as MinHash-LSH —
    * an equi-join, never an all-pairs scan.
    */
  def simhashNearDups(docs: DataFrame, id: String, text: String,
      bandBits: Int, maxHamming: Int): DataFrame = {
    // the bit-string is packed to a long ONCE per doc, so the per-pair
    // hamming distance is a single bit_count(a XOR b) — not 64 substring
    // extractions; at B docs per bucket that is the difference between
    // O(B²) cheap integer ops and O(B²·bits) string ops
    val sim = simhash32(docs, id, text)
      .withColumn("__bits", conv(col("simhash"), 2, 10).cast("long"))
      .localCheckpoint(false)
    val a = sim.select(col(id).as("id_a"), col("__bits").as("__ba"),
      substring(col("simhash"), 1, bandBits).as("__band"))
    val b = sim.select(col(id).as("id_b"), col("__bits").as("__bb"),
      substring(col("simhash"), 1, bandBits).as("__band"))
    a.join(b, Seq("__band"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("__ba").bitwiseXOR(col("__bb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding-cosine near-duplicate pairs within a coarse bucket (the
    * ANN-style scale path: the bucket equi-join bounds the pair space the
    * same way LSH bands do for shingles). `simFn` defaults to the native
    * codegen kernel via the composable form; threshold applies to the raw
    * similarity, output is rounded.
    */
  def embeddingNearDups(corpus: DataFrame, id: String, emb: String, bucket: String,
      threshold: Double,
      simFn: (Column, Column) => Column = graft.functions.VectorFns.cosine): DataFrame = {
    val toD = graft.functions.VectorFns.toDoubleArr _
    val a = corpus.select(col(bucket).as("__b"), col(id).as("id_a"), toD(col(emb)).as("__ea"))
    val b = corpus.select(col(bucket).as("__b"), col(id).as("id_b"), toD(col(emb)).as("__eb"))
    a.join(b, Seq("__b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("__sim", simFn(col("__ea"), col("__eb")))
      .filter(col("__sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__sim"), 6).as("sim"))
  }

  /** Collapse near-duplicate PAIRS into dedup groups: connected components
    * over the similarity graph, labeling every member doc with the
    * smallest doc id reachable from it — the "keep one canonical copy"
    * step that turns pairwise near-dup evidence into a drop list.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) over the canonical
    * edge list (hi, lo), hi > lo. Large-star re-points every edge
    * (hi, lo) at lo's smallest neighbor; small-star links every smaller
    * neighbor of a node to the smallest of them. Both keep each
    * component's node set and its minimum, and their fixpoint is a star
    * per component whose center is the component minimum — at which
    * point the edges ARE the labels (leaf → center). The round count is
    * logarithmic in the component size for ANY id order; min-label
    * propagation with pointer jumping needs about the diameter when ids
    * do not follow the path (a 200-node path with shuffled ids took 57
    * rounds). Each round is one aggregate + join (large-star), one
    * window (small-star) and one distinct over the |edges|-sized frame,
    * and the frame is checkpointed so round k never replays rounds
    * 1..k-1; earlier rounds' blocks are released as soon as the next
    * round is materialized, so only the final edge list stays pinned.
    *
    * Convergence is tested exactly, not by a checksum: every output row
    * carries whether a step changed it (large-star: lo had a smaller
    * neighbor; small-star: the node had more than one smaller neighbor),
    * and the loop stops after a round that changed nothing — the edge
    * list is then a star forest rooted at the component minima.
    *
    * A graph that has not converged after `maxIter` rounds FAILS FAST
    * (IllegalStateException) instead of returning mid-propagation labels
    * — wrong canonical ids would poison every downstream
    * keep-list/fold/quarantine decision.
    */
  def connectedComponents(pairs: DataFrame, idA: String, idB: String,
      maxIter: Int = 20): DataFrame = {
    def rddsOf(df: DataFrame) = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
    var edges = pairs
      .select(greatest(col(idA), col(idB)).as("hi"), least(col(idA), col(idB)).as("lo"))
      .distinct()
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // large-star: (hi, lo) → (hi, min(lo, smallest neighbor of lo))
      val lowest = edges.groupBy(col("hi").as("__u")).agg(min(col("lo")).as("__m"))
      val large = edges.join(lowest, col("lo") === col("__u"), "left")
        .select(col("hi"), least(col("lo"), coalesce(col("__m"), col("lo"))).as("lo"),
          coalesce(col("__m") < col("lo"), lit(false)).as("__chg"))
      // small-star: with m = hi's smallest neighbor, emit (hi, m) and
      // (lo, m) for every other smaller neighbor lo of hi
      val byHi = org.apache.spark.sql.expressions.Window.partitionBy("hi")
      val next = large
        .withColumn("__m", min(col("lo")).over(byHi))
        .withColumn("__chg", col("__chg") || max(col("lo")).over(byHi) =!= col("__m"))
        .select(explode(array(
          struct(col("hi").as("hi"), col("__m").as("lo"), col("__chg").as("chg")),
          struct(when(col("lo") =!= col("__m"), col("lo")).as("hi"), col("__m").as("lo"),
            col("__chg").as("chg")))).as("__e"))
        .filter(col("__e.hi").isNotNull)
        .groupBy(col("__e.hi").as("hi"), col("__e.lo").as("lo"))
        .agg(max(col("__e.chg")).as("__chg"))
        .localCheckpoint(false)
      // one job over the pinned rows: did any row change this round?
      // (it also materializes the checkpoint, so the previous round's
      // blocks can go)
      converged = !next.filter(col("__chg")).queryExecution.toRdd
        .mapPartitions(rows => Iterator(rows.hasNext)).collect().contains(true)
      rddsOf(edges).foreach(_.unpersist(blocking = false))
      edges = next.select("hi", "lo")
      iter += 1
    }
    if (!converged) {
      rddsOf(edges).foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "large-star/small-star needs rounds logarithmic in the component " +
          "size, so this is an unexpectedly large component. Raise " +
          "maxIter; returning mid-propagation labels would mis-canonicalize " +
          "every downstream dedup decision.")
    }
    // converged: each non-root node has exactly one edge, to its root
    edges.filter(col("hi") =!= col("lo"))
      .select(col("hi").as("doc_id"), col("lo").as("canonical_id"))
      .unionByName(edges.select(col("lo").as("doc_id"), col("lo").as("canonical_id"))
        .distinct())
  }

  /** 32-bit set-based SimHash over the distinct-token set, emitted as a
    * 32-char '0'/'1' string (bit 0 first). Bit p of a token is nibble
    * arithmetic over its md5 hex digest — portable to any SQL oracle.
    * Per-bit vote: +1 if the token's bit is 1 else -1; simhash bit = vote>0.
    */
  def simhash32(docs: DataFrame, id: String, text: String): DataFrame = {
    // no spread here: the doc-side kernel is a cheap tokenize+explode (the
    // md5 tower runs on the distinct-token vocab, which is tiny relative),
    // so the distinct's own shuffle provides all the parallelism needed —
    // an upfront repartition measured strictly slower
    val toks = docs
      .select(col(id), explode(TextFns.tokens(col(text))).as("tok"))
      .distinct()
    // dictionary trick: the ±1 bit vector is a function of the token alone —
    // compute it once per DISTINCT token (vocabulary-sized), then sum
    // vectors element-wise per document. Avoids exploding every
    // (doc, token) pair 32× (the naive form shuffles |docs|·|tokens|·32 rows;
    // this shuffles |docs|·|tokens| with a 32-int payload). The vocab join
    // carries no broadcast hint: a web-corpus vocabulary is 10⁸+ tokens and
    // would OOM the driver — AQE broadcasts iff it is actually small,
    // otherwise both sides shuffle on the token key.
    val vocab = toks.select("tok").distinct()
      .withColumn("__h", md5(col("tok")))
      .withColumn("bits", transform(sequence(lit(0), lit(31)), p => {
        val nib = conv(col("__h").substr((p / 4).cast("int") + 1, lit(1)), 16, 10)
          .cast("long")
        val bit = floor(nib / pow(lit(2.0), lit(3) - p % 4)).cast("long") % 2
        when(bit === 1, 1).otherwise(-1)
      }))
      .select("tok", "bits")
    // per-bit SUM aggregates instead of collect_list+fold: sums combine
    // map-side (partial aggregation), so the shuffle carries one 32-int
    // partial row per (map task, doc) instead of every (doc, token) bit
    // vector; collect_list has no partial form and ships all rows
    val votes = (0 until 32).map(p =>
      sum(element_at(col("bits"), p + 1)).as(s"__v$p"))
    toks.join(vocab, Seq("tok"))
      .groupBy(col(id))
      .agg(votes.head, votes.tail: _*)
      .select(col(id),
        concat((0 until 32).map(p =>
          when(col(s"__v$p") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Sparse TF-IDF cosine similarity over an inverted index of `shingleN`-
    * token shingles: weight each (doc, shingle) posting by `tf · smoothIdf`,
    * join postings on the shingle (never doc×doc — only docs sharing a
    * shingle ever meet), sum the weight products, and normalize by the
    * per-doc L2 norms. Exact cosine for every pair above `threshold`.
    *
    * The posting term is a SHINGLE, not a unigram, on purpose: a posting
    * with document frequency k contributes k² join rows, and unigram
    * vocabularies are tiny relative to any corpus (every doc shares every
    * term → the index degenerates toward all-pairs). Shingle cardinality
    * grows with the corpus, keeping the index sparse — the same property
    * that makes `jaccardAllPairs` viable. For adversarial high-df shingles
    * `maxDf` drops postings above a document-frequency ceiling (their IDF
    * weight is near zero anyway) — with the cap on, pairs connected ONLY
    * by capped terms are missed and surviving similarities exclude the
    * capped terms from weights and norms alike (the vocabulary simply
    * shrinks, so the result is still a true cosine over the kept terms).
    */
  def tfidfCosinePairs(docs: DataFrame, id: String, text: String,
      shingleN: Int, threshold: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    val toks = graft.Tables.spread(docs.select(col(id), col(text)))
      .select(col(id),
        explode(TextFns.rawShingles(TextFns.tokens(col(text)), shingleN)).as("term"))
    // df stays an AGGREGATE + join-back, NOT a `count().over(partitionBy
    // (term))` window: the window form measures faster at test sf (one
    // exchange instead of agg+join) but ships every posting of a hot term
    // into ONE window task — no map-side combine — which is precisely the
    // adversarial-shingle skew this operator must survive at corpus scale.
    // The aggregate combines partials before the shuffle and the join-back
    // is AQE-skew-splittable.
    val tf = toks.groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val n = docs.agg(count(lit(1)).as("__n"))
    // checkpointed: consumed three times (norms + both self-join sides);
    // without it each consumer replays the tf⋈df⋈n subtree. The residual
    // wall-clock here is stage-count floor, not data volume (PlanAudit:
    // every exchange is KB-scale at test sf)
    val wts = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
      .select(col(id), col("term"),
        (col("tf") * TextFns.smoothIdf(col("__n"), col("df"))).as("w"))
      .localCheckpoint(false)
    val norms = wts.groupBy(col(id)).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    // shuffle_hash pinned (§3.1 pick-the-strategy-deliberately): without
    // the hint the planner BROADCASTS one side of this self-join — the
    // checkpointed wts frame carries no real stats, and a data-sized
    // posting list broadcast is fatal at corpus scale (the t43 doc-side
    // mis-broadcast lesson). Shuffled-hash keeps both sides partitioned
    // by term (AQE's skew-join split covers SHJ), builds per-partition
    // hash maps, and skips SMJ's two sorts — measured 1.35x on the
    // same-window pair here as well.
    val dots = wts.as("a")
      .join(wts.as("b").hint("shuffle_hash"),
        col("a.term") === col("b.term") && col(s"a.$id") < col(s"b.$id"))
      .groupBy(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dp"))
    dots
      .join(norms.select(col(id).as("id_a"), col("nrm").as("__na")), Seq("id_a"))
      .join(norms.select(col(id).as("id_b"), col("nrm").as("__nb")), Seq("id_b"))
      .filter(col("dp") / (col("__na") * col("__nb")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("dp") / (col("__na") * col("__nb")), 6).as("sim"))
  }

  /** End-to-end near-dup removal: LSH-verified pairs → connected
    * components → drop every non-canonical member. The survivor list is
    * the corpus anti-joined with the victim set, so untouched docs (the
    * overwhelming majority at any scale) stream through without entering
    * the component computation at all.
    */
  def dropNearDups(docs: DataFrame, id: String, text: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = DefaultMaxBucket, maxDf: Long = Long.MaxValue): DataFrame = {
    val pairs = nearDupPairs(docs, id, text, shingleN, k, bands, threshold,
      maxBucket, maxDf)
    val victims = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as(id))
    docs.join(victims, Seq(id), "left_anti")
  }

  /** Segment-level boilerplate removal (the RefinedWeb/CCNet "line dedup"
    * pass, adapted to whitespace corpora with no line structure): each doc
    * is cut into aligned `w`-token segments, segments whose corpus-wide
    * occurrence count reaches `minDup` are dropped everywhere, and every
    * doc is reassembled from its surviving segments in order.
    *
    * Scale shape: one hash aggregate over |distinct segments| for the
    * counts, one equi-join back on the segment text (AQE-sized — the count
    * side is NOT provably small), and one per-doc aggregate for the
    * reassembly. Never doc×doc; reassembly state is bounded by the longest
    * single document, the same bound the tokenizer already implies.
    */
  def dropDuplicateSegments(docs: DataFrame, id: String, text: String,
      w: Int, minDup: Long): DataFrame = {
    // zero-token docs carry no segments and produce NO output row (callers
    // that must keep them attach the result with a left join — see
    // CorpusCurator.scrubBoilerplate); unguarded, sequence(0, -1) would
    // walk backwards and fabricate two empty-string segments per empty doc
    val segs = graft.Tables.spread(docs.select(col(id), col(text)))
      .select(col(id), TextFns.tokens(col(text)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("seg_idx",
        explode(sequence(lit(0), floor((col("__n") - 1) / w).cast("int"))))
      .select(col(id), col("seg_idx"),
        array_join(slice(col("__toks"), col("seg_idx") * w + 1, lit(w)), " ")
          .as("seg"))
    val counts = segs.groupBy("seg").agg(count(lit(1)).as("__c"))
    segs.join(counts, Seq("seg"))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("__c") >= minDup, 1L).otherwise(0L)).as("n_dropped"),
        // collect_list skips the nulls `when` leaves for dropped segments;
        // array_sort on (seg_idx, seg) structs restores document order
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__c") < minDup, struct(col("seg_idx"), col("seg"))))),
            _.getField("seg")),
          " ").as("clean_text"))
  }

  /** Benchmark decontamination (training-data hygiene): for each corpus
    * document, the number of distinct `n`-token shingles it shares with a
    * benchmark/eval set, plus a 0/1 contamination flag.
    *
    * Both sides reduce to DISTINCT (id, shingle) / (shingle) frames and
    * meet in ONE equi-join on the shingle string — never doc×doc. The
    * benchmark shingle set is data-dependent (an eval suite can be millions
    * of shingles), so there is no broadcast hint: AQE promotes the join at
    * runtime iff the set actually fits.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, id: String,
      text: String, n: Int): DataFrame = {
    // `withShingles` is per-doc distinct and `id` is unique, so the exploded
    // (id, sg) pairs are already globally distinct — no dedup shuffle. Only
    // the benchmark side needs a global DISTINCT (the same shingle can occur
    // in many benchmark docs and must count once).
    val corpusSh = withShingles(corpus, id, text, n)
      .select(col(id), explode(col("shingles")).as("sg"))
    val benchSh = withShingles(benchmark, id, text, n)
      .select(explode(col("shingles")).as("sg")).distinct()
    val shared = corpusSh.join(benchSh, "sg")
      .groupBy(col(id)).agg(count(lit(1)).as("__shared"))
    corpus.select(col(id)).join(shared, Seq(id), "left")
      .select(col(id),
        coalesce(col("__shared"), lit(0L)).as("n_shared"),
        when(coalesce(col("__shared"), lit(0L)) > 0, 1).otherwise(0)
          .as("contaminated"))
  }

  /** Candidate-generation quality audit: LSH band-bucket candidate pairs
    * measured against the exact-Jaccard ground truth at `threshold` —
    * recall ("what fraction of true near-dup pairs did banding surface")
    * and precision ("what fraction of surfaced candidates are true").
    * THE dial-tuning report for (k, bands) at scale: run it on a sample
    * tier, pick the cheapest banding whose recall clears the bar, then
    * run the tuned config on the full corpus.
    *
    * One shingle frame feeds both sides (signatures AND the inverted
    * index), the candidate/truth sets meet in a pair-key equi-join, and
    * the output is one row of counts — nothing quadratic beyond what the
    * two audited operators already do.
    */
  def lshRecallEval(docs: DataFrame, id: String, text: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    val sh = withShingles(docs, id, text, shingleN)
    val truth = jaccardAllPairs(sh, id, threshold).select("id_a", "id_b")
    val cand = lshCandidatePairs(
      lshBandKeys(signaturesFromShingles(sh, id, k), id, bands, k / bands), id)
    lshRecallFrom(truth, cand)
  }

  /** [[lshRecallEval]]'s closing report over prebuilt (id_a, id_b) truth
    * and candidate frames — the shared-front-end entry.
    */
  def lshRecallFrom(truth: DataFrame, cand: DataFrame): DataFrame = {
    val hit = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nc = cand.agg(count(lit(1)).as("n_cand"))
    nt.crossJoin(broadcast(nc)).crossJoin(broadcast(hit))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_truth"), 6).as("recall"),
        round(col("n_hit").cast("double") / col("n_cand"), 6).as("precision"))
  }

  /** Sorted-neighborhood near-duplicate pairs (Hernández–Stolfo SNM, the
    * classic record-linkage blocking): sort the corpus by a normalized
    * blocking key, then compare each record only against its `window`
    * successors in that order, keeping pairs within `maxDist` edits of
    * each other's keys.
    *
    * Complements the d-family's set-similarity methods: MinHash/SimHash
    * block on CONTENT OVERLAP; SNM blocks on SORT-ORDER LOCALITY, which
    * catches near-identical records whose small early edits leave them
    * adjacent (typos, truncations, boilerplate prefixes).
    *
    * Shape: the global sort rank comes from [[graft.operators.RankOps
    * .globalRowNumber]] (two-phase range bucketing — no single-partition
    * exchange), then each row is exploded to its `window` forward anchor
    * ranks and the candidate pairs form with ONE equi-join on the anchor
    * (fan-out = `window`, linear in corpus size — never the quadratic
    * blowup naive blocking risks when one key bucket is hot). The edit
    * distance runs only on the `keyLen`-bounded keys, not full documents.
    *
    * Determinism: the sort is total-ordered by (key, id); ranks, anchors
    * and edit distances are exact integers.
    */
  def sortedNeighborhood(docs: DataFrame, id: String, text: String,
      window: Int, maxDist: Int, keyLen: Int = 64): DataFrame = {
    val keyed = docs.select(col(id),
      substring(regexp_replace(lower(col(text)), "\\s+", " "), 1, keyLen)
        .as("__key"))
    // the ranked frame feeds BOTH join sides (anchors and probe); the
    // rank assignment itself is window work on top of the checkpointed
    // range bucketing, so pin it once instead of paying the window +
    // offset triangle twice
    val ranked = graft.operators.RankOps.globalRowNumber(keyed,
      Seq(col("__key"), col(id)), "__rn").localCheckpoint(false)
    val anchors = ranked.withColumn("__anchor",
      explode(sequence(col("__rn") + 1, col("__rn") + window)))
    anchors.alias("a")
      .join(ranked.alias("b"), col("__anchor") === col("b.__rn"))
      .filter(levenshtein(col("a.__key"), col("b.__key")) <= maxDist)
      .select(col(s"a.$id").as("doc_a"), col(s"b.$id").as("doc_b"),
        levenshtein(col("a.__key"), col("b.__key")).as("dist"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS local fingerprinting algorithm): hash every token k-gram,
    * slide a w-wide window over the hash sequence, keep each full
    * window's minimum. The guarantee: any shared token run of length
    * ≥ k+w−1 contributes at least one shared fingerprint, while the
    * selected set is ~2/(w+1) of the k-grams — position-robust partial
    * overlap detection at a fraction of the posting volume.
    *
    * Returns the distinct (id, fp) fingerprint set. Hashes are MD5 hex
    * (engine-portable, lexicographic min) like the d-family MinHash.
    */
  def winnowedFingerprints(docs: DataFrame, id: String, text: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    // fully IN-ROW: gram hashes, the w-wide sliding minima, and the
    // per-doc dedup are all array expressions over one row — where the
    // old form exploded every gram and ran two per-doc windows, paying a
    // full hash exchange of the gram stream just to look at neighbors
    // that live in the same document. Same fingerprint set: the sliding
    // min over positions p ∈ [0, n_grams − w] with md5-hex strings under
    // lexicographic (= binary) order, deduped per doc, matches the old
    // window min + count-guard + distinct exactly; per-row state is
    // bounded by document length, the same guarantee every in-row text
    // kernel here already makes.
    val toks = split(regexp_replace(trim(col(text)), "\\s+", " "), " ")
    // spread: the md5-per-gram kernel is pure CPU over the handful of
    // parquet scan tasks a small docs table yields — widen it across the
    // cores (no-op ≥256 MB, the PNG-family discipline), or the whole
    // fingerprint pass runs 2-wide on 32 cores
    graft.Tables.spread(docs.select(col(id), col(text)))
      .select(col(id), toks.as("__t"))
      .filter(size(col("__t")) >= k + w - 1)
      .select(col(id), transform(
        sequence(lit(0), size(col("__t")) - k),
        i => md5(concat_ws(" ", slice(col("__t"), i + 1, lit(k))))).as("__hs"))
      .select(col(id), explode(array_distinct(transform(
        sequence(lit(0), size(col("__hs")) - w),
        p => array_min(slice(col("__hs"), p + 1, lit(w)))))).as("fp"))
  }

  /** Shared-fingerprint pair report over [[winnowedFingerprints]] — the
    * MOSS "documents with overlapping passages" join. The fingerprint
    * equi-join is the same inverted index as [[jaccardAllPairs]]; `maxDf`
    * drops stop-fingerprints (shared boilerplate) through [[capPostings]]
    * to cap the quadratic posting tail.
    */
  def winnowSharedPairs(docs: DataFrame, id: String, text: String,
      k: Int = 3, w: Int = 4, minShared: Long = 2,
      maxDf: Long = 50): DataFrame = {
    val fp = winnowedFingerprints(docs, id, text, k, w)
      .localCheckpoint(false)
    postingPairCounts(fp, id, "fp", maxDf)
      .filter(col("n_inter") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_inter").as("n_shared"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse clustering bounds the pairwise cosine
    * search to WITHIN-cluster pairs — N²/C work instead of N², which is
    * the whole reason cluster-then-compare scales where brute pairwise
    * can't. A doc is dropped iff some lower-id doc in its cluster sits at
    * cosine ≥ `threshold`; the surviving lowest id is the cluster-local
    * canonical copy (deterministic, order-free).
    *
    * Scale shape: the only join is the cluster equi-join (hash-partitioned
    * on a C-valued key); centroid assignment is one broadcast-literal
    * codegen'd argmin per row ([[graft.ann.Knn.assignClusters]]). At 100 TB
    * the per-cluster pair space is governed by C — size C so N/C rows fit a
    * task (SemDeDup's own regime is C≈100k on billions of docs); the
    * centroid literal stays k·dim doubles, never data-sized.
    */
  def semanticDedup(corpus: DataFrame, id: String, emb: String,
      centroids: Seq[Seq[Double]], threshold: Double,
      simFn: (Column, Column) => Column = graft.functions.VectorFns.cosine)
      : DataFrame = {
    val toD = graft.functions.VectorFns.toDoubleArr _
    val assigned = graft.ann.Knn.assignClusters(corpus, id, emb, centroids)
      .select(col(id), col("cluster"), toD(col(emb)).as("__e"))
      .localCheckpoint(false)
    val lo = assigned.select(col("cluster"), col(id).as("__lo"),
      col("__e").as("__ea"))
    val hi = assigned.select(col("cluster"), col(id).as("__hi"),
      col("__e").as("__eb"))
    val dups = lo.join(hi, Seq("cluster"))
      .filter(col("__lo") < col("__hi"))
      .filter(simFn(col("__ea"), col("__eb")) >= threshold)
      .select(col("__hi").as(id)).distinct()
    assigned
      .join(dups.withColumn("__dup", lit(1)), Seq(id), "left")
      .select(col(id), col("cluster"),
        when(col("__dup").isNotNull, 0).otherwise(1).cast("int").as("kept"))
  }
}
