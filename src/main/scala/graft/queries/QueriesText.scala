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

/** QueriesText registry — the `t`-prefixed SparkEntry queries and their oracle SQL
  * (text analysis, LM scoring, eval metrics). Split from SparkEntry.scala for hygiene; query ids and
  * bodies are unchanged, and SparkEntry merges every family registry
  * back into the single driver-contract maps.
  */
// scalastyle:off
private[graft] object QueriesText {

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // fixed-size token chunking (context-window packing prep): each doc
    // split into 32-token windows via a generated chunk index + slice
    "t13_chunk" -> ((s, d) => {
      val W = 32
      val t = docs(s, d)
        .withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("__n", size(col("toks")))
      // zero-token docs yield zero chunks: without the filter,
      // sequence(0, floor(-1/W)) = sequence(0, -1) walks BACKWARDS and
      // emits two garbage chunk rows (same hazard class as
      // intervalOverlapPairs' degenerate intervals)
      t.filter(col("__n") > 0)
        .withColumn("chunk_idx",
          explode(sequence(lit(0), floor((col("__n") - 1) / W).cast("int"))))
        .select(col("doc_id"), col("chunk_idx"),
          array_join(slice(col("toks"), col("chunk_idx") * W + 1, lit(W)), " ")
            .as("chunk_text"),
          least(col("__n") - col("chunk_idx") * W, lit(W)).cast("int")
            .as("chunk_tokens"))
    }),


    // corpus-level top-k n-grams (the Gopher-style repetition signal at
    // corpus granularity): hash-agg then TakeOrderedAndProject, never a
    // global window
    "t14_ngram_topk" -> ((s, d) =>
      Tables.spread(docs(s, d).select("doc_id", "text"))
        .select(explode(TextFns.rawShingles(TextFns.tokens(col("text")), 3)).as("tri"))
        .groupBy("tri").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tri").asc)
        .limit(25)),


    // ---------------- text analysis ----------------
    "t01_token_stats" -> ((s, d) => {
      val t = docs(s, d).withColumn("toks", TextFns.tokens(col("text")))
      t.select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        round(TextFns.avgTokenLen(col("toks")), 6).as("avg_tok_len"))
    }),


    "t02_quality_score" -> ((s, d) => {
      val stop = Seq("the", "a", "of", "and", "to")
      val t = docs(s, d).withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("n", size(col("toks")))
        .withColumn("n_stop", TextFns.tokenCountIn(col("toks"), stop))
      t.select(col("doc_id"),
        round(col("n_stop").cast("double") / col("n"), 6).as("stopword_ratio"),
        round(size(array_distinct(col("toks"))).cast("double") / col("n"), 6).as("ttr"),
        when(col("n").between(20, 500) &&
          col("n_stop").cast("double") / col("n") < 0.4, 1).otherwise(0).as("quality_ok"))
    }),


    "t03_lang_id" -> ((s, d) => {
      val t = docs(s, d).withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("r_the",
          TextFns.tokenCountIn(col("toks"), Seq("the")).cast("double") / size(col("toks")))
      t.select(col("doc_id"), round(col("r_the"), 6).as("marker_score"),
        when(col("r_the") >= 0.05, "en_like")
          .when(col("r_the") >= 0.025, "mixed")
          .otherwise("other").as("pred_lang"))
    }),


    "t04_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextFns.fingerprint(col("text")).as("fp"))),


    // declared-vs-detected language agreement matrix: the t03 heuristic
    // cross-tabbed against the source's lang tag — the DQ check that
    // catches mislabeled-language feeds before they poison a lang filter
    "t33_langid_confusion" -> ((s, d) => {
      val t = docs(s, d).withColumn("toks", TextFns.tokens(col("text")))
        .withColumn("r_the",
          TextFns.tokenCountIn(col("toks"), Seq("the")).cast("double") /
            size(col("toks")))
        .withColumn("pred_lang",
          when(col("r_the") >= 0.05, "en_like")
            .when(col("r_the") >= 0.025, "mixed")
            .otherwise("other"))
      t.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .join(t.groupBy(col("lang")).agg(count(lit(1)).as("__nl")),
          Seq("lang"))
        .select(col("lang"), col("pred_lang"), col("n"),
          round(col("n").cast("double") / col("__nl"), 6).as("row_share"))
    }),


    // TF-IDF top terms per document: explode → tf/df aggregates → df join →
    // windowed top-k with total-order tie-break. The corpus size N is a
    // 1-row aggregate cross-joined in (broadcast, lazily evaluated with the
    // rest of the plan) — not an eager driver-side count()
    "t06_tfidf_top_terms" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      // df derives from tf (one row per (doc, term)) — no second explode
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDf = docs(s, d).agg(count(lit(1)).as("__n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(df_, Seq("term"))
        .crossJoin(broadcast(nDf))
        .withColumn("score",
          round(col("tf") * TextFns.smoothIdf(col("__n"), col("df")), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "term", "score", "rank")
    }),


    // UDTF-equivalent: one-row-to-many section split via posexplode
    // (reference notes section splitter, notes_preproc.py:142-163)
    "t05_explode_sections" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " data ")))
        .select(col("doc_id"), col("pos").as("sec_no"), col("col").as("section"))),


    // ---------------- notes NLP (ConText-style rule tagging) ----------------
    // corpus-appropriate rule set: cue terms within 2 tokens before a
    // target term mark the section (the algorithm is the reference's
    // negation/severity tagger, notes_preproc.py:163-224; cue vocabulary is
    // configuration)
    "t07_context_negation" -> ((s, d) => {
      val secs = graft.functions.NotesNlp.splitSections(docs(s, d), "doc_id", "text", " data ")
      secs.select(col("doc_id"), col("sec_no"),
        graft.functions.NotesNlp.cueFlag(col("section"),
          Seq("slow", "small"), Seq("scan", "query"), 2).as("negated"))
    }),


    // backward window: post-position cues ("<target> ... <cue>") plus the
    // combined pre-or-post scope
    "t10_context_post" -> ((s, d) => {
      val secs = graft.functions.NotesNlp.splitSections(docs(s, d), "doc_id", "text", " data ")
      val cues = Seq("slow", "small")
      val targets = Seq("scan", "query")
      secs.select(col("doc_id"), col("sec_no"),
        graft.functions.NotesNlp.postCueFlag(col("section"), cues, targets, 2).as("post_flag"),
        graft.functions.NotesNlp.scopedFlag(col("section"), cues, targets, 2).as("scoped_flag"))
    }),


    "t08_severity" -> ((s, d) => {
      val secs = graft.functions.NotesNlp.splitSections(docs(s, d), "doc_id", "text", " data ")
      val cue = graft.functions.NotesNlp.nearestCue(col("section"),
        Seq("slow", "small"), Seq("scan", "query"), 2)
      secs.select(col("doc_id"), col("sec_no"), cue.as("modifier"),
        graft.functions.NotesNlp.severityScore(cue, Seq("slow" -> 2, "small" -> 1))
          .as("severity"))
    }),


    // repetition filter (the Gopher/C4-style quality rule): fraction of the
    // document's trigram positions occupied by its most frequent trigram —
    // high ratio = boilerplate/looped text
    "t12_repetition" -> ((s, d) => {
      val tri = Tables.spread(docs(s, d).select("doc_id", "text"))
        .select(col("doc_id"),
          explode(TextFns.rawShingles(TextFns.tokens(col("text")), 3)).as("tri"))
      tri.groupBy("doc_id", "tri").agg(count(lit(1)).as("__c"))
        .groupBy("doc_id")
        .agg(sum("__c").cast("long").as("n_tri"),
          max("__c").cast("long").as("max_tri"),
          round(max("__c").cast("double") / sum("__c"), 6).as("rep_ratio"))
    }),


    // PII-style scrub: mask digit runs (the id/phone/ssn pattern class) in a
    // semi-structured column — the redaction pass of a training-data
    // pipeline, as a single codegen'd regexp_replace
    "t11_redact" -> ((s, d) =>
      ev(s, d).select(col("event_id"),
        regexp_replace(col("props"), "\\d+", "#").as("props_redacted"),
        (length(col("props")) - length(regexp_replace(col("props"), "\\d", "")))
          .cast("int").as("n_digits"))),


    "t09_stem" -> ((s, d) =>
      Tables.spread(docs(s, d).select("doc_id", "text"))
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        .distinct()
        .select(col("doc_id"), col("tok"),
          graft.functions.NotesNlp.lightStem(col("tok")).as("stem"))),


    // dictionary-first lemmatization: broadcast irregular-form lookup,
    // rule-stem fallback — the medspaCy-closing pass (VERDICT r7 #6); one
    // Scala list feeds both the broadcast join and the oracle VALUES
    "t09b_lemmatize" -> ((s, d) =>
      graft.functions.NotesNlp.lemmatize(
        Tables.spread(docs(s, d).select("doc_id", "text"))
          .select(col("doc_id"),
            explode(TextFns.tokens(col("text"))).as("tok"))
          .distinct(),
        "tok", "lemma")),


    // first-occurrence n-gram novelty by ingestion order: the share of a
    // doc's distinct 3-gram shingles whose FIRST corpus appearance is
    // this doc — the memorization/staleness signal of an incremental
    // crawl; one min-aggregate over the exploded shingle frame + a join
    // back, never shingle × shingle
    "t38_ngram_novelty" -> ((s, d) => {
      // shingles off the PINNED tokenized frame (sharedToks) — the corpus
      // regex-tokenize runs once per pass across the whole t-family, not
      // again here; same tokens function, so the shingle stream and every
      // count below are unchanged
      val sh = sharedToks(s, d).select(col("doc_id"),
        explode(TextFns.shingles(col("__t"), 3)).as("sg"))
      val first = sh.groupBy("sg").agg(min("doc_id").as("__first"))
      sh.join(first, Seq("sg"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel").cast("double") /
            col("n_shingles").cast("double"), 6).as("novelty"))
    }),


    // ---------------- reader/sink round-trips (S3/S5/S10) ----------------
    // sink writes to a fresh temp dir, source reads it back with an
    // explicit schema; the oracle checks the round-trip is lossless
    // against the original table
    // full ConText tag set per section — all four modifier classes
    // (negation / historical / family / hypothetical analogues) in ONE
    // scan pass, each a codegen'd rlike; reference tags these classes per
    // entity (notes_preproc.py:163-224), here with corpus-vocabulary cue
    // sets standing in for the clinical rule lists
    "t15_context_classes" -> ((s, d) => {
      val nlp = graft.functions.NotesNlp
      val secs = nlp.splitSections(docs(s, d), "doc_id", "text", " data ")
      secs.select(col("doc_id"), col("sec_no"),
        nlp.cueFlag(col("section"), Seq("slow", "small"), Seq("scan", "query"), 2)
          .as("negated"),
        nlp.cueFlag(col("section"), Seq("old", "prior", "batch"), Seq("join", "merge"), 2)
          .as("historical"),
        nlp.cueFlag(col("section"), Seq("group", "cluster"), Seq("key", "row"), 2)
          .as("family"),
        nlp.cueFlag(col("section"), Seq("fast", "stream"), Seq("sort", "filter"), 2)
          .as("hypothetical"))
    }),


    // per-source unigram entropy + type/token counts (corpus diversity
    // report): explode → two stacked hash aggregates
    "t16_source_entropy" -> ((s, d) =>
      SummaryOps.groupEntropy(
        Tables.spread(docs(s, d).select("source", "text"))
          .select(col("source"), explode(TextFns.tokens(col("text"))).as("tok")),
        "source", "tok")
        .withColumnRenamed("n_rows", "n_tokens")
        .withColumnRenamed("n_categories", "n_types")),


    // inter-document n-gram duplication (the CCNet/Gopher "dup 5-gram
    // fraction" quality signal): share of a doc's 5-gram positions whose
    // gram also occurs in some OTHER doc — explode, corpus-wide
    // distinct-doc counts per gram, join back, per-doc ratio
    "t17_dup_ngrams" -> ((s, d) => {
      val g = Tables.spread(docs(s, d).select("doc_id", "text"))
        .select(col("doc_id"),
          explode(TextFns.rawShingles(TextFns.tokens(col("text")), 5)).as("g"))
      val docsPerGram = g.groupBy("g").agg(countDistinct(col("doc_id")).as("__nd"))
      g.join(docsPerGram, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_grams"),
          sum(when(col("__nd") >= 2, 1L).otherwise(0L)).cast("long").as("n_shared"),
          round(avg(when(col("__nd") >= 2, 1.0).otherwise(0.0)), 6).as("dup_fraction"))
    }),

    // CCNet-style perplexity proxy: train an add-1-smoothed unigram model
    // on the corpus itself, score each doc by mean negative log-likelihood.
    // The 1-row (N, V) aggregate broadcasts (bounded by construction); the
    // token↔prob join shuffles on the token — vocab never sits on one task
    "t18_unigram_logprob" -> ((s, d) => {
      val tok = Tables.spread(docs(s, d).select("doc_id", "text"))
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      val counts = tok.groupBy("tok").agg(count(lit(1)).as("__c"))
      val stats = counts.agg(sum("__c").cast("double").as("__n"),
        count(lit(1)).cast("double").as("__v"))
      val probs = counts.crossJoin(broadcast(stats))
        .select(col("tok"),
          ((col("__c").cast("double") + 1.0) / (col("__n") + col("__v"))).as("__p"))
      tok.join(probs, Seq("tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_toks"),
          round(avg(-log(col("__p"))), 6).as("avg_nll"))
    }),


    // BM25 keyword retrieval: top-10 docs for a 3-term query; the final
    // top-k is TakeOrderedAndProject, never a global window
    "t19_bm25_topk" -> ((s, d) =>
      RetrievalOps.bm25TopK(docs(s, d), "doc_id", "text",
        terms = Seq("spark", "window", "join"), k = 10)),


    // per-source KL divergence from the corpus unigram distribution — the
    // domain-shift ranking behind mixture design; unseen-token mass in
    // closed form, so no source×vocab grid and no cross product
    "t21_kl_divergence" -> ((s, d) =>
      SummaryOps.klFromCorpus(docs(s, d), "source", "text")),


    // PMI collocations over adjacent token pairs, low-frequency tail pruned
    "t20_pmi_bigrams" -> ((s, d) =>
      SummaryOps.pmiBigrams(docs(s, d), "text", minCount = 5L)),


    // Zipf slope of the corpus token distribution — corpus forensics:
    // ≈ −1 for natural language, flatter for templated text; fixed-point
    // logs keep the OLS engine-exact
    "t22_zipf_fit" -> ((s, d) => {
      val toks = docs(s, d)
        .select(explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      RegressionOps.zipfFit(toks, "tok", "cnt")
    }),


    // Heaps'-law vocabulary growth fit over the id-ordered corpus — the
    // sequential-looking statistic built from global stream indexes,
    // min_by first occurrences and two bounded cumsums
    "t23_heaps_fit" -> ((s, d) =>
      RegressionOps.heapsFit(docs(s, d), "doc_id", "text")),


    // reciprocal-rank fusion of a lexical (BM25) and a length-prior
    // ranking — hybrid retrieval without score calibration; ranks via the
    // exchange-parallel two-phase row_number
    "t24_rrf_fusion" -> ((s, d) => {
      val lex = RetrievalOps.bm25TopK(docs(s, d), "doc_id", "text",
        terms = Seq("spark", "window", "join"), k = 50)
      val prior = docs(s, d)
        .select(col("doc_id"), col("n_chars").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(50)
      RetrievalOps.rrfFuse(Seq(lex, prior), "doc_id", k = 20)
    }),


    // per-source Jensen-Shannon divergence vs the REST of the corpus —
    // the bounded symmetric drift ranking (t21's KL companion); unseen
    // mass in closed form, group totals a tiny broadcast
    "t27_jsd_sources" -> ((s, d) =>
      SummaryOps.jsdFromRest(docs(s, d), "source", "text")),


    // RAKE keyword extraction: stopword-delimited candidate phrases,
    // degree/frequency word scores, top-25 phrases corpus-wide
    "t26_rake_keywords" -> ((s, d) =>
      RetrievalOps.rakeTopK(docs(s, d), "doc_id", "text",
        stopWords = Seq("the", "a", "of", "and", "to"), k = 25)),


    // add-1-smoothed bigram LM trained on the corpus, scoring each doc's
    // average transition log-likelihood — the cheap perplexity-style
    // fluency gate of a quality-filter stack
    "t28_bigram_lm" -> ((s, d) =>
      SummaryOps.bigramLogProb(gramProf(s, d))),


    // code-vs-prose gate: structural-symbol and digit densities per doc
    // (the code-filtering signal of a corpus curator) — single codegen'd
    // projection, no joins
    "t29_code_detect" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), col("n_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[{}()\\[\\];=<>]", "")))
          .cast("long").as("n_sym"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("n_digit"))
        .withColumn("sym_ratio",
          round(col("n_sym").cast("double") / col("n_chars"), 6))
        .withColumn("is_code", col("sym_ratio") > 0.02)
        .drop("n_chars")),


    // lexical diversity per doc: type-token ratio and its length-robust
    // root form — the vocabulary-richness quality signal
    "t30_lexical_diversity" -> ((s, d) =>
      Tables.spread(docs(s, d).select("doc_id", "text"))
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("__t"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("__t")).as("n_types"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
          round(col("n_types").cast("double") / sqrt(col("n_tokens")), 6)
            .as("rttr"))),


    // template detection: share of docs whose first-20-token prefix is
    // shared with ≥1 other doc — boilerplate/template feeds jump out
    "t35_prefix_dup_rate" -> ((s, d) => {
      val pref = md5(array_join(slice(TextFns.tokens(col("text")), 1, 20),
        " "))
      val t = docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), pref.as("__p"))
      val cnts = t.groupBy("__p").agg(count(lit(1)).as("__c"))
      t.join(cnts, Seq("__p"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_templated"),
          round(sum(when(col("__c") > 1, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("templated_rate"))
    }),


    // winnowing fingerprint overlap (Schleimer et al. 2003, the MOSS
    // algorithm): 3-gram MD5s, 4-wide window minima, then the shared-
    // fingerprint pair report over the inverted index with the stop-
    // fingerprint df cap — position-robust partial-overlap detection at
    // ~2/(w+1) of the k-gram posting volume
    "t36_winnow_pairs" -> ((s, d) =>
      DedupOps.winnowSharedPairs(docs(s, d), "doc_id", "text",
        k = 3, w = 4, minShared = 2, maxDf = 50)),


    // Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty) —
    // the LM counterpart of t19's BM25; absent terms contribute the
    // smoothed background mass, per-term log contributions pinned to
    // integer picos before the per-doc sum (order-independent)
    "t37_qlm_topk" -> ((s, d) =>
      RetrievalOps.queryLikelihoodTopK(docs(s, d), "doc_id", "text",
        terms = Seq("spark", "window", "join"), k = 20, mu = 200.0)),


    // GPT-2-style pre-tokenizer count: the contraction/letter-run/digit-run/
    // punct-run alternation (leftmost-first in BOTH Java regex and RE2) —
    // a far closer token-budget estimate than whitespace counting, still
    // one codegen'd map-only pass; ws count alongside for the ratio
    "t32_subword_count" -> ((s, d) => {
      val pat = "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+" +
        "| ?[^\\sa-zA-Z0-9]+|\\s+"
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .as("n_subtoks"),
          size(TextFns.tokens(col("text"))).as("n_ws_toks"))
    }),


    // REAL BPE subword counts: 10 greedy merges trained on the corpus
    // vocabulary (pair-count aggregate + 1-row top collect per round —
    // the GraphOps fixed-point pattern), then a broadcast-vocab second
    // pass; t32 stops at the pre-tokenizer, this applies the merges
    "t34_bpe_count" -> ((s, d) =>
      BpeOps.bpeTokenCounts(docs(s, d), "doc_id", "text", k = 10)),


    // per-doc Unicode-class composition (letter/upper/digit/space/other
    // ratios) — the script-detection gate of a corpus curator; char-class
    // counts as length deltas of regexp strips, zero UDFs
    "t31_script_ratios" -> ((s, d) => {
      val t = col("text")
      val n = length(t)
      def cnt(cls: String) = n - length(regexp_replace(t, cls, ""))
      docs(s, d).filter(t.isNotNull && n > 0)
        .select(col("doc_id"),
          round(cnt("[a-zA-Z]").cast("double") / n, 6).as("letter_ratio"),
          round(cnt("[A-Z]").cast("double") / n, 6).as("upper_ratio"),
          round(cnt("[0-9]").cast("double") / n, 6).as("digit_ratio"),
          round(cnt("\\s").cast("double") / n, 6).as("space_ratio"),
          round(cnt("[^a-zA-Z0-9\\s]").cast("double") / n, 6)
            .as("other_ratio"))
    }),


    // Gopher word-level quality rules (Rae et al. 2021 A1.1): five
    // per-doc heuristics + composite keep, one codegen'd map-only pass
    "t40_gopher_rules" -> ((s, d) =>
      QualityOps.gopherRules(docs(s, d), "doc_id", "text")),


    // CCNet perplexity gate (Wenzek et al. 2020): corpus-relative
    // head/middle/tail terciles of bigram-LM perplexity via the
    // two-phase exact global rank — no single-partition exchange
    "t39_ppl_buckets" -> ((s, d) =>
      QualityOps.perplexityBuckets(gramProf(s, d))),


    // TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
    // symmetrized adjacent-token co-occurrence graph, top-20 words —
    // the graph-centrality keyword extractor next to RAKE's (t26)
    // frequency heuristic; reuses the pr01 fixed-point machinery
    "t41_textrank" -> ((s, d) => {
      // bigrams off the PINNED tokenized frame (the t38 argument)
      val pairs = sharedToks(s, d)
        .select(explode(TextFns.rawShingles(col("__t"), 2)).as("__bg"))
        .select(substring_index(col("__bg"), " ", 1).as("a"),
          substring_index(col("__bg"), " ", -1).as("b"))
        .filter(col("a") =!= col("b"))
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .union(pairs.select(col("b").as("src"), col("a").as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
      GraphOps.pageRank(edges, "src", "dst", "cnt",
          iters = 3, damping = 0.85)
        .orderBy(col("rank").desc, col("node").asc)
        .limit(20)
        .select(col("node").as("word"), col("rank"))
    }),


    // char-trigram language ID (Cavnar–Trenkle family, add-1 multinomial
    // form): per-language models trained on the declared labels, every
    // doc scored under all languages with EXACT integer arithmetic,
    // declared-vs-predicted confusion out — the strong-audit sibling of
    // the t03/t33 stopword heuristic
    "t43_charngram_langid" -> ((s, d) =>
      QualityOps.charNgramLangIdFromCounts(charGramProf(s, d),
        "doc_id", "lang")),


    // per-doc lexical richness (Yule 1944): TTR, hapax ratio, Yule's K
    // from the frequency spectrum — two stacked hash aggregates, exact
    // integers into three closing divisions
    "t44_lexical_richness" -> ((s, d) =>
      QualityOps.lexicalRichness(docs(s, d), "doc_id", "text")),


    // Gopher repetition rules (Rae et al. 2021 Table A1, within-doc
    // half): top-bigram character fraction + duplicated-5-gram position
    // coverage + composite keep — per-doc hash aggregates only
    "t45_gopher_repetition" -> ((s, d) =>
      QualityOps.gopherRepetition(docs(s, d), "doc_id", "text")),


    // interpolated Kneser-Ney bigram LM (Kneser & Ney 1995, Chen &
    // Goodman 1998; fixed D = 0.75): continuation counts off the same
    // distinct-bigram frame, pico-pinned model logprobs, exact DECIMAL
    // per-doc sums — the modern-smoothing sibling of t28
    "t46_kneser_ney" -> ((s, d) =>
      SummaryOps.knBigramLogProb(gramProf(s, d))),


    // the TRUE CCNet filter shape (Wenzek et al. 2020): a bigram LM
    // trained on the TARGET slice (English) scores the whole corpus,
    // side by side with the self-trained t28 score — delta > 0 reads
    // "more target-like than corpus-average"; unseen grams exercise the
    // add-1 floor via left joins
    "t42_domain_lm_delta" -> ((s, d) => {
      val p = gramProf(s, d)
      val target = SummaryOps.bigramLogProbAgainst(p,
          docs(s, d).filter(col("lang") === "en").select("doc_id"))
        .withColumnRenamed("avg_logprob", "lp_target")
        .select("doc_id", "n_bigrams", "lp_target")
      val self = SummaryOps.bigramLogProb(p)
        .withColumnRenamed("avg_logprob", "lp_corpus")
        .select("doc_id", "lp_corpus")
      target.join(self, Seq("doc_id"))
        .select(col("doc_id"), col("n_bigrams"), col("lp_target"),
          col("lp_corpus"),
          round(col("lp_target") - col("lp_corpus"), 6).as("delta"))
    }),


    // corpus-wide BLEU-2 (Papineni et al. 2002) over a deterministic
    // eval pairing (each even doc scored against its same-language
    // successor): clipped integer n-gram matches via (doc, n, gram)
    // equi-joins — each doc is in O(1) pairs, so the whole scoring is
    // linear; no smoothing, standard brevity penalty
    "t47_bleu" -> ((s, d) =>
      EvalOps.bleuFromOverlap(wordOverlap(s, d), maxN = 2)),


    // ROUGE-2 recall/precision/F1 over the same eval pairing — the
    // reference-recall side of the t47 precision metric, off the same
    // clipped-match frame
    "t48_rouge2" -> ((s, d) =>
      EvalOps.rougeNFromOverlap(wordOverlap(s, d), n = 2)),


    // chrF (Popović 2015) over the t47 eval pairing — character n-gram
    // F-β, the tokenization-free member of the eval-metric triple; same
    // clipped-match equi-join core as BLEU/ROUGE, char grams instead
    "t49_chrf" -> ((s, d) =>
      EvalOps.chrFFromOverlap(charOverlap(s, d), maxN = 3)),


    // keyword-in-context concordance: ±3-token windows around every
    // occurrence of "spark" — linear posexplode, term-count output
    "t50_kwic" -> ((s, d) =>
      QualityOps.kwic(docs(s, d), "doc_id", "text", "spark", 3))
  )

  def oracles: Map[String, String] = Map(
    "t34_bpe_count" -> t34OracleSql,


    "t35_prefix_dup_rate" ->
      """WITH t AS (SELECT doc_id, source,
                           MD5(ARRAY_TO_STRING(
                             STRING_SPLIT_REGEX(TRIM(text), '\s+')[1:20],
                             ' ')) AS p
                    FROM documents WHERE text IS NOT NULL),
         c AS (SELECT p, COUNT(*) AS c FROM t GROUP BY 1)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_templated,
                ROUND(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) * 1.0
                      / COUNT(*), 6) + 0.0 AS templated_rate
         FROM t JOIN c USING (p) GROUP BY 1""",


    // 3-gram MD5s with ordinal positions, 4-wide window minima over full
    // windows only, distinct per-doc fingerprint set, df-capped
    // inverted-index pair join — mirrors DedupOps.winnowSharedPairs
    "t36_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         g AS (SELECT doc_id, UNNEST(GENERATE_SERIES(1, LEN(toks) - 2)) AS i,
                      toks
               FROM t WHERE LEN(toks) >= 6),
         gh AS (SELECT doc_id, i - 1 AS pos,
                       MD5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                         AS h
                FROM g),
         n AS (SELECT doc_id, COUNT(*) AS ng FROM gh GROUP BY 1),
         wm AS (SELECT doc_id, pos,
                       MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmv
                FROM gh),
         fp AS (SELECT DISTINCT wm.doc_id, wmv AS fp
                FROM wm JOIN n USING (doc_id) WHERE pos <= ng - 4),
         df AS (SELECT fp, COUNT(*) AS df FROM fp GROUP BY 1),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      COUNT(*) AS n_shared
               FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
               JOIN df ON df.fp = a.fp AND df.df <= 50
               GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared FROM p
         WHERE n_shared >= 2""",


    "t32_subword_count" ->
      """SELECT doc_id,
                CAST(LEN(REGEXP_EXTRACT_ALL(text,
                  '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+|\s+'))
                  AS INTEGER) AS n_subtoks,
                CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS INTEGER)
                  AS n_ws_toks
         FROM documents WHERE text IS NOT NULL""",


    "t31_script_ratios" ->
      """SELECT doc_id,
                ROUND((LEN(text) - LEN(REGEXP_REPLACE(text, '[a-zA-Z]', '',
                  'g'))) * 1.0 / LEN(text), 6) + 0.0 AS letter_ratio,
                ROUND((LEN(text) - LEN(REGEXP_REPLACE(text, '[A-Z]', '',
                  'g'))) * 1.0 / LEN(text), 6) + 0.0 AS upper_ratio,
                ROUND((LEN(text) - LEN(REGEXP_REPLACE(text, '[0-9]', '',
                  'g'))) * 1.0 / LEN(text), 6) + 0.0 AS digit_ratio,
                ROUND((LEN(text) - LEN(REGEXP_REPLACE(text, '\s', '',
                  'g'))) * 1.0 / LEN(text), 6) + 0.0 AS space_ratio,
                ROUND((LEN(text) - LEN(REGEXP_REPLACE(text,
                  '[^a-zA-Z0-9\s]', '', 'g'))) * 1.0 / LEN(text), 6) + 0.0
                  AS other_ratio
         FROM documents WHERE text IS NOT NULL AND LEN(text) > 0""",


    "t16_source_entropy" ->
      """WITH tok AS (SELECT source,
                UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
              FROM documents),
         c AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
         SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
                CAST(COUNT(*) AS BIGINT) AS n_types,
                ROUND(LN(SUM(c))
                      - CAST(SUM(CAST(c AS HUGEINT)
                                 * CAST(ROUND(LN(c) * 1e12, 0) AS BIGINT))
                          AS DOUBLE) / 1e12 / SUM(c), 6) + 0.0 AS entropy
         FROM c GROUP BY source""",


    "t17_dup_ngrams" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         g AS (SELECT doc_id,
                      UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 4),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                             toks[i+3] || ' ' || toks[i+4])) AS g
               FROM t WHERE LEN(toks) >= 5),
         nd AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
         SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
                CAST(SUM(CASE WHEN nd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
                ROUND(AVG(CASE WHEN nd.nd >= 2 THEN 1.0 ELSE 0.0 END), 6) + 0.0 AS dup_fraction
         FROM g JOIN nd USING (g) GROUP BY g.doc_id""",


    "t18_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
                      FROM documents),
         c AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
         st AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM c),
         p AS (SELECT tok, (CAST(c AS DOUBLE) + 1.0) / (n + v) AS p
               FROM c CROSS JOIN st)
         SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
                ROUND(AVG(-LN(p.p)), 6) + 0.0 AS avg_nll
         FROM tok t JOIN p USING (tok) GROUP BY t.doc_id""",


    "t13_chunk" ->
      """WITH t AS (
           SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, toks, LEN(toks) AS n,
                  UNNEST(GENERATE_SERIES(0,
                    CAST(FLOOR((LEN(toks) - 1) / 32.0) AS INTEGER))) AS chunk_idx
           FROM t)
         SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                ARRAY_TO_STRING(
                  toks[chunk_idx * 32 + 1 : LEAST(chunk_idx * 32 + 32, n)], ' ')
                  AS chunk_text,
                CAST(LEAST(n - chunk_idx * 32, 32) AS INTEGER) AS chunk_tokens
         FROM c""",


    "t14_ngram_topk" ->
      """WITH t AS (SELECT STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT UNNEST(CASE WHEN LEN(toks) >= 3 THEN
                 LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                 ELSE [] END) AS tri FROM t)
         SELECT tri, COUNT(*) AS cnt FROM s
         GROUP BY 1 ORDER BY cnt DESC, tri ASC LIMIT 25""",


    "t01_token_stats" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents)
         SELECT doc_id, CAST(LEN(toks) AS INTEGER) AS n_tokens,
                CAST(LEN(LIST_DISTINCT(toks)) AS INTEGER) AS n_uniq,
                ROUND(LIST_SUM(LIST_TRANSFORM(toks, x -> CAST(LEN(x) AS DOUBLE)))
                      / LEN(toks), 6) + 0.0 AS avg_tok_len
         FROM t""",


    "t02_quality_score" ->
      """WITH t AS (
           SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         q AS (
           SELECT doc_id, LEN(toks) AS n, LEN(LIST_DISTINCT(toks)) AS nu,
                  LEN(LIST_FILTER(toks, x -> x IN ('the','a','of','and','to'))) AS n_stop
           FROM t)
         SELECT doc_id, ROUND(n_stop * 1.0 / n, 6) + 0.0 AS stopword_ratio,
                ROUND(nu * 1.0 / n, 6) + 0.0 AS ttr,
                CASE WHEN n BETWEEN 20 AND 500 AND n_stop * 1.0 / n < 0.4
                     THEN 1 ELSE 0 END AS quality_ok
         FROM q""",


    "t03_lang_id" ->
      """WITH t AS (
           SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         r AS (
           SELECT doc_id,
                  LEN(LIST_FILTER(toks, x -> x = 'the')) * 1.0 / LEN(toks) AS r_the
           FROM t)
         SELECT doc_id, ROUND(r_the, 6) + 0.0 AS marker_score,
                CASE WHEN r_the >= 0.05 THEN 'en_like'
                     WHEN r_the >= 0.025 THEN 'mixed'
                     ELSE 'other' END AS pred_lang
         FROM r""",


    "t04_fingerprint" ->
      """SELECT doc_id, MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS fp
         FROM documents""",


    "t33_langid_confusion" ->
      """WITH t AS (
           SELECT doc_id, lang,
                  STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
           FROM documents),
         p AS (
           SELECT lang,
                  CASE WHEN r >= 0.05 THEN 'en_like'
                       WHEN r >= 0.025 THEN 'mixed'
                       ELSE 'other' END AS pred_lang
           FROM (SELECT lang,
                        LEN(LIST_FILTER(toks, x -> x = 'the')) * 1.0
                          / LEN(toks) AS r
                 FROM t)),
         c AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM p GROUP BY 1, 2),
         l AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl
               FROM p GROUP BY 1)
         SELECT c.lang, c.pred_lang, c.n,
                ROUND(c.n * 1.0 / l.nl, 6) + 0.0 AS row_share
         FROM c JOIN l USING (lang)""",


    "t06_tfidf_top_terms" ->
      """WITH toks AS (
           SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks)
                GROUP BY 1),
         n AS (SELECT COUNT(*) AS n FROM documents),
         scored AS (
           SELECT doc_id, term,
                  ROUND(tf * (LN((n + 1.0) / (df + 1.0)) + 1.0), 6) + 0.0 AS score
           FROM tf JOIN df USING (term) CROSS JOIN n)
         SELECT doc_id, term, score, CAST(rn AS INTEGER) AS rank FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term ASC) AS rn FROM scored)
         WHERE rn <= 3""",


    "t05_explode_sections" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' data ') AS parts FROM documents)
         SELECT doc_id, CAST(i - 1 AS INTEGER) AS sec_no, parts[i] AS section
         FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 500)) AS i)
         WHERE i <= LEN(parts)""",


    "t12_repetition" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         tri AS (SELECT doc_id,
                        UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tri
                 FROM t WHERE LEN(toks) >= 3),
         c AS (SELECT doc_id, tri, COUNT(*) AS c FROM tri GROUP BY 1, 2)
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri, CAST(MAX(c) AS BIGINT) AS max_tri,
                ROUND(MAX(c) * 1.0 / SUM(c), 6) + 0.0 AS rep_ratio
         FROM c GROUP BY doc_id""",


    "t11_redact" ->
      """SELECT event_id,
                REGEXP_REPLACE(props, '\d+', '#', 'g') AS props_redacted,
                CAST(LEN(props) - LEN(REGEXP_REPLACE(props, '\d', '', 'g')) AS INTEGER)
                  AS n_digits
         FROM events""",


    "t09_stem" ->
      """SELECT DISTINCT doc_id, tok,
                REGEXP_REPLACE(tok, '(\w{3,}?)(ing|edly|ied|ies|ier|ed|er|es|s)$', '\1') AS stem
         FROM (SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
               FROM documents)""",


    "t09b_lemmatize" ->
      s"""WITH toks AS (SELECT DISTINCT doc_id, tok
                      FROM (SELECT doc_id,
                                   UNNEST(STRING_SPLIT_REGEX(TRIM(text),
                                     '\\s+')) AS tok
                            FROM documents)),
         dict(form, lemma) AS (VALUES $lemmaDictSqlValues)
         SELECT t.doc_id, t.tok,
                COALESCE(d.lemma, REGEXP_REPLACE(t.tok,
                  '(\\w{3,}?)(ing|edly|ied|ies|ier|ed|er|es|s)$$', '\\1'))
                  AS lemma
         FROM toks t LEFT JOIN dict d ON t.tok = d.form""",


    // per-shingle first-appearance min + join back; docs under 3 tokens
    // have no shingles and drop on both sides
    "t38_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id, CASE WHEN LEN(toks) >= 3 THEN
                 LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                 ELSE [] END AS sh FROM t),
         ex AS (SELECT doc_id, UNNEST(sh) AS sg FROM s),
         f AS (SELECT sg, MIN(doc_id) AS fst FROM ex GROUP BY 1)
         SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
                CAST(SUM(CASE WHEN f.fst = ex.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
                ROUND(CAST(SUM(CASE WHEN f.fst = ex.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) + 0.0
                  AS novelty
         FROM ex JOIN f USING (sg) GROUP BY 1""",


    "t07_context_negation" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' data ') AS parts FROM documents),
         s AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS sec_no, parts[i] AS section
               FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 500)) AS i)
               WHERE i <= LEN(parts))
         SELECT doc_id, sec_no,
                CASE WHEN REGEXP_MATCHES(section,
                       '(^|\s)(slow|small)(\s+\w+){0,2}\s+(scan|query)(\s|$)')
                     THEN 1 ELSE 0 END AS negated
         FROM s""",


    "t10_context_post" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' data ') AS parts FROM documents),
         s AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS sec_no, parts[i] AS section
               FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 500)) AS i)
               WHERE i <= LEN(parts))
         SELECT doc_id, sec_no,
                CASE WHEN REGEXP_MATCHES(section,
                       '(^|\s)(scan|query)(\s+\w+){0,2}\s+(slow|small)(\s|$)')
                     THEN 1 ELSE 0 END AS post_flag,
                CASE WHEN REGEXP_MATCHES(section,
                       '(^|\s)(slow|small)(\s+\w+){0,2}\s+(scan|query)(\s|$)')
                       OR REGEXP_MATCHES(section,
                       '(^|\s)(scan|query)(\s+\w+){0,2}\s+(slow|small)(\s|$)')
                     THEN 1 ELSE 0 END AS scoped_flag
         FROM s""",


    "t08_severity" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' data ') AS parts FROM documents),
         s AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS sec_no, parts[i] AS section
               FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 500)) AS i)
               WHERE i <= LEN(parts)),
         m AS (SELECT doc_id, sec_no,
                      REGEXP_EXTRACT(section,
                        '(^|\s)(slow|small)(\s+\w+){0,2}\s+(scan|query)(\s|$)', 2) AS modifier
               FROM s)
         SELECT doc_id, sec_no, modifier,
                CASE modifier WHEN 'slow' THEN 2 WHEN 'small' THEN 1 ELSE 0 END AS severity
         FROM m""",


    "t15_context_classes" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' data ') AS parts FROM documents),
         s AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS sec_no, parts[i] AS section
               FROM t CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 500)) AS i)
               WHERE i <= LEN(parts))
         SELECT doc_id, sec_no,
                CASE WHEN REGEXP_MATCHES(section,
                       '(^|\s)(slow|small)(\s+\w+){0,2}\s+(scan|query)(\s|$)')
                     THEN 1 ELSE 0 END AS negated,
                CASE WHEN REGEXP_MATCHES(section,
                       '(^|\s)(old|prior|batch)(\s+\w+){0,2}\s+(join|merge)(\s|$)')
                     THEN 1 ELSE 0 END AS historical,
                CASE WHEN REGEXP_MATCHES(section,
                       '(^|\s)(group|cluster)(\s+\w+){0,2}\s+(key|row)(\s|$)')
                     THEN 1 ELSE 0 END AS family,
                CASE WHEN REGEXP_MATCHES(section,
                       '(^|\s)(fast|stream)(\s+\w+){0,2}\s+(sort|filter)(\s|$)')
                     THEN 1 ELSE 0 END AS hypothetical
         FROM s""",


    "t19_bm25_topk" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
                      FROM documents),
         dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
         tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
                FROM tok WHERE tok IN ('spark', 'window', 'join') GROUP BY 1, 2),
         dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         contrib AS (SELECT tf.doc_id,
                            CAST(ROUND(LN((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                              * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)))
                              * 1e12, 0) AS BIGINT) AS cfp
                     FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN st)
         SELECT doc_id, ROUND(SUM(cfp) / 1e12, 6) + 0.0 AS score
         FROM contrib GROUP BY 1
         ORDER BY score DESC, doc_id ASC LIMIT 10""",


    // Dirichlet QLM: dense doc×term frame (absent terms score the
    // smoothed background), per-term LN contribution pinned to integer
    // picos before the per-doc sum — mirrors queryLikelihoodTopK
    // expression-for-expression (µ·(cf/C) grouping included)
    "t37_qlm_topk" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
                      FROM documents),
         dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM tok),
         cf AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cf
                FROM tok WHERE tok IN ('spark', 'window', 'join') GROUP BY 1),
         tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
                FROM tok WHERE tok IN ('spark', 'window', 'join') GROUP BY 1, 2),
         dense AS (SELECT dl.doc_id, dl.dl, t.tok
                   FROM dl CROSS JOIN (SELECT UNNEST(['spark', 'window', 'join']) AS tok) t),
         contrib AS (SELECT d.doc_id,
                            CAST(ROUND(LN((COALESCE(tf.tf, 0.0) + 200.0 * (cf.cf / tot.c))
                              / (d.dl + 200.0)) * 1e12, 0) AS BIGINT) AS cfp
                     FROM dense d
                     JOIN cf ON cf.tok = d.tok
                     LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.tok = d.tok
                     CROSS JOIN tot)
         SELECT doc_id, ROUND(SUM(cfp) / 1e12, 6) + 0.0 AS score
         FROM contrib GROUP BY 1
         ORDER BY score DESC, doc_id ASC LIMIT 20""",


    "t20_pmi_bigrams" ->
      """WITH t AS (SELECT STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         uc AS (SELECT tok, COUNT(*) AS c FROM
                  (SELECT UNNEST(toks) AS tok FROM t) GROUP BY 1),
         tu AS (SELECT CAST(SUM(c) AS DOUBLE) AS tu FROM uc),
         bc AS (SELECT gram, COUNT(*) AS n_pairs FROM
                  (SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1])) AS gram
                   FROM t WHERE LEN(toks) >= 2) GROUP BY 1),
         tb AS (SELECT CAST(SUM(n_pairs) AS DOUBLE) AS tb FROM bc)
         SELECT STRING_SPLIT(gram, ' ')[1] AS tok_a,
                STRING_SPLIT(gram, ' ')[2] AS tok_b,
                CAST(n_pairs AS BIGINT) AS n_pairs,
                ROUND(LN((n_pairs / tb.tb) / ((a.c / tu.tu) * (b.c / tu.tu))), 6) + 0.0 AS pmi
         FROM bc CROSS JOIN tb CROSS JOIN tu
         JOIN uc a ON a.tok = STRING_SPLIT(gram, ' ')[1]
         JOIN uc b ON b.tok = STRING_SPLIT(gram, ' ')[2]
         WHERE n_pairs >= 5""",


    "t21_kl_divergence" ->
      """WITH tok AS (SELECT source, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
                      FROM documents),
         c AS (SELECT tok, COUNT(*) AS cc FROM tok GROUP BY 1),
         st AS (SELECT CAST(SUM(cc) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM c),
         cq AS (SELECT c.tok,
                       CAST(ROUND(LN((c.cc + 1.0) / (st.n + st.v)) * 1e12, 0)
                         AS BIGINT) AS lpcq,
                       st.v AS v
                FROM c CROSS JOIN st),
         lall AS (SELECT SUM(lpcq) AS lallq FROM cq),
         seen AS (SELECT source, tok, COUNT(*) AS sc FROM tok GROUP BY 1, 2),
         g AS (SELECT s.source,
                      CAST(SUM(s.sc) AS DOUBLE) AS ns,
                      CAST(COUNT(*) AS DOUBLE) AS vs,
                      SUM(CAST(s.sc + 1 AS HUGEINT)
                          * CAST(ROUND(LN(s.sc + 1.0) * 1e12, 0) AS BIGINT))
                        AS aq,
                      SUM(s.sc + 1.0) AS b,
                      SUM(CAST(s.sc + 1 AS HUGEINT) * cq.lpcq) AS dq,
                      SUM(cq.lpcq) AS lseenq,
                      ANY_VALUE(cq.v) AS v
               FROM seen s JOIN cq USING (tok)
               GROUP BY 1)
         SELECT source, CAST(ns AS BIGINT) AS n_tokens, CAST(vs AS BIGINT) AS n_types,
                ROUND((CAST(aq AS DOUBLE) / 1e12 - b * LN(ns + v)
                       - CAST(dq AS DOUBLE) / 1e12) / (ns + v)
                      + (1.0 / (ns + v)) * LN(1.0 / (ns + v)) * (v - vs)
                      - (1.0 / (ns + v))
                        * (CAST(lall.lallq - lseenq AS DOUBLE) / 1e12), 6)
                  + 0.0 AS kl
         FROM g CROSS JOIN lall""",


    // same quantized-log OLS as RegressionOps.zipfFit: rank by (count
    // desc, token asc), ln values rounded to integer 1e5 units, then the
    // groupOls integer-sum formula
    "t22_zipf_fit" ->
      """WITH tok AS (
           SELECT UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
         r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rn
               FROM c),
         b AS (SELECT CAST(ROUND(LN(CAST(rn AS DOUBLE)) * 100000.0, 0) AS BIGINT) AS x,
                      CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 100000.0, 0) AS BIGINT) AS y
               FROM r),
         g AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                      SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
               FROM b),
         g2 AS (SELECT n, sx, sy,
                       CAST(n AS DOUBLE) * sxy - sx * sy AS num,
                       CAST(n AS DOUBLE) * sxx - sx * sx AS den,
                       CAST(n AS DOUBLE) * syy - sy * sy AS deny
                FROM g)
         SELECT CAST(n AS BIGINT) AS n,
                ROUND(num / den, 6) + 0.0 AS slope,
                ROUND((sy - (num / den) * sx) / CAST(n AS DOUBLE), 6) + 0.0 AS intercept,
                ROUND(CASE WHEN deny <> 0 THEN num * num / (den * deny) END, 6) + 0.0 AS r2
         FROM g2 WHERE n >= 2 AND den <> 0""",


    // same global-stream-index Heaps construction: generate_subscripts
    // stands in for posexplode, min_by for the first-occurrence argmin,
    // window prefix sums for the two-phase cumsums; the closing OLS
    // replays groupOls's exact-integer sufficient statistics
    "t23_heaps_fit" ->
      """WITH tok AS (SELECT doc_id,
                             UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+'))
                               AS tok,
                             CAST(generate_subscripts(
                               STRING_SPLIT_REGEX(TRIM(text), '\s+'), 1)
                               AS BIGINT) AS pos
                      FROM documents),
         pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok
                FROM tok GROUP BY 1),
         offs AS (SELECT doc_id,
                         CAST(SUM(ntok) OVER (ORDER BY doc_id ROWS BETWEEN
                           UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                           AS cumn,
                         CAST(SUM(ntok) OVER (ORDER BY doc_id ROWS BETWEEN
                           UNBOUNDED PRECEDING AND CURRENT ROW) - ntok
                           AS BIGINT) AS off
                  FROM pd),
         st AS (SELECT tok.doc_id, tok.tok, offs.off + tok.pos AS idx
                FROM tok JOIN offs ON tok.doc_id = offs.doc_id),
         fd AS (SELECT tok, MIN_BY(doc_id, idx) AS fdoc FROM st GROUP BY 1),
         np AS (SELECT fdoc AS doc_id, CAST(COUNT(*) AS BIGINT) AS newv
                FROM fd GROUP BY 1),
         curve AS (SELECT offs.doc_id, offs.cumn,
                          CAST(SUM(COALESCE(np.newv, 0)) OVER (ORDER BY
                            offs.doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                            CURRENT ROW) AS BIGINT) AS cumv
                   FROM offs LEFT JOIN np ON offs.doc_id = np.doc_id),
         q AS (SELECT CAST(ROUND(LN(cumn) * 1e4, 0) AS BIGINT) AS xq,
                      CAST(ROUND(LN(cumv) * 1e4, 0) AS BIGINT) AS yq
               FROM curve),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      SUM(xq) AS sx, SUM(yq) AS sy,
                      SUM(xq * xq) AS sxx, SUM(xq * yq) AS sxy,
                      SUM(yq * yq) AS syy
               FROM q)
         SELECT n,
                ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) + 0.0 AS slope,
                ROUND((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                      / CAST(n AS DOUBLE), 6) + 0.0 AS intercept,
                ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                      * (CAST(n AS DOUBLE) * sxy - sx * sy)
                      / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                         * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0.0 AS r2
         FROM s""",


    "t24_rrf_fusion" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
                      FROM documents),
         dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
         st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
         tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
                FROM tok WHERE tok IN ('spark', 'window', 'join') GROUP BY 1, 2),
         dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         lex AS (SELECT tf.doc_id,
                        ROUND(SUM(LN((st.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                          * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 6) + 0.0
                          AS score
                 FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
                 GROUP BY tf.doc_id
                 ORDER BY score DESC, tf.doc_id ASC LIMIT 50),
         pri AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS score FROM documents
                 ORDER BY score DESC, doc_id ASC LIMIT 50),
         rl AS (SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
                FROM lex),
         rp AS (SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
                FROM pri),
         u AS (SELECT doc_id, 1.0 / (60 + rnk) AS rr FROM rl
               UNION ALL
               SELECT doc_id, 1.0 / (60 + rnk) AS rr FROM rp)
         SELECT doc_id, ROUND(SUM(rr), 6) + 0.0 AS rrf
         FROM u GROUP BY 1
         ORDER BY rrf DESC, doc_id ASC LIMIT 20""",


    "t27_jsd_sources" ->
      """WITH tok AS (SELECT source, UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS t
                      FROM documents),
         corpus AS (SELECT t, COUNT(*) AS cc FROM tok GROUP BY 1),
         total AS (SELECT SUM(cc) AS N FROM corpus),
         gt AS (SELECT source, COUNT(*) AS Ns FROM tok GROUP BY 1),
         seen AS (SELECT source, t, COUNT(*) AS sc FROM tok GROUP BY 1, 2),
         terms AS (SELECT s.source, g.Ns, tt.N,
                          CAST(s.sc AS DOUBLE) / g.Ns AS p,
                          CAST(c.cc - s.sc AS DOUBLE) / (tt.N - g.Ns) AS q,
                          c.cc - s.sc AS rc
                   FROM seen s JOIN corpus c USING (t)
                   JOIN gt g USING (source) CROSS JOIN total tt),
         agg AS (SELECT source, MIN(Ns) AS n_tokens,
                        SUM(CAST(ROUND((0.5 * p * LN(p / ((p + q) / 2.0)) +
                          CASE WHEN q > 0 THEN 0.5 * q * LN(q / ((p + q) / 2.0))
                               ELSE 0 END) * 1e12, 0) AS BIGINT)) / 1e12 AS seenpart,
                        SUM(rc) / CAST(MIN(N - Ns) AS DOUBLE) AS qcov
                 FROM terms GROUP BY 1)
         SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
                ROUND(seenpart + 0.5 * LN(2) * (1 - qcov), 6) + 0.0 AS jsd
         FROM agg""",


    "t26_rake_keywords" ->
      """WITH tk AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+') AS t
                     FROM documents),
         toks AS (SELECT doc_id, i AS pos, t[i] AS w,
                         t[i] IN ('the', 'a', 'of', 'and', 'to') AS stop
                  FROM tk, UNNEST(GENERATE_SERIES(1, LEN(t))) AS g(i)),
         ph AS (SELECT doc_id, pos, w, stop,
                       SUM(CASE WHEN stop THEN 1 ELSE 0 END)
                         OVER (PARTITION BY doc_id ORDER BY pos) AS pid
                FROM toks),
         nph AS (SELECT doc_id, pid, w, pos FROM ph WHERE NOT stop),
         phrases AS (SELECT doc_id, pid,
                            STRING_AGG(w, ' ' ORDER BY pos) AS phrase,
                            COUNT(*) AS len
                     FROM nph GROUP BY 1, 2),
         members AS (SELECT n.doc_id, n.pid, n.w, p.phrase, p.len
                     FROM nph n JOIN phrases p USING (doc_id, pid)),
         ws AS (SELECT w,
                       CAST(ROUND(SUM(len) / CAST(COUNT(*) AS DOUBLE) * 1e12, 0)
                            AS BIGINT) AS wsfp
                FROM members GROUP BY 1)
         SELECT phrase,
                CAST(COUNT(DISTINCT (m.doc_id, m.pid)) AS BIGINT) AS n_occurrences,
                ROUND(SUM(wsfp) / COUNT(DISTINCT (m.doc_id, m.pid)) / 1e12, 6) + 0.0 AS score
         FROM members m JOIN ws USING (w)
         GROUP BY 1 ORDER BY score DESC, phrase ASC LIMIT 25""",


    // add-1-smoothed bigram model: bigram + unigram count joins over the
    // per-doc distinct-bigram frame; V a one-row cross join; docs with
    // < 2 tokens surface with zero bigrams and a NULL score
    "t28_bigram_lm" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         bg AS (SELECT doc_id,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                         k -> toks[k] || ' ' || toks[k+1])) AS bg
                FROM t WHERE LEN(toks) >= 2),
         m AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS m
               FROM bg GROUP BY 1, 2),
         cb AS (SELECT bg, CAST(SUM(m) AS BIGINT) AS cbg FROM m GROUP BY 1),
         uni AS (SELECT UNNEST(toks) AS tok FROM t),
         cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
         v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM cu),
         mdl AS (SELECT cb.bg,
                        CAST(ROUND(LN((cb.cbg + 1.0) / (cu.cu + v.v)) * 1e12, 0)
                          AS BIGINT) AS lpq
                 FROM cb JOIN cu ON cu.tok = SPLIT_PART(cb.bg, ' ', 1)
                 CROSS JOIN v),
         sc AS (SELECT m.doc_id, CAST(SUM(m.m) AS BIGINT) AS nb,
                       SUM(CAST(m.m AS HUGEINT) * mdl.lpq) AS llq
                FROM m JOIN mdl USING (bg)
                GROUP BY 1)
         SELECT d.doc_id, CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bigrams,
                ROUND(CAST(sc.llq AS DOUBLE) / 1e12 / sc.nb, 6) + 0.0
                  AS avg_logprob
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",


    "t29_code_detect" ->
      """SELECT doc_id,
                CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                  '[{}()\[\];=<>]', '', 'g')) AS BIGINT) AS n_sym,
                CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                  '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
                ROUND(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                  '[{}()\[\];=<>]', '', 'g')) AS DOUBLE) / n_chars, 6) + 0.0
                  AS sym_ratio,
                ROUND(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                  '[{}()\[\];=<>]', '', 'g')) AS DOUBLE) / n_chars, 6) > 0.02
                  AS is_code
         FROM documents""",


    "t30_lexical_diversity" ->
      """WITH tok AS (SELECT doc_id,
                             UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS t
                      FROM documents),
         c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                      CAST(COUNT(DISTINCT t) AS BIGINT) AS n_types
               FROM tok GROUP BY 1)
         SELECT doc_id, n_tokens, n_types,
                ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) + 0.0 AS ttr,
                ROUND(CAST(n_types AS DOUBLE) / SQRT(n_tokens), 6) + 0.0 AS rttr
         FROM c""",


    // Gopher rule flags from exact integer token statistics; the keep
    // verdict compares the ROUNDED ratios exactly as the engine does
    "t40_gopher_rules" ->
      """WITH t AS (SELECT doc_id,
                           STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents WHERE text IS NOT NULL),
         q AS (SELECT doc_id, LEN(toks) AS n,
                      LIST_SUM(LIST_TRANSFORM(toks, x -> LEN(x))) AS totlen,
                      LEN(LIST_FILTER(toks,
                        x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
                      LEN(LIST_FILTER(toks,
                        x -> CONTAINS(x, '#') OR CONTAINS(x, '...'))) AS sym,
                      LEN(LIST_FILTER(toks,
                        x -> x IN ('the','be','to','of','and','that','have','with')))
                        AS stp
               FROM t)
         SELECT doc_id, CAST(n AS INT) AS n_words,
                ROUND(totlen * 1.0 / n, 6) + 0.0 AS mean_word_len,
                ROUND(alpha * 1.0 / n, 6) + 0.0 AS alpha_frac,
                ROUND(sym * 1.0 / n, 6) + 0.0 AS symbol_frac,
                CAST(stp AS INT) AS stop_hits,
                CASE WHEN n BETWEEN 50 AND 100000
                      AND ROUND(totlen * 1.0 / n, 6) BETWEEN 3.0 AND 10.0
                      AND ROUND(alpha * 1.0 / n, 6) >= 0.8
                      AND ROUND(sym * 1.0 / n, 6) <= 0.1
                      AND stp >= 2 THEN 1 ELSE 0 END AS keep
         FROM q""",


    // the t28 bigram-LM construction, closed by perplexity + the exact
    // global tercile rank (ppl is a rounded double, so both engines
    // order identical values; ties break on doc_id)
    "t39_ppl_buckets" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         bg AS (SELECT doc_id,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                         k -> toks[k] || ' ' || toks[k+1])) AS bg
                FROM t WHERE LEN(toks) >= 2),
         m AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS m
               FROM bg GROUP BY 1, 2),
         cb AS (SELECT bg, CAST(SUM(m) AS BIGINT) AS cbg FROM m GROUP BY 1),
         uni AS (SELECT UNNEST(toks) AS tok FROM t),
         cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
         v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM cu),
         mdl AS (SELECT cb.bg,
                        CAST(ROUND(LN((cb.cbg + 1.0) / (cu.cu + v.v)) * 1e12, 0)
                          AS BIGINT) AS lpq
                 FROM cb JOIN cu ON cu.tok = SPLIT_PART(cb.bg, ' ', 1)
                 CROSS JOIN v),
         sc AS (SELECT m.doc_id, CAST(SUM(m.m) AS BIGINT) AS nb,
                       SUM(CAST(m.m AS HUGEINT) * mdl.lpq) AS llq
                FROM m JOIN mdl USING (bg)
                GROUP BY 1),
         scored AS (SELECT doc_id,
                           ROUND(EXP(-(ROUND(CAST(llq AS DOUBLE) / 1e12 / nb,
                                             6))), 6) + 0.0 AS ppl
                    FROM sc WHERE nb > 0),
         nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
         r AS (SELECT doc_id, ppl,
                      ROW_NUMBER() OVER (ORDER BY ppl ASC, doc_id ASC) AS rk
               FROM scored)
         SELECT doc_id, ppl,
                CASE WHEN FLOOR((rk - 1) * 3.0 / n) = 0 THEN 'head'
                     WHEN FLOOR((rk - 1) * 3.0 / n) = 1 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM r CROSS JOIN nt""",


    // pr01's unrolled fixed-point PageRank over the symmetrized
    // adjacent-token graph, closed by the top-20 keyword cut
    "t41_textrank" ->
      """WITH t AS (SELECT STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         bgl AS (SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                        k -> toks[k] || ' ' || toks[k+1])) AS bg
                 FROM t WHERE LEN(toks) >= 2),
         p0 AS (SELECT SPLIT_PART(bg, ' ', 1) AS a, SPLIT_PART(bg, ' ', 2) AS b
                FROM bgl WHERE SPLIT_PART(bg, ' ', 1) <> SPLIT_PART(bg, ' ', 2)),
         e AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
               FROM (SELECT a AS src, b AS dst FROM p0
                     UNION ALL SELECT b, a FROM p0)
               GROUP BY 1, 2),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
         ow AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
         r0 AS (SELECT node, ROUND(1.0 / n, 9) + 0.0 AS rank
                FROM nodes CROSS JOIN nn),
         c1 AS (SELECT e.dst AS node,
                       SUM(CAST(ROUND(r.rank / ow.outw * e.w * 1e12, 0) AS BIGINT)) AS cfp
                FROM r0 r JOIN ow ON r.node = ow.src JOIN e ON e.src = r.node
                GROUP BY 1),
         d1 AS (SELECT COALESCE(SUM(CAST(ROUND(r.rank * 1e12, 0) AS BIGINT)), 0) AS dfp
                FROM r0 r LEFT JOIN ow ON r.node = ow.src WHERE ow.src IS NULL),
         r1 AS (SELECT r.node,
                       ROUND((1.0 - 0.85) / n + 0.85 *
                         (COALESCE(c.cfp, 0) / 1e12 + d.dfp / 1e12 / n), 9) + 0.0 AS rank
                FROM r0 r LEFT JOIN c1 c ON r.node = c.node
                CROSS JOIN d1 d CROSS JOIN nn),
         c2 AS (SELECT e.dst AS node,
                       SUM(CAST(ROUND(r.rank / ow.outw * e.w * 1e12, 0) AS BIGINT)) AS cfp
                FROM r1 r JOIN ow ON r.node = ow.src JOIN e ON e.src = r.node
                GROUP BY 1),
         d2 AS (SELECT COALESCE(SUM(CAST(ROUND(r.rank * 1e12, 0) AS BIGINT)), 0) AS dfp
                FROM r1 r LEFT JOIN ow ON r.node = ow.src WHERE ow.src IS NULL),
         r2 AS (SELECT r.node,
                       ROUND((1.0 - 0.85) / n + 0.85 *
                         (COALESCE(c.cfp, 0) / 1e12 + d.dfp / 1e12 / n), 9) + 0.0 AS rank
                FROM r1 r LEFT JOIN c2 c ON r.node = c.node
                CROSS JOIN d2 d CROSS JOIN nn),
         c3 AS (SELECT e.dst AS node,
                       SUM(CAST(ROUND(r.rank / ow.outw * e.w * 1e12, 0) AS BIGINT)) AS cfp
                FROM r2 r JOIN ow ON r.node = ow.src JOIN e ON e.src = r.node
                GROUP BY 1),
         d3 AS (SELECT COALESCE(SUM(CAST(ROUND(r.rank * 1e12, 0) AS BIGINT)), 0) AS dfp
                FROM r2 r LEFT JOIN ow ON r.node = ow.src WHERE ow.src IS NULL),
         r3 AS (SELECT r.node,
                       ROUND((1.0 - 0.85) / n + 0.85 *
                         (COALESCE(c.cfp, 0) / 1e12 + d.dfp / 1e12 / n), 9) + 0.0 AS rank
                FROM r2 r LEFT JOIN c3 c ON r.node = c.node
                CROSS JOIN d3 d CROSS JOIN nn)
         SELECT node AS word, ROUND(rank, 6) + 0.0 AS rank FROM r3
         ORDER BY rank DESC, node ASC LIMIT 20""",


    "t43_charngram_langid" ->
      """WITH base AS (SELECT doc_id, lang, text FROM documents
                       WHERE text IS NOT NULL AND LEN(text) >= 3),
         grams AS (SELECT doc_id, lang,
                          SUBSTR(text, CAST(p AS INT), 3) AS g
                   FROM (SELECT doc_id, lang, text,
                                UNNEST(GENERATE_SERIES(1, LEN(text) - 2)) AS p
                         FROM base)),
         dg AS (SELECT doc_id, lang, g, CAST(COUNT(*) AS BIGINT) AS m
                FROM grams GROUP BY 1, 2, 3),
         doctot AS (SELECT doc_id, lang, CAST(SUM(m) AS BIGINT) AS mm
                    FROM dg GROUP BY 1, 2),
         gl AS (SELECT g, lang AS l, CAST(COUNT(*) AS BIGINT) AS c
                FROM grams GROUP BY 1, 2),
         tl AS (SELECT l, CAST(SUM(c) AS BIGINT) AS t FROM gl GROUP BY 1),
         vocab AS (SELECT CAST(COUNT(DISTINCT g) AS DOUBLE) AS v FROM gl),
         lp AS (SELECT gl.g, gl.l,
                       CAST(ROUND(LN((gl.c + 1.0) / (tl.t + vocab.v)) * 1e12, 0)
                         AS BIGINT) AS lpq
                FROM gl JOIN tl USING (l) CROSS JOIN vocab),
         baselp AS (SELECT tl.l,
                           CAST(ROUND(LN(1.0 / (tl.t + vocab.v)) * 1e12, 0)
                             AS BIGINT) AS bq
                    FROM tl CROSS JOIN vocab),
         contrib AS (SELECT dg.doc_id, lp.l,
                            CAST(SUM(dg.m * (lp.lpq - baselp.bq)) AS BIGINT)
                              AS delta
                     FROM dg JOIN lp USING (g) JOIN baselp ON baselp.l = lp.l
                     GROUP BY 1, 2),
         scores AS (SELECT d.doc_id, d.lang, b.l,
                           d.mm * b.bq + COALESCE(c.delta, 0) AS score
                    FROM doctot d CROSS JOIN baselp b
                    LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.l = b.l),
         pred AS (SELECT doc_id, lang, l AS pred_lang FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, l ASC) AS rn FROM scores)
                  WHERE rn = 1)
         SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
         FROM pred GROUP BY 1, 2""",


    // frequency-spectrum collapse: exact integer Σ m·V, Σ V, V₁, Σ m²·V
    // per doc, three closing divisions
    "t44_lexical_richness" ->
      """WITH tok AS (SELECT doc_id,
                             UNNEST(STRING_SPLIT_REGEX(TRIM(text), '\s+')) AS tok
                      FROM documents WHERE text IS NOT NULL),
         tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS m
                FROM tok GROUP BY 1, 2),
         sp AS (SELECT doc_id, m, CAST(COUNT(*) AS BIGINT) AS v
                FROM tf GROUP BY 1, 2)
         SELECT doc_id,
                CAST(SUM(m * v) AS BIGINT) AS n_tokens,
                CAST(SUM(v) AS BIGINT) AS n_types,
                CAST(SUM(CASE WHEN m = 1 THEN v ELSE 0 END) AS BIGINT) AS hapax,
                ROUND(CAST(SUM(v) AS DOUBLE) / SUM(m * v), 6) + 0.0 AS ttr,
                ROUND(CAST(SUM(CASE WHEN m = 1 THEN v ELSE 0 END) AS DOUBLE)
                      / SUM(v), 6) + 0.0 AS hapax_ratio,
                ROUND(1e4 * CAST(SUM(m * m * v) - SUM(m * v) AS DOUBLE)
                      / (CAST(SUM(m * v) AS DOUBLE) * SUM(m * v)), 6) + 0.0
                  AS yules_k
         FROM sp GROUP BY doc_id""",


    // within-doc repetition: per-doc top-bigram argmax (count desc, gram
    // asc) and the d21 interval union with PER-DOC 5-gram counts
    "t45_gopher_repetition" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents WHERE text IS NOT NULL),
         b AS (SELECT doc_id, toks, LEN(toks) AS n,
                      CAST(LIST_SUM(LIST_TRANSFORM(toks, x -> LEN(x)))
                        AS BIGINT) AS chars
               FROM t),
         bg AS (SELECT doc_id,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                         k -> toks[k] || ' ' || toks[k+1])) AS bg
                FROM b WHERE n >= 2),
         bc AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
                FROM bg GROUP BY 1, 2),
         top AS (SELECT doc_id, bg, c FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY c DESC, bg ASC) AS rn FROM bc) WHERE rn = 1),
         g5 AS (SELECT doc_id, pos,
                       MD5(ARRAY_TO_STRING(toks[pos + 1 : pos + 5], ' ')) AS h
                FROM (SELECT doc_id, toks,
                             UNNEST(GENERATE_SERIES(0, CAST(n - 5 AS INT)))
                               AS pos
                      FROM b WHERE n >= 5)),
         dup AS (SELECT doc_id, h FROM g5
                 GROUP BY doc_id, h HAVING COUNT(*) >= 2),
         dp AS (SELECT g5.doc_id, g5.pos FROM g5 JOIN dup USING (doc_id, h)),
         cov AS (SELECT doc_id, pos,
                        LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                          AS nxt
                 FROM dp),
         cv AS (SELECT doc_id,
                       CAST(SUM(CASE WHEN nxt IS NULL THEN 5
                                     ELSE LEAST(5, nxt - pos) END) AS BIGINT)
                         AS covered
                FROM cov GROUP BY 1)
         SELECT b.doc_id, CAST(b.n AS INT) AS n_toks,
                top.bg AS top_bigram,
                COALESCE(ROUND(top.c * (LEN(top.bg) - 1) / b.chars, 6) + 0.0,
                         0.0) AS top_bigram_frac,
                ROUND(COALESCE(cv.covered, 0) * 1.0 / b.n, 6) + 0.0
                  AS dup5_coverage,
                CASE WHEN COALESCE(ROUND(top.c * (LEN(top.bg) - 1) / b.chars,
                                         6) + 0.0, 0.0) <= 0.2
                      AND ROUND(COALESCE(cv.covered, 0) * 1.0 / b.n, 6) + 0.0
                          <= 0.3
                     THEN 1 ELSE 0 END AS keep
         FROM b LEFT JOIN top USING (doc_id) LEFT JOIN cv USING (doc_id)""",


    // interpolated KN: all model counts off the distinct-bigram frame
    // (context totals, distinct continuations, distinct contexts),
    // one pico-quantized log per model bigram, exact per-doc sums
    "t46_kneser_ney" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         bgp AS (SELECT doc_id,
                        UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                          k -> toks[k] || ' ' || toks[k+1])) AS bg
                 FROM t WHERE LEN(toks) >= 2),
         m AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS m
               FROM bgp GROUP BY 1, 2),
         cb AS (SELECT bg, CAST(SUM(m) AS BIGINT) AS cbg,
                       SPLIT_PART(bg, ' ', 1) AS v,
                       SPLIT_PART(bg, ' ', 2) AS w
                FROM m GROUP BY 1),
         ctx AS (SELECT v, CAST(SUM(cbg) AS BIGINT) AS cv,
                        CAST(COUNT(*) AS BIGINT) AS n1v
                 FROM cb GROUP BY 1),
         cont AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1w FROM cb GROUP BY 1),
         nbb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbb FROM cb),
         mdl AS (SELECT cb.bg,
                        CAST(ROUND(LN(
                          (GREATEST(cb.cbg - 0.75, 0.0) +
                            0.75 * ctx.n1v * (cont.n1w / nbb.nbb)) / ctx.cv)
                          * 1e12, 0) AS BIGINT) AS lpq
                 FROM cb JOIN ctx USING (v) JOIN cont USING (w)
                 CROSS JOIN nbb),
         sc AS (SELECT m.doc_id, CAST(SUM(m.m) AS BIGINT) AS nb,
                       SUM(CAST(m.m AS HUGEINT) * mdl.lpq) AS llq
                FROM m JOIN mdl USING (bg)
                GROUP BY 1)
         SELECT d.doc_id, CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bigrams,
                ROUND(CAST(sc.llq AS DOUBLE) / 1e12 / sc.nb, 6) + 0.0
                  AS avg_logprob_kn
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",


    // target-trained LM (LEFT joins exercise the add-1 floor on unseen
    // grams) next to the self-trained t28 stack; delta of the two
    // rounded scores
    "t42_domain_lm_delta" ->
      """WITH tAll AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                       FROM documents),
         tTr AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                 FROM documents WHERE lang = 'en'),
         trbg AS (SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                         k -> toks[k] || ' ' || toks[k+1])) AS bg
                  FROM tTr WHERE LEN(toks) >= 2),
         cbt AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cbg FROM trbg GROUP BY 1),
         truni AS (SELECT UNNEST(toks) AS tok FROM tTr),
         cut AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM truni GROUP BY 1),
         vt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM cut),
         sbg AS (SELECT doc_id,
                        UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                          k -> toks[k] || ' ' || toks[k+1])) AS bg
                 FROM tAll WHERE LEN(toks) >= 2),
         sm AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS m
                FROM sbg GROUP BY 1, 2),
         mdlt AS (SELECT cbt.bg,
                         CAST(ROUND(LN((cbt.cbg + 1.0) / (cut.cu + vt.v))
                                    * 1e12, 0) AS BIGINT) AS lpq
                  FROM cbt JOIN cut ON cut.tok = SPLIT_PART(cbt.bg, ' ', 1)
                  CROSS JOIN vt),
         prevt AS (SELECT cut.tok,
                          CAST(ROUND(LN(1.0 / (cut.cu + vt.v)) * 1e12, 0)
                            AS BIGINT) AS ppq
                   FROM cut CROSS JOIN vt),
         baset AS (SELECT CAST(ROUND(LN(1.0 / vt.v) * 1e12, 0) AS BIGINT) AS bq
                   FROM vt),
         sct AS (SELECT sm.doc_id, CAST(SUM(sm.m) AS BIGINT) AS nb,
                        SUM(CAST(sm.m AS HUGEINT)
                            * COALESCE(mdlt.lpq, prevt.ppq, baset.bq)) AS llq
                 FROM sm
                 LEFT JOIN mdlt USING (bg)
                 LEFT JOIN prevt ON prevt.tok = SPLIT_PART(sm.bg, ' ', 1)
                 CROSS JOIN baset
                 GROUP BY 1),
         tgt AS (SELECT d.doc_id, CAST(COALESCE(sct.nb, 0) AS BIGINT)
                          AS n_bigrams,
                        ROUND(CAST(sct.llq AS DOUBLE) / 1e12 / sct.nb, 6) + 0.0
                          AS lp_target
                 FROM documents d LEFT JOIN sct ON d.doc_id = sct.doc_id),
         cb AS (SELECT bg, CAST(SUM(m) AS BIGINT) AS cbg FROM sm GROUP BY 1),
         uni AS (SELECT UNNEST(toks) AS tok FROM tAll),
         cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY 1),
         v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM cu),
         mdlc AS (SELECT cb.bg,
                         CAST(ROUND(LN((cb.cbg + 1.0) / (cu.cu + v.v)) * 1e12,
                                    0) AS BIGINT) AS lpq
                  FROM cb JOIN cu ON cu.tok = SPLIT_PART(cb.bg, ' ', 1)
                  CROSS JOIN v),
         scf AS (SELECT sm.doc_id,
                        SUM(CAST(sm.m AS HUGEINT) * mdlc.lpq) AS llq,
                        CAST(SUM(sm.m) AS BIGINT) AS nb
                 FROM sm JOIN mdlc USING (bg)
                 GROUP BY 1),
         slf AS (SELECT d.doc_id,
                        ROUND(CAST(scf.llq AS DOUBLE) / 1e12 / scf.nb, 6) + 0.0
                          AS lp_corpus
                 FROM documents d LEFT JOIN scf ON d.doc_id = scf.doc_id)
         SELECT tgt.doc_id, tgt.n_bigrams, tgt.lp_target, slf.lp_corpus,
                ROUND(tgt.lp_target - slf.lp_corpus, 6) + 0.0 AS delta
         FROM tgt JOIN slf ON slf.doc_id = tgt.doc_id""",


    // clipped n-gram matches per (cand, ref) via gram equi-joins; BLEU-2
    // with the standard brevity penalty, no smoothing — a zero modified
    // precision zeroes the score
    "t47_bleu" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         p AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id
               FROM documents a JOIN documents b
                 ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0
                    AND a.lang = b.lang),
         g1 AS (SELECT doc_id, tok AS gram, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t) GROUP BY 1, 2),
         g2 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id,
                             UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                               k -> toks[k] || ' ' || toks[k+1])) AS gram
                      FROM t WHERE LEN(toks) >= 2) GROUP BY 1, 2),
         l AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS len FROM t),
         o1 AS (SELECT p.cand_id, p.ref_id,
                       CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS m
                FROM p JOIN g1 c ON c.doc_id = p.cand_id
                       JOIN g1 r ON r.doc_id = p.ref_id AND r.gram = c.gram
                GROUP BY 1, 2),
         o2 AS (SELECT p.cand_id, p.ref_id,
                       CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS m
                FROM p JOIN g2 c ON c.doc_id = p.cand_id
                       JOIN g2 r ON r.doc_id = p.ref_id AND r.gram = c.gram
                GROUP BY 1, 2),
         b AS (SELECT p.cand_id, p.ref_id,
                      CAST(COALESCE(o1.m, 0) AS BIGINT) AS m1,
                      CAST(COALESCE(o2.m, 0) AS BIGINT) AS m2,
                      lc.len AS len_c, lr.len AS len_r,
                      CASE WHEN lc.len >= lr.len THEN 1.0
                           ELSE EXP(1.0 - lr.len / CAST(lc.len AS DOUBLE))
                      END AS bpr
               FROM p JOIN l lc ON lc.doc_id = p.cand_id
                      JOIN l lr ON lr.doc_id = p.ref_id
                      LEFT JOIN o1 ON o1.cand_id = p.cand_id
                                  AND o1.ref_id = p.ref_id
                      LEFT JOIN o2 ON o2.cand_id = p.cand_id
                                  AND o2.ref_id = p.ref_id)
         SELECT cand_id, ref_id, m1, m2, len_c, len_r,
                ROUND(bpr, 6) + 0.0 AS bp,
                CASE WHEN m1 = 0 OR m2 = 0 OR len_c < 2 THEN 0.0
                     ELSE ROUND(bpr * EXP((LN(m1 / CAST(len_c AS DOUBLE))
                       + LN(m2 / CAST(len_c - 1 AS DOUBLE))) / 2), 6)
                END + 0.0 AS bleu
         FROM b""",


    // ROUGE-2 recall/precision/F1 off the same clipped bigram matches
    "t48_rouge2" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         p AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id
               FROM documents a JOIN documents b
                 ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0
                    AND a.lang = b.lang),
         g2 AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id,
                             UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
                               k -> toks[k] || ' ' || toks[k+1])) AS gram
                      FROM t WHERE LEN(toks) >= 2) GROUP BY 1, 2),
         l AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS len FROM t),
         o2 AS (SELECT p.cand_id, p.ref_id,
                       CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS m
                FROM p JOIN g2 c ON c.doc_id = p.cand_id
                       JOIN g2 r ON r.doc_id = p.ref_id AND r.gram = c.gram
                GROUP BY 1, 2),
         x AS (SELECT p.cand_id, p.ref_id, lc.len AS len_c, lr.len AS len_r,
                      CAST(COALESCE(o2.m, 0) AS BIGINT) AS m,
                      CASE WHEN lr.len >= 2
                           THEN COALESCE(o2.m, 0) / CAST(lr.len - 1 AS DOUBLE)
                           ELSE 0.0 END AS r,
                      CASE WHEN lc.len >= 2
                           THEN COALESCE(o2.m, 0) / CAST(lc.len - 1 AS DOUBLE)
                           ELSE 0.0 END AS pr
               FROM p JOIN l lc ON lc.doc_id = p.cand_id
                      JOIN l lr ON lr.doc_id = p.ref_id
                      LEFT JOIN o2 ON o2.cand_id = p.cand_id
                                  AND o2.ref_id = p.ref_id)
         SELECT cand_id, ref_id, len_c, len_r, m AS matches,
                ROUND(r, 6) + 0.0 AS rouge_r,
                ROUND(pr, 6) + 0.0 AS rouge_p,
                ROUND(CASE WHEN r + pr > 0 THEN 2 * r * pr / (r + pr)
                           ELSE 0.0 END, 6) + 0.0 AS rouge_f1
         FROM x""",


    // char n-gram clipped matches over whitespace-stripped text; P/R are
    // macro-averages over n = 1..3 (empty-n contributes 0), F-β with β=2
    // — the same fixed IEEE sequence as the engine's per-row close
    "t49_chrf" ->
      """WITH ch AS (SELECT doc_id, REGEXP_REPLACE(text, '\s+', '', 'g') AS cs
                     FROM documents),
         p AS (SELECT a.doc_id AS cand_id, b.doc_id AS ref_id
               FROM documents a JOIN documents b
                 ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0
                    AND a.lang = b.lang),
         g AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
                 SELECT doc_id, 1 AS n,
                        UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cs)),
                          i -> cs[i:i])) AS gram
                 FROM ch WHERE LEN(cs) >= 1
                 UNION ALL
                 SELECT doc_id, 2,
                        UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cs) - 1),
                          i -> cs[i:i+1]))
                 FROM ch WHERE LEN(cs) >= 2
                 UNION ALL
                 SELECT doc_id, 3,
                        UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cs) - 2),
                          i -> cs[i:i+2]))
                 FROM ch WHERE LEN(cs) >= 3) GROUP BY 1, 2, 3),
         o AS (SELECT p.cand_id, p.ref_id, c.n,
                      CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS m
               FROM p JOIN g c ON c.doc_id = p.cand_id
                      JOIN g r ON r.doc_id = p.ref_id AND r.n = c.n
                                  AND r.gram = c.gram
               GROUP BY 1, 2, 3),
         l AS (SELECT doc_id, CAST(LEN(cs) AS BIGINT) AS len FROM ch),
         m AS (SELECT p.cand_id, p.ref_id, lc.len AS len_c, lr.len AS len_r,
                      COALESCE(MAX(CASE WHEN o.n = 1 THEN o.m END), 0) AS m1,
                      COALESCE(MAX(CASE WHEN o.n = 2 THEN o.m END), 0) AS m2,
                      COALESCE(MAX(CASE WHEN o.n = 3 THEN o.m END), 0) AS m3
               FROM p JOIN l lc ON lc.doc_id = p.cand_id
                      JOIN l lr ON lr.doc_id = p.ref_id
                      LEFT JOIN o ON o.cand_id = p.cand_id
                                 AND o.ref_id = p.ref_id
               GROUP BY 1, 2, 3, 4),
         x AS (SELECT cand_id, ref_id, len_c, len_r,
                      (CASE WHEN len_c >= 1 THEN m1 / CAST(len_c AS DOUBLE) ELSE 0.0 END
                     + CASE WHEN len_c >= 2 THEN m2 / CAST(len_c - 1 AS DOUBLE) ELSE 0.0 END
                     + CASE WHEN len_c >= 3 THEN m3 / CAST(len_c - 2 AS DOUBLE) ELSE 0.0 END) / 3 AS pp,
                      (CASE WHEN len_r >= 1 THEN m1 / CAST(len_r AS DOUBLE) ELSE 0.0 END
                     + CASE WHEN len_r >= 2 THEN m2 / CAST(len_r - 1 AS DOUBLE) ELSE 0.0 END
                     + CASE WHEN len_r >= 3 THEN m3 / CAST(len_r - 2 AS DOUBLE) ELSE 0.0 END) / 3 AS rr
               FROM m)
         SELECT cand_id, ref_id, len_c, len_r,
                ROUND(pp, 6) + 0.0 AS chrf_p,
                ROUND(rr, 6) + 0.0 AS chrf_r,
                ROUND(CASE WHEN pp + rr > 0.0
                           THEN (5.0 * pp * rr) / (4.0 * pp + rr)
                           ELSE 0.0 END, 6) + 0.0 AS chrf
         FROM x""",


    // 1-based subscripts off the same token array; edge windows clip via
    // GREATEST/LEAST slicing, empty slices coalesce to '' as in Spark
    "t50_kwic" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS toks
                    FROM documents),
         h AS (SELECT doc_id, toks, CAST(LEN(toks) AS BIGINT) AS n,
                      CAST(generate_subscripts(toks, 1) AS BIGINT) AS i,
                      UNNEST(toks) AS tok
               FROM t)
         SELECT doc_id, i - 1 AS pos,
                COALESCE(ARRAY_TO_STRING(toks[GREATEST(i - 3, 1):i - 1], ' '), '')
                  AS left_ctx,
                tok AS term,
                COALESCE(ARRAY_TO_STRING(toks[i + 1:LEAST(i + 3, n)], ' '), '')
                  AS right_ctx
         FROM h WHERE tok = 'spark'"""
  )
}
