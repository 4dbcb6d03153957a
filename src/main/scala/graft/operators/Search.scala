package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Corpus search / relevance scoring — the retrieval half of a training-data
  * platform (quality classifiers, topic filters, and eval harnesses all rank
  * documents against term queries). The reference has no text search at all
  * (its only reads are key lookups, `realtime_api.py:99,143,207,257,282`);
  * this layer is a from-scratch Spark-first design.
  *
  * Scale shape: per-document term frequencies come from the native
  * hashed-set token kernel ([[graft.functions.MarkerHitsExpr]]), never from
  * an explode+join of the corpus. Scoring costs TWO map-side corpus passes —
  * one feeding the single-row global-stats aggregate (N, avgdl, per-term
  * document frequency), one scoring against that row re-attached via a
  * one-row broadcast — and the final top-k is TakeOrderedAndProject (heap
  * top-k, no global sort). Both passes are embarrassingly parallel and
  * shuffle nothing per-document; cache the tf projection to collapse them to
  * one scan when the corpus re-reads are the bottleneck.
  */
object Search {

  /** BM25 (Okapi, Lucene-style idf) scores of every document against a bag of
    * query terms; top `k` by score with full (score DESC, doc_id ASC) tie-break.
    *
    * idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Terms are fixed literals, so tf per term is a codegen'd counting kernel
    * over the tokenize-once array — no corpus explode, no shuffle except the
    * single-row stats aggregate. The score is summed left-to-right in query
    * term order so the DuckDB oracle reproduces the float exactly; the final
    * round(·, 6) absorbs last-ulp noise. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // tf matches against NORMALIZED tokens — normalize the query the same way
    // or an uppercase term silently scores 0 everywhere
    val terms = queryTerms.map(_.toLowerCase.trim).filter(_.nonEmpty).distinct
    require(terms.nonEmpty, "bm25TopK needs at least one non-empty query term")
    val tfCols = terms.indices.map(i => s"tf_$i")
    val dfCols = terms.indices.map(i => s"df_$i")
    // One tokenize projection; per-term tf via the hashed-set kernel.
    val scored = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id") +: size(col("toks")).cast("double").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          TextFns.markerHitsFromTokens(col("toks"), Seq(t)).cast("double").as(tfCols(i))
        }: _*)
    // Global stats: one row — corpus size, average doc length, per-term df.
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(tfCols(i)) > 0, 1d).otherwise(0d)).as(dfCols(i)))
    val stats = scored.agg(statCols.head, statCols.tail: _*)
    val withStats = scored.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(tfCols(i))
      val idf = log(lit(1d) + (col("n_docs") - col(dfCols(i)) + 0.5) / (col(dfCols(i)) + 0.5))
      idf * (tf * (k1 + 1)) / (tf + lit(k1) * (lit(1d) - b + lit(b) * col("dl") / col("avgdl")))
    }.reduceLeft[Column](_ + _)
    // Filter AFTER the top-k, not before: a pre-limit filter gets pushed into
    // the stats-join condition, where the whole 3-ln score expression is
    // re-evaluated per row as a predicate (measured 2x the scoring cost at 1M
    // docs). Since bm25 >= 0 always and every positive score outranks every
    // zero, top-k-then-filter selects exactly the same rows.
    withStats
      .select(col("doc_id"), round(score, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
      .filter(col("bm25") > 0)
  }

  /** BM25 top-k for a whole query SET with QUERY-COUNT-INDEPENDENT corpus
    * work — the retrieval shape an eval harness actually runs. [[bm25TopK]]
    * takes literal terms, so k queries cost k corpus scans; this scores every
    * query together over exactly two corpus scans regardless of query count
    * (one for the global doc-count/avgdl stats, one tokenize-for-scoring —
    * the df counts come from a window over the already-matched tf rows, not a
    * third scan).
    *
    * `queries`: (query_id: bigint, qtext: string). Output: (query_id, doc_id,
    * bm25) — per-query top `k`, positive scores only, (bm25 DESC, doc_id ASC)
    * tie-break: exactly [[bm25TopK]]'s semantics per query (SearchSpec asserts
    * row-for-row agreement).
    *
    * Scale shape: the scoring scan's exploded token stream is immediately
    * broadcast-semi-joined against the distinct query terms, so only tokens
    * some query mentions reach the (term, doc) aggregation — every shuffle
    * downstream is |matching tokens| or smaller, never the corpus. Per-term
    * df is a count window over the matched (term, doc) rows; the query-term
    * table is broadcast (a query set is dim-sized by definition); global
    * stats ride a one-row broadcast; the per-query top-k is the heap-bounded
    * [[graft.functions.TopKByScoreAgg]] (each map task ships at most k
    * candidates per query to the final shuffle). */
  def bm25TopKBatch(docs: DataFrame, queries: DataFrame, k: Int = 20,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = queries
      .select(col("query_id").cast("long").as("query_id"),
        explode(array_distinct(TextFns.tokens(col("qtext")))).as("term"))
      .filter(length(col("term")) > 0)
    val toks = docs.select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
    val gstats = toks.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(size(col("toks")).cast("double")).as("avgdl"))
    // dl rides the grouping key — functionally dependent on doc_id, so it adds
    // nothing to the key's cardinality but saves a corpus-sized re-join for it
    val tf = toks
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // df from the tf rows themselves (count of matched docs per term) via a
    // window — NOT a separate aggregate: tf is an uncached subtree, so a
    // second reference would re-run its corpus scan. The window's term-keyed
    // exchange carries only the (term, doc)-aggregated matched rows.
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
    val contrib = withDf
      .join(broadcast(qterms), "term")
      .crossJoin(broadcast(gstats))
      .select(col("query_id"), col("doc_id"),
        (log(lit(1d) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1d) - b + lit(b) * col("dl") / col("avgdl"))))
          .as("contrib"))
    // round(6) as in bm25TopK: absorbs summation-order last-ulp noise so the
    // DuckDB oracle reproduces the float; idf > 0 always (Lucene form), so
    // pre-top-k positivity filtering selects the same rows as bm25TopK's
    // top-k-then-filter
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(round(sum(col("contrib")), 6).as("bm25"))
      .filter(col("bm25") > 0)
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScoreAgg.topKByScore(col("bm25"), col("doc_id"), k).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("doc_id"), col("t.score").as("bm25"))
  }

  /** Inverted index build: one row per distinct token — document frequency and
    * the sorted postings list. The index a keyword-search layer serves from.
    *
    * Scale shape: per-document DISTINCT tokens are deduplicated map-side
    * (inside the token array, before the explode), so the shuffle carries each
    * (term, doc) pair once. With a `maxDf` bound, the build is TWO phases —
    * count df per term first, then collect postings ONLY for terms inside
    * [minDf, maxDf] — so no aggregation buffer ever materializes a
    * stop-word's corpus-sized posting list just to discard it (the buffer is
    * bounded by maxDf ids by construction). Unbounded maxDf keeps the
    * single-phase form and accepts the hot-term buffer; a deployment serving
    * unbounded hot terms uses [[invertedIndexSharded]] instead. */
  def invertedIndex(docs: DataFrame, minDf: Long = 1, maxDf: Long = Long.MaxValue): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
    if (maxDf == Long.MaxValue)
      pairs.groupBy("term")
        .agg(count(lit(1)).as("df"), sort_array(collect_list(col("doc_id"))).as("postings"))
        .filter(col("df") >= minDf)
        .select("term", "df", "postings")
    else {
      val kept = pairs.groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDf && col("df") <= maxDf)
      pairs.join(kept, "term")
        .groupBy("term")
        .agg(first(col("df")).as("df"),
          sort_array(collect_list(col("doc_id"))).as("postings"))
        .select("term", "df", "postings")
    }
  }

  /** Inverted index with hot-term sharding: the full-coverage answer to the
    * stop-word buffer problem that [[invertedIndex]]'s `maxDf` bound solves by
    * exclusion. Terms with df <= maxDf build one posting list in shard 0;
    * hotter terms split their postings across `shards` lists keyed by
    * `pmod(doc_id, shards)`, so NO aggregation buffer ever holds more than
    * max(maxDf, df_max/shards) ids — size `shards ~ df_max/maxDf` and every
    * buffer is maxDf-bounded. A reader reassembles a hot term by unioning its
    * shard rows (each row repeats the term's TOTAL df, so stats need no
    * re-aggregation); SearchSpec asserts shard reassembly equals the
    * unbounded build exactly.
    *
    * Two phases like the bounded build: df per term first (count-only
    * buffers), then postings grouped by (term, shard) — the shard key is in
    * the grouping, so the hot term's pairs spread across `shards` reducers
    * instead of converging on one. */
  def invertedIndexSharded(docs: DataFrame, minDf: Long = 1, maxDf: Long = 1000,
                           shards: Int = 16): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val pairs = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
    val dfs = pairs.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    pairs.join(dfs, "term")
      .withColumn("shard",
        when(col("df") <= maxDf, lit(0))
          .otherwise(pmod(col("doc_id"), lit(shards.toLong))).cast("int"))
      .groupBy("term", "shard")
      .agg(first(col("df")).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .select("term", "shard", "df", "postings")
  }

  /** TF-IDF weighted sparse document vectors — the classic lexical
    * vectorization (Salton & Buckley 1988; smooth-idf form as popularized by
    * scikit-learn's TfidfVectorizer): idf(t) = ln((1+N)/(1+df(t))) + 1,
    * w(t,d) = tf(t,d) · idf(t). Output one row per distinct (term, doc):
    * (term, doc_id, tf, df, w) — the sparse matrix [[tfidfCosineTopK]]
    * serves from.
    *
    * Scale shape: tokenize-once + explode, ONE (term, doc) count aggregation,
    * then df from a count window over the already-aggregated rows (the
    * [[bm25TopKBatch]] pattern — never a second corpus scan for df) and the
    * corpus size from a column-pruned count riding a one-row broadcast. The
    * term-keyed window exchange carries (term, doc) AGGREGATED rows, never
    * raw tokens. Like [[invertedIndex]], this is a build artifact: persist it
    * (partitioned by term prefix or bucketed by term) and query-time scoring
    * never re-tokenizes the corpus. */
  def tfidfWeights(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).cast("double").as("tf"))
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("doc_id"), col("tf"), col("df"),
        (col("tf") * (log((lit(1d) + col("n_docs")) / (lit(1d) + col("df"))) + 1d))
          .as("w"))
  }

  /** Nearest documents to `queryDocId` by TF-IDF cosine over a
    * [[tfidfWeights]] table: top `k` of (doc_id, tfidf_cos), query doc
    * excluded, positive similarities only, (cos DESC, doc_id ASC) tie-break
    * on the 6-decimal rounded value (deterministic across engines).
    *
    * Scale shape: the query doc's weight vector is vocabulary-of-one-doc
    * sized — it and its norm ride broadcasts; the corpus side is ONE
    * doc-keyed aggregation computing Σw² (norm) and Σw·qw (dot) together in
    * the same pass, so similarity needs no per-pair join; the final top-k is
    * TakeOrderedAndProject. Passing an UNPERSISTED [[tfidfWeights]] plan
    * re-runs its build once per reference (three here: query vector, query
    * norm, corpus aggregate) — at scale `weights` is the persisted artifact
    * (the [[graft.operators.Similarity.pqTopKEncoded]] serving pattern), and
    * each reference is a scan, not a rebuild. */
  def tfidfCosineTopK(weights: DataFrame, queryDocId: Long, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qvec = weights.filter(col("doc_id") === queryDocId)
      .select(col("term"), col("w").as("qw"))
    val qn = qvec.agg(sum(col("qw") * col("qw")).as("qnorm2"))
    weights
      .filter(col("doc_id") =!= queryDocId)
      .join(broadcast(qvec), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum(col("w") * col("w")).as("norm2"),
        sum(coalesce(col("w") * col("qw"), lit(0d))).as("dot"))
      .crossJoin(broadcast(qn))
      .select(col("doc_id"),
        round(col("dot") / sqrt(col("norm2") * col("qnorm2")), 6).as("tfidf_cos"))
      .orderBy(col("tfidf_cos").desc, col("doc_id"))
      .limit(k)
      .filter(col("tfidf_cos") > 0)
  }

  /** Per-domain keyword signatures: treat each domain as ONE pseudo-document
    * and rank its terms by TF-IDF against the other domains ([[tfidfWeights]]'
    * smooth idf with N = domain count) — the "what is this slice of the
    * corpus about" table a data card links per domain, and the first tool
    * for spotting a domain whose vocabulary collapsed (crawler loops,
    * boilerplate floods: the top keywords become navigation chrome).
    *
    * Scale shape: ONE (domain, term) count aggregation over the
    * tokenize-once explode; df across domains from a term-keyed count window
    * over those aggregated rows (domains-bounded per term); the domain count
    * rides a one-row broadcast; the per-domain top-k is a rank window over
    * each domain's vocabulary-bounded frame. Output (domain, term, tf, df,
    * score, rank), rank <= k, (score DESC, term) tie-break on the 6-decimal
    * rounded score. */
  def domainKeywords(docs: DataFrame, k: Int = 10,
                     domainCol: String = "source"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nd = docs.agg(countDistinct(col(domainCol)).cast("double").as("n_domains"))
    val tf = docs
      .select(col(domainCol).as("domain"), explode(TextFns.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("domain", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .crossJoin(broadcast(nd))
      .withColumn("score",
        round(col("tf") * (log((lit(1d) + col("n_domains")) / (lit(1d) + col("df"))) + 1d), 6))
      .withColumn("rank", row_number()
        .over(Window.partitionBy("domain").orderBy(col("score").desc, col("term")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select("domain", "term", "tf", "df", "score", "rank")
  }

  /** Hybrid retrieval: fuse the lexical ([[bm25TopK]]) and vector
    * ([[graft.operators.Similarity.bruteForceTopK]] — swap in the IVF/LSH
    * probe at scale, the fusion is channel-agnostic) top-`kRetrieval` lists by
    * Reciprocal Rank Fusion (Cormack et al. 2009): score = Σ 1/(rrfK + rank)
    * over the channels that retrieved the doc. RRF needs no score calibration
    * between channels — exactly why it is the standard fusion for
    * BM25 + embedding retrieval. Output: top `k` of (doc_id, rrf, lex_rank,
    * vec_rank), ranks null for a channel that did not retrieve the doc;
    * deterministic (rrf DESC, doc_id) order.
    *
    * Contract: ONE logical query — `queryTerms` is its lexical form,
    * `queryVecs` its embedding form. `queryVecs` may technically hold
    * several vector rows (e.g. a multi-vector query); the vec channel then
    * contributes each doc's BEST rank across those rows (min-rank
    * aggregation below), so fusion still sees one rank per doc and the
    * output stays one row per doc_id. Distinct user queries must be fused
    * by separate calls — their result lists are independent top-k's.
    *
    * Scale shape: each channel is already top-`kRetrieval`-bounded BEFORE
    * fusion, so the rank windows and the full-outer join run on dim-sized
    * (≤ 2·kRetrieval rows) data — the single-partition rank window is a
    * deliberate non-issue, never corpus-sized. The corpus-scale work lives
    * inside the channels, which keep their own plans (BM25: no corpus
    * shuffle; ANN: bucketed probe). */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame, queryTerms: Seq[String],
                 queryVecs: DataFrame, k: Int = 10, kRetrieval: Int = 50,
                 rrfK: Int = 60): DataFrame = {
    require(k >= 1 && kRetrieval >= k, s"need kRetrieval >= k >= 1, got k=$k kRetrieval=$kRetrieval")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    val lex = bm25TopK(docs, queryTerms, kRetrieval)
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id").as("l_id"), col("lex_rank"))
    // Min-rank per doc across query vectors: identity for the single-vector
    // case, best-rank semantics for a multi-vector query — and guarantees the
    // full-outer join below never fans out one l_id across duplicate v_ids.
    val vec = graft.operators.Similarity.bruteForceTopK(embeddings, queryVecs, kRetrieval)
      .groupBy(col("vec_id").as("v_id"))
      .agg(min(col("rank")).cast("long").as("vec_rank"))
    lex.join(vec, col("l_id") === col("v_id"), "full_outer")
      .select(coalesce(col("l_id"), col("v_id")).as("doc_id"),
        round(coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)), 6).as("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** [[hybridTopK]] for a whole query SET, every rank keyed on the LOGICAL
    * query id — the form that makes cross-query rank mixing structurally
    * impossible: the lexical channel is [[bm25TopKBatch]] (query-count-
    * independent corpus work) ranked per query_id, the vector channel ranks
    * per (query_id, query vector) and keeps each doc's best rank WITHIN its
    * query, and the fusion join + final top-k are both query_id-keyed.
    *
    * `queries`: (query_id, qtext) — the lexical form of each logical query.
    * `queryVecs`: (query_id, vec_id, embedding) — one or more embedding
    * forms per logical query (multi-vector queries contribute their best
    * per-query rank); `vec_id` must be unique across the input and is the
    * self-exclusion key against the corpus, exactly as in
    * [[graft.operators.Similarity.bruteForceTopK]].
    * Output: per-query top `k` of (query_id, doc_id, rrf, lex_rank,
    * vec_rank) — [[hybridTopK]]'s semantics per query (SearchSpec asserts
    * row-for-row agreement with independent single-query calls).
    *
    * Scale shape: both channels bound their output to kRetrieval rows per
    * query BEFORE fusion, so the rank windows (query-keyed, never global),
    * the full-outer join, and the final per-query top-k all run on
    * |queries| × ≤ 2·kRetrieval rows; the corpus-scale work lives inside
    * the channels, which keep their own plans. */
  def hybridTopKBatch(docs: DataFrame, embeddings: DataFrame, queries: DataFrame,
                      queryVecs: DataFrame, k: Int = 10, kRetrieval: Int = 50,
                      rrfK: Int = 60): DataFrame = {
    require(k >= 1 && kRetrieval >= k, s"need kRetrieval >= k >= 1, got k=$k kRetrieval=$kRetrieval")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    val lex = bm25TopKBatch(docs, queries, kRetrieval)
      .withColumn("lex_rank", row_number()
        .over(Window.partitionBy("query_id").orderBy(col("bm25").desc, col("doc_id")))
        .cast("long"))
      .select(col("query_id").as("l_q"), col("doc_id").as("l_id"), col("lex_rank"))
    // bruteForceTopK keys its output on the query VECTOR id; re-attach the
    // logical query_id (a dim-sized broadcast) before any rank aggregation,
    // so best-rank is taken strictly within a logical query
    val qmap = queryVecs.select(col("vec_id").as("qv_id"),
      col("query_id").cast("long").as("v_q"))
    val vec = graft.operators.Similarity.bruteForceTopK(embeddings, queryVecs, kRetrieval)
      .join(broadcast(qmap), col("query_id") === col("qv_id"))
      .groupBy(col("v_q"), col("vec_id").as("v_id"))
      .agg(min(col("rank")).cast("long").as("vec_rank"))
    lex.join(vec, col("l_q") === col("v_q") && col("l_id") === col("v_id"), "full_outer")
      .select(coalesce(col("l_q"), col("v_q")).as("query_id"),
        coalesce(col("l_id"), col("v_id")).as("doc_id"),
        round(coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)), 6).as("rrf"),
        col("lex_rank"), col("vec_rank"))
      .withColumn("__rk", row_number()
        .over(Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Exact phrase search over positional postings — the query class a
    * bag-of-words index cannot answer ("spark sql" ≠ sql ∧ spark): returns
    * `(doc_id, n_occurrences)` for documents containing the token sequence
    * `phrase` contiguously, with the occurrence count.
    *
    * Dataflow is the standard positional-intersection: each corpus token at
    * position p that equals phrase term i votes for candidate start p − i, and
    * a start is a match iff it collects all `phrase.length` votes. A repeated
    * term in the phrase votes once per index it appears at (the literal
    * term → indices map handles it), so "a b a" works. The phrase vocabulary
    * is a broadcast literal: corpus tokens filter to matching terms BEFORE the
    * exchange, so the (doc, start) vote shuffle carries only phrase-term hits
    * — at 100 TB the cost tracks the phrase terms' document frequency, never
    * corpus size, exactly like a positional posting lookup. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val terms = phrase.map(_.toLowerCase)
    val k = terms.length
    // term -> array of phrase indices holding it (handles repeated terms)
    val idxOf = terms.zipWithIndex.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val idxMap = map_from_arrays(
      array(idxOf.keys.toSeq.map(lit): _*),
      array(idxOf.values.toSeq.map(is => array(is.map(i => lit(i.toLong)): _*)): _*))
    docs
      .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(terms.distinct: _*))
      .select(col("doc_id"), col("pos"), explode(element_at(idxMap, col("term"))).as("i"))
      .select(col("doc_id"), (col("pos") - col("i")).as("start"))
      .filter(col("start") >= 0)
      .groupBy(col("doc_id"), col("start"))
      .agg(count(lit(1)).as("votes"))
      .filter(col("votes") === k)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Proximity search: documents where `termA` and `termB` co-occur within
    * `window` token positions — the NEAR operator. Returns
    * `(doc_id, min_dist)` with the minimum absolute position distance.
    *
    * ONE doc-keyed exchange carrying only the two terms' match positions
    * (conditional collect_list — non-matching tokens never leave the scan);
    * the min-distance is a codegen'd nested-transform over the two bounded
    * position arrays, map-only after the agg. Per-doc cost is
    * O(df_A(d)·df_B(d)) — bounded by document length squared in the worst
    * case, never corpus-sized. */
  def proximitySearch(docs: DataFrame, termA: String, termB: String,
                      window: Int): DataFrame = {
    require(termA.toLowerCase != termB.toLowerCase,
      "proximity needs two distinct terms")
    require(window >= 1, s"window must be >= 1, got $window")
    val (a, b) = (termA.toLowerCase, termB.toLowerCase)
    docs
      .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term") === a || col("term") === b)
      .groupBy("doc_id")
      .agg(collect_list(when(col("term") === a, col("pos"))).as("pa"),
           collect_list(when(col("term") === b, col("pos"))).as("pb"))
      .filter(size(col("pa")) > 0 && size(col("pb")) > 0)
      .select(col("doc_id"),
        array_min(flatten(transform(col("pa"),
          x => transform(col("pb"), y => abs(x - y))))).cast("long").as("min_dist"))
      .filter(col("min_dist") <= window)
  }
}
