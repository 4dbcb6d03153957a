package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** End-to-end corpus curation — the filter chain every LLM training-data
  * pipeline runs over raw documents (C4-style): language filter → quality
  * thresholds → exact dedup. The reference has no document processing at all;
  * this composes the engine's text operators into the deliverable a 100 TB
  * corpus job actually ships.
  *
  * Scale shape: every per-document signal (tokens, length ratios, language
  * scores) derives from ONE normalize+tokenize projection — no per-signal
  * re-tokenization — and the quality/language filters run BEFORE the dedup
  * shuffle, so only surviving documents are shuffled. Dedup groups on the
  * normalized text here (oracle-reproducible); at 100 TB swap the group key
  * for the 8-byte fingerprint ([[Dedup.exactDedupByFingerprint]]'s key) so the
  * shuffle carries hashes, not documents.
  */
object Curation {

  /** One normalize+tokenize projection feeding every signal, then the
    * language/quality gates — shared by both dedup-key forms, and everything
    * upstream of the only shuffle. */
  private def scoredAll(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), TextFns.normalize(col("text")).as("norm"))
      .select(col("doc_id"), col("norm"), split(col("norm"), " ").as("toks"))
      .select(col("doc_id"), col("norm"),
        size(col("toks")).cast("long").as("n_tokens"),
        (length(regexp_replace(col("norm"), " ", "")).cast("double") /
          size(col("toks"))).as("avg_token_len"),
        TextFns.predictLangFromTokens(col("toks")).as("pred_lang"))

  private[graft] def scoredSurvivors(docs: DataFrame, lang: String, minTokens: Int,
                                     maxAvgTokenLen: Double): DataFrame =
    scoredAll(docs)
      .filter(col("pred_lang") === lang &&
        col("n_tokens") >= minTokens && col("avg_token_len") <= maxAvgTokenLen)

  private def dedupAgg(survivors: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    survivors
      .groupBy(key)
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("n_tokens")).as("n_tokens"), // constant within a norm group
        round(min(col("avg_token_len")), 6).as("avg_token_len"),
        count(lit(1)).as("dup_count"))
      .select("doc_id", "n_tokens", "avg_token_len", "dup_count")

  /** Curate a `(doc_id, text, ...)` corpus: keep documents whose predicted
    * language is `lang`, with at least `minTokens` tokens and an average token
    * length of at most `maxAvgTokenLen`; then exact-dedup on normalized text,
    * keeping the smallest surviving doc_id per group. Returns one row per kept
    * document with its quality signals and duplicate count. */
  def curateCorpus(docs: DataFrame, lang: String = "en", minTokens: Int = 20,
                   maxAvgTokenLen: Double = 5.0): DataFrame =
    dedupAgg(scoredSurvivors(docs, lang, minTokens, maxAvgTokenLen), col("norm"))

  /** [[curateCorpus]], 100 TB shuffle shape: the dedup groups on
    * `xxhash64(norm)` so the exchange carries an 8-byte key per document
    * instead of the document text (the output columns don't need `norm`, so
    * with this key the text never leaves the map side at all — column pruning
    * drops it before the exchange). Identical output to [[curateCorpus]]
    * barring a 64-bit fingerprint collision (birthday bound ~5e9 docs;
    * PropertySpec asserts equivalence, the query entry hash-matches the same
    * oracle as `pipeline_curate`). */
  def curateCorpusByFingerprint(docs: DataFrame, lang: String = "en", minTokens: Int = 20,
                                maxAvgTokenLen: Double = 5.0): DataFrame =
    dedupAgg(scoredSurvivors(docs, lang, minTokens, maxAvgTokenLen),
      xxhash64(col("norm")).as("fp"))

  /** [[curateCorpus]] with SEMANTIC dedup: the same language/quality gates,
    * then near-duplicate removal in EMBEDDING space ([[Similarity.semanticDedup]],
    * SemDeDup) instead of exact normalized-text groups — catching paraphrases
    * and near-rewrites that exact dedup cannot. Embeddings semi-join the
    * quality survivors BEFORE the dedup (filter-before-shuffle: failed docs
    * never enter the k-means pass or the cell join); the representative kept
    * per semantic cluster is the smallest surviving doc_id. `docs.doc_id`
    * must align with `emb.vec_id` (the fixture contract; a deployment keys
    * both off the corpus primary id). */
  def curateCorpusSemantic(docs: DataFrame, emb: DataFrame, threshold: Double = 0.4,
                           lang: String = "en", minTokens: Int = 20,
                           maxAvgTokenLen: Double = 5.0,
                           nlist: Int = 0, nassign: Int = 2): DataFrame = {
    // The dedup phase drives MANY actions over the survivor embeddings (the
    // auto-nlist count, the k-means seed collect, one collect per Lloyd's
    // round, the pair materialization) — each would re-run the document
    // scoring + semi-join lineage from scratch. Persist the scored survivors
    // (shared by the semi-join AND the final result join — without it the
    // tokenize+langid pass runs twice) and the semi-joined embeddings, then
    // release both once the keep set is materialized eagerly.
    val survivors = scoredSurvivors(docs, lang, minTokens, maxAvgTokenLen).persist()
    val survEmb = emb.join(
      survivors.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .persist()
    try {
      val kept = Similarity.semanticDedup(survEmb, threshold, nlist, nassign)
        .filter(col("keep")).select(col("vec_id").as("doc_id"))
        .localCheckpoint(true)
      survivors.join(kept, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_token_len"), 6).as("avg_token_len"))
        .localCheckpoint(true)
    } finally { survEmb.unpersist(); survivors.unpersist() }
  }

  /** Benchmark decontamination: flag corpus documents that share any word
    * `n`-gram with a benchmark/eval set — the overlap check every serious
    * training-data pipeline runs before training so eval answers don't leak
    * into the corpus (the standard 8-to-13-gram membership test; `n` is the
    * knob). Returns one row per corpus document with the matched-gram count
    * and the contamination verdict — callers filter `!contaminated` to get
    * the clean corpus, keeping the flagged rows auditable.
    *
    * Scale shape: the benchmark side (eval suites — thousands of documents)
    * is orders of magnitude smaller than a 100 TB corpus, so its distinct
    * gram set is BROADCAST and the corpus-side probe is map-side only — the
    * corpus is never shuffled; the only exchange is the per-doc count
    * aggregation keyed on an 8-byte doc_id. Grams are distinct per document
    * before the explode, so each (doc, gram) probes once — and both sides
    * reduce grams to xxhash64 LONGS before the join (the stateless twin's
    * representation), so the broadcast map holds 8-byte keys and the corpus
    * probes hash a long, not a multi-word string (same verdicts barring a
    * 64-bit collision, the caveat every fingerprint path here documents). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    // hash INSIDE the array, before the explode: explode_outer of an empty
    // gram array yields a null LONG that never equi-joins (hashing after the
    // explode would turn that null into xxhash64's seed constant instead)
    def gramHashes(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        transform(array_distinct(TextFns.shinglesFromTokens(col("toks"), n)),
          g => xxhash64(g)).as("ghs"))
    // explode_OUTER + null filter here too (not just on the corpus side): a
    // plain explode lets the optimizer infer size(ghs) > 0 and push it below
    // the ghs projection, re-deriving the tokenize+shingle+hash pipeline as
    // an interpreted per-row filter (see Dedup.containmentPairs)
    val benchGrams = gramHashes(benchmark)
      .select(explode_outer(col("ghs")).as("gh"))
      .filter(col("gh").isNotNull).distinct()
      .withColumn("hit", lit(1L))
    // explode_outer keeps sub-n-token documents (empty gram arrays) in the
    // output with matched_grams = 0
    gramHashes(corpus)
      .select(col("doc_id"), explode_outer(col("ghs")).as("gh"))
      .join(broadcast(benchGrams), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("matched_grams"))
      .select(col("doc_id"), col("matched_grams"),
        (col("matched_grams") > 0).as("contaminated"))
  }

  /** One-pass MULTI-benchmark decontamination — real pipelines screen a corpus
    * against DOZENS of held-out benchmarks, and scanning 100 TB once per
    * benchmark is the wasteful form; this is the [[decontaminate]] dataflow
    * with the benchmark id carried through the gram table, so corpus work
    * (tokenize, shingle, hash, explode) is paid ONCE however many benchmarks
    * (the `bm25TopKBatch` principle applied to contamination). Input
    * `benchmarks` carries `(bench_id, text)` (many docs per benchmark);
    * returns the matched pairs `(doc_id, bench_id, matched_grams)` — the
    * contamination REPORT. The keep-set is its anti join; per-doc roll-ups
    * (`contaminated_any`, which benchmarks) are one further groupBy.
    *
    * Scale shape: the union gram table is Σ per-bench distinct gram sets
    * (kilobytes per benchmark) on a broadcast; the corpus side never
    * shuffles text — the only exchange is the (doc, bench)-keyed count of
    * matched rows, which tracks contamination volume, not corpus size. */
  def decontaminateBatch(corpus: DataFrame, benchmarks: DataFrame, n: Int = 8): DataFrame = {
    def gramHashes(df: DataFrame, key: Column, as: String): DataFrame = df
      .select(key.as(as), TextFns.tokens(col("text")).as("toks"))
      .select(col(as),
        transform(array_distinct(TextFns.shinglesFromTokens(col("toks"), n)),
          g => xxhash64(g)).as("ghs"))
      // explode_outer + null filter: a plain explode lets the optimizer infer
      // size(ghs) > 0 below the projection and re-derive the shingle pipeline
      // interpreted per row (the decontaminate / containmentPairs pitfall)
      .select(col(as), explode_outer(col("ghs")).as("gh"))
      .filter(col("gh").isNotNull)
    // bench side needs a cross-DOC distinct (many docs per bench_id; the
    // frame is benchmark-sized); the corpus side is already unique per
    // (doc, gram) from the in-row array_distinct — no corpus-wide exchange
    val benchGrams = gramHashes(benchmarks, col("bench_id"), "bench_id").distinct()
    gramHashes(corpus, col("doc_id"), "doc_id")
      .join(broadcast(benchGrams), Seq("gh"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("matched_grams"))
  }

  /** Per-benchmark gram-hash MODEL objects for [[decontaminateBatchStateless]]
    * — the [[benchmarkGramHashes]] collect, keyed: one `(bench_id, sorted
    * distinct xxhash64 grams)` pair per benchmark. Benchmark corpora are
    * model-scale (kilobytes–megabytes); fit once, screen many corpora and
    * STREAMS against the result. */
  def benchmarkGramHashSets(benchmarks: DataFrame, n: Int = 8): Seq[(Long, Array[Long])] =
    benchmarks
      .select(col("bench_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("bench_id"),
        explode_outer(transform(array_distinct(TextFns.shinglesFromTokens(col("toks"), n)),
          g => xxhash64(g))).as("gh"))
      .filter(col("gh").isNotNull).distinct()
      .collect()
      .groupBy(_.getLong(0)).toSeq
      .map { case (id, rows) => (id, rows.map(_.getLong(1)).sorted) }
      .sortBy(_._1)

  /** The STATELESS face of [[decontaminateBatch]] — every benchmark's gram set
    * rides the plan as a literal (the [[decontaminateAgainstHashes]] regime,
    * keyed): one map-only projection probes the k bench models per document
    * through the native [[graft.functions.LongSetHitsExpr]] hashed-set kernel
    * (each set builds once as a codegen reference — `array_intersect` against
    * a literal rebuilds its hash set per row), so there is NO join and
    * NO aggregation — the report runs in APPEND MODE over a streaming corpus
    * (the crawl-intake deployment: screen documents against every benchmark
    * as they arrive). Emits the same matched `(doc_id, bench_id,
    * matched_grams)` pairs as the join form (spec-gated equivalence).
    * Benchmarks past literal/broadcast size belong to the Bloom regime
    * ([[decontaminateBloom]] per benchmark) instead. */
  def decontaminateBatchStateless(corpus: DataFrame, models: Seq[(Long, Array[Long])],
                                  n: Int = 8): DataFrame = {
    require(models.nonEmpty, "need at least one benchmark model")
    // one native hashed-set probe column per model (LongSetHitsExpr: the set
    // builds ONCE as a codegen reference — array_intersect against a literal
    // would rebuild it per (doc, benchmark) row, measured 4.5 s vs sub-second
    // on the sf0.1 sweep entry), then the k counts stack via one explode
    val hitCols = array(models.map { case (id, model) =>
      struct(lit(id).as("bench_id"),
        graft.functions.LongSetHitsExpr.longSetHits(col("ghs"), model)
          .cast("long").as("matched_grams")) }: _*)
    gramHashesFor(corpus, n)
      .select(col("doc_id"), explode(hitCols).as("b"))
      .select(col("doc_id"), col("b.bench_id").as("bench_id"),
        col("b.matched_grams").as("matched_grams"))
      .filter(col("matched_grams") > 0)
  }

  /** The distinct xxhash64'd word-`n`-gram set of a benchmark corpus, collected
    * — the MODEL object of streaming decontamination (like IVF centroids:
    * kilobytes-to-megabytes, planted into plans as a literal). Batch-side prep
    * for [[decontaminateAgainstHashes]]. */
  def benchmarkGramHashes(benchmark: DataFrame, n: Int = 8): Array[Long] =
    benchmark
      .select(TextFns.tokens(col("text")).as("toks"))
      .select(explode(array_distinct(TextFns.shinglesFromTokens(col("toks"), n))).as("gram"))
      .select(xxhash64(col("gram")).as("h")).distinct()
      .collect().map(_.getLong(0)).sorted

  /** [[decontaminate]] in STATELESS form: the benchmark gram set rides the plan
    * as a sorted literal array and each document counts its distinct grams'
    * membership map-side — no join, no aggregation, no shuffle, so it runs
    * unchanged over a STREAMING corpus in append mode (the batch form's
    * per-doc count aggregation would force update mode + per-doc state).
    * Same verdict and matched-gram count as [[decontaminate]] (both count the
    * document's distinct grams that appear in the benchmark; SearchSpec
    * asserts equality). Use the join form when the benchmark outgrows a
    * literal (broadcast has no size cliff); this form when the corpus is a
    * stream or the benchmark is eval-suite-sized. */
  def decontaminateAgainstHashes(corpus: DataFrame, benchHashes: Array[Long],
                                 n: Int = 8): DataFrame = {
    // native hashed-set probe (LongSetHitsExpr): the benchmark set builds once
    // as a codegen reference object — `size(array_intersect(_, literal))`
    // rebuilds the literal's hash set on every row (the gram arrays are
    // array_distinct'd, so the counts are identical)
    gramHashesFor(corpus, n)
      .select(col("doc_id"),
        graft.functions.LongSetHitsExpr.longSetHits(col("ghs"), benchHashes)
          .cast("long").as("matched_grams"))
      .select(col("doc_id"), col("matched_grams"),
        (col("matched_grams") > 0).as("contaminated"))
  }

  /** [[decontaminate]]'s THIRD regime — the one that survives a benchmark set
    * too big for either sibling: a fixed-size BLOOM FILTER over the benchmark
    * gram hashes (Spark's own `BloomFilterAggregate`, fitted DISTRIBUTED — the
    * gram set never collects anywhere; only the `numBits`-bit filter makes ONE
    * bounded driver hop and rides the probe plan as a binary literal). The
    * corpus pass is then MAP-ONLY end to end: each doc's distinct-gram array
    * filters through the `might_contain` probe in place (a higher-order
    * `filter` over the array — no explode, no join, NO aggregation exchange),
    * so like the literal-array sibling it runs unchanged over a STREAMING
    * corpus in append mode. Regime guide: literal array (eval-suite-sized) →
    * broadcast join (up to broadcast limits, batch only) → Bloom (beyond
    * them, at a sized false-positive rate, streaming-safe again).
    *
    * Contract vs the exact forms: `contaminated` is a SUPERSET — a Bloom
    * filter has no false negatives, so no leaked benchmark doc is ever missed;
    * `matched_grams` may overcount by the false-positive rate
    * ((1 − e^(−k·n/m))^k; SearchSpec measures it and asserts the superset
    * property).
    *
    * SIZING — the per-DOC false-positive rate is what matters, and it
    * COMPOUNDS: a doc with g distinct grams false-flags with probability
    * ≈ 1 − (1 − p)^g ≈ g·p at per-gram FP p, so a "1% per gram" filter marks
    * essentially every long document contaminated. Pass `numBits = 0`
    * (default) to auto-size from a per-doc target: per-gram p =
    * `docFp / gramsPerDoc`, bits = ⌈−expectedGrams·ln(p)/ln²2⌉ (the optimal-k
    * Bloom identity; the defaults give p = 1e-7 ≈ 33.5 bits/gram ≈ 4.2 MB at
    * 1M grams — still a bounded model object). `minMatchedGrams` raises the
    * contamination verdict threshold instead of (or on top of) the sizing —
    * the knob for corpora whose docs legitimately share a stray gram. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                         expectedGrams: Long = 0L,
                         numBits: Long = 0L,
                         docFp: Double = 1e-4, gramsPerDoc: Long = 1000L,
                         minMatchedGrams: Long = 1L): DataFrame =
    decontaminateWithBloom(corpus,
      fitBenchmarkBloom(benchmark, n, expectedGrams, numBits, docFp, gramsPerDoc),
      n, minMatchedGrams)

  /** The fit half of [[decontaminateBloom]], exposed so one fitted filter can
    * serve MANY probe passes (a stream and its batch twin, several corpus
    * snapshots): the fitted filter is a MODEL object of exactly numBits/8
    * bytes regardless of gram count — ONE bounded driver hop, then it rides
    * each probe plan as a binary literal (`might_contain` requires a constant
    * filter; the centroids/BPE-merges discipline). Bit-setting is an OR over
    * item hashes, so the fit is arrival-order-free and deterministic.
    *
    * `expectedGrams = 0` (default) sizes to the MEASURED distinct-gram
    * cardinality (one cheap HLL pass, +10% headroom): a filter sized for a
    * worst-case benchmark is plan-literal dead weight on every probe task —
    * at the per-doc-FP bits rate, 1M assumed grams is a 4 MB literal where a
    * 25k-gram eval suite needs 100 KB. Pass a positive value only when the
    * fit-time cardinality pass is itself too expensive (rarely — it is one
    * map-side-combined sketch over the BENCHMARK, the small side). */
  def fitBenchmarkBloom(benchmark: DataFrame, n: Int = 8,
                        expectedGrams: Long = 0L, numBits: Long = 0L,
                        docFp: Double = 1e-4, gramsPerDoc: Long = 1000L): Array[Byte] = {
    // outer + null filter: a plain explode's inferred size(ghs) > 0 filter
    // would push down and re-derive the gram pipeline per row (see
    // Dedup.containmentPairs)
    val grams = gramHashesFor(benchmark, n)
      .select(explode_outer(col("ghs")).as("gh")).filter(col("gh").isNotNull)
    val items =
      if (expectedGrams > 0) expectedGrams
      else math.max(1024L, (grams
        .agg(approx_count_distinct(col("gh")).as("c"))
        .head().getLong(0) * 1.1).toLong)
    // clamp at Spark's BloomFilterAggregate ceiling (64M bits = 8 MB): past
    // ~2M grams the per-doc FP target degrades gracefully instead of erroring;
    // a benchmark that large should shard into per-suite filters (each probe
    // is map-only, so N filters = N probe columns OR-ed, still zero-exchange)
    val bits = math.min(
      if (numBits > 0) numBits else bloomBitsFor(items, docFp, gramsPerDoc),
      67108864L)
    grams
      .agg(graft.functions.BloomFns.bloomAgg(col("gh"), items, bits).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** The probe half of [[decontaminateBloom]]: map-only end to end (the
    * higher-order `filter` probes each doc's distinct-gram array in place —
    * no explode, no join, no exchange), so it runs unchanged over a STREAMING
    * corpus in append mode. */
  def decontaminateWithBloom(corpus: DataFrame, bloomBytes: Array[Byte],
                             n: Int = 8, minMatchedGrams: Long = 1L): DataFrame =
    gramHashesFor(corpus, n)
      .select(col("doc_id"),
        size(filter(col("ghs"),
          gh => graft.functions.BloomFns.mightContain(lit(bloomBytes), gh)))
          .cast("long").as("matched_grams"))
      .select(col("doc_id"), col("matched_grams"),
        (col("matched_grams") >= minMatchedGrams).as("contaminated"))

  private def gramHashesFor(df: DataFrame, n: Int): DataFrame = df
    .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
    .select(col("doc_id"),
      transform(array_distinct(TextFns.shinglesFromTokens(col("toks"), n)),
        g => xxhash64(g)).as("ghs"))

  /** Bloom bits for a PER-DOC false-positive target: per-gram p must be
    * `docFp / gramsPerDoc` (union bound over a doc's distinct grams), and the
    * optimal-k Bloom identity gives bits/item = −ln(p)/ln²2. Kept as its own
    * function so callers sizing an external filter share the arithmetic. */
  def bloomBitsFor(expectedGrams: Long, docFp: Double = 1e-4,
                   gramsPerDoc: Long = 1000L): Long = {
    require(docFp > 0 && docFp < 1, s"docFp must be in (0,1), got $docFp")
    require(expectedGrams > 0 && gramsPerDoc > 0, "sizes must be positive")
    val perGram = docFp / gramsPerDoc
    val ln2sq = math.log(2) * math.log(2)
    math.ceil(expectedGrams * (-math.log(perGram)) / ln2sq).toLong.max(64L)
  }

  /** Cap the number of documents kept per domain — the anti-domination rule of
    * corpus mixing (one crawl domain must not swamp the mixture). Keeps the
    * `maxPerDomain` best documents of each domain by the given quality ordering
    * (default: longest first, doc_id tie-break). One window per domain
    * partition — at 100 TB parallelism is the domain count and no global sort
    * exists; a planted hot domain costs one skewed partition, which AQE splits. */
  def capPerDomain(docs: DataFrame, maxPerDomain: Int,
                   domainCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    // use a materialized n_chars when the corpus carries one; derive it from
    // the text otherwise (the quality ordering must not require a column only
    // some corpora have)
    val nChars =
      if (docs.columns.contains("n_chars")) col("n_chars")
      else length(col("text")).cast("long")
    docs
      .select(col("doc_id"), col(domainCol).as("domain"), nChars.as("n_chars"))
      .withColumn("rank_in_domain", row_number().over(w).cast("long"))
      .filter(col("rank_in_domain") <= maxPerDomain)
  }

  /** Deterministic mixture sampling: keep each document with a per-domain
    * probability (`weights`, default `defaultWeight`), decided by a pure
    * function of the document CONTENT — the oracle-expressible rolling-hash
    * fingerprint mod 10000 ([[TextFns.fingerprint]]) — so the sample is
    * reproducible across runs, engines, and partitionings, and a re-crawled
    * duplicate draws the same verdict everywhere. This is how mixture weights
    * ("2 parts web, 1 part code...") become a corpus at 100 TB: map-only,
    * no shuffle, no RNG state. */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
                    defaultWeight: Double = 1.0,
                    domainCol: String = "source",
                    fastHash: Boolean = false): DataFrame = {
    (weights.values.toSeq :+ defaultWeight).foreach(w =>
      require(w >= 0 && w <= 1, s"mixture weight out of [0,1]: $w"))
    // Per-domain keep thresholds rounded DRIVER-SIDE, folded in sorted key
    // order so the when-chain is deterministic regardless of Map runtime
    // type. Rounding matters: DuckDB's CAST(x AS BIGINT) rounds while
    // Spark's .cast("long") truncates — a weight like 0.29 multiplies to
    // 2899.9999999999995 in doubles, and truncation would keep one hash
    // bucket fewer than the oracle form.
    val threshold = weights.toSeq.sortBy(_._1).foldRight(
        lit(math.round(defaultWeight * 10000d)): Column) {
      case ((dom, w), e) =>
        when(col(domainCol) === dom, lit(math.round(w * 10000d))).otherwise(e)
    }
    // Both selectors are pure functions of the content; the rolling-hash form
    // is oracle-expressible (the query entry's contract), the xxhash64 form is
    // the 100 TB path (one hash pass, no char-wise regex+rolling loop —
    // measured ~20x at 1M docs). Same keep-rate semantics.
    val fp =
      if (fastHash) pmod(TextFns.fastFingerprint(col("text")), lit(10000L))
      else pmod(TextFns.fingerprint(col("text")), lit(10000L))
    docs
      .select(col("doc_id"), col(domainCol).as("domain"), fp.as("fp"))
      .filter(col("fp") < threshold)
      .select("doc_id", "domain")
  }

  /** Temperature-flattened domain mixture (the multilingual/multi-domain
    * training-mix step): target distribution q_d ∝ p_d^(1/tau) over the
    * OBSERVED domain mass p_d = n_d/N, realized as per-domain keep rates at
    * a total budget of `budget`·N docs — rate_d = min(1, budget·N·q_d/n_d);
    * domains the flattening would UPsample cap at 1 (pair with
    * [[mixtureUpsample]] for epochs above 1). tau = 1 keeps the corpus
    * proportions; tau → ∞ approaches uniform over domains.
    *
    * Unlike [[mixtureSample]] (literal driver-side weights), the rates here
    * DERIVE FROM the corpus: one |domains|-bounded count aggregate, re-joined
    * as a broadcast, then the same pure content-hash keep decision — still
    * reproducible across runs/engines/partitionings, no RNG state, no driver
    * round trip. Thresholds become integer hash buckets in-plan via round()
    * on BOTH engines (never a truncating cast — the CAST-semantics rule). */
  def mixtureTemperature(docs: DataFrame, tau: Double, budget: Double,
                         domainCol: String = "source",
                         fastHash: Boolean = false): DataFrame = {
    require(tau > 0, s"temperature must be positive: $tau")
    require(budget > 0 && budget <= 1, s"budget out of (0,1]: $budget")
    // The whole rate table derives from ONE corpus count aggregate. The
    // normalizers (N, Z) come from UNPARTITIONED windows over that
    // |domains|-row frame — a single-task sort of a bounded dim table, NOT a
    // corpus window — because expressing them as separate .agg() subtrees
    // would re-evaluate the uncached counts aggregate (and its corpus scan)
    // once per reference: measured 3 corpus scans for this stats block before
    // the rewrite, 1 after.
    val all = Window.partitionBy()
    val rates = docs.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).cast("double").as("n_d"))
      .withColumn("n", sum(col("n_d")).over(all))
      .withColumn("w", pow(col("n_d") / col("n"), lit(1d / tau)))
      .withColumn("z", sum(col("w")).over(all))
      .select(col("domain"),
        round(least(lit(1d),
          lit(budget) * col("n") * (col("w") / col("z")) / col("n_d")) * 10000d)
          .cast("long").as("thr"))
    val fp =
      if (fastHash) pmod(TextFns.fastFingerprint(col("text")), lit(10000L))
      else pmod(TextFns.fingerprint(col("text")), lit(10000L))
    docs
      .select(col("doc_id"), col(domainCol).as("domain"), fp.as("fp"))
      .join(broadcast(rates), "domain")
      .filter(col("fp") < col("thr"))
      .select("doc_id", "domain")
  }

  /** Deterministic train/val/test split assignment: each document's split is
    * a pure function of its CONTENT — the same oracle-expressible rolling-hash
    * fingerprint [[mixtureSample]] uses, mod 10000 into cumulative fraction
    * ranges — so the split reproduces across runs/engines/partitionings, and a
    * re-crawled duplicate lands in the SAME split (no train/test leakage
    * through re-processing — the property a random split silently loses).
    * Map-only: no shuffle, no RNG state, any scale. `fractions` are tested in
    * order; hash mass past the last bound falls into the last split, so
    * fractions that sum to 1 partition exactly. `fastHash` swaps in the
    * xxhash64 form (the 100 TB path, not oracle-comparable). */
  def assignSplit(docs: DataFrame,
                  fractions: Seq[(String, Double)] =
                    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
                  fastHash: Boolean = false): DataFrame = {
    require(fractions.nonEmpty, "assignSplit needs at least one split")
    fractions.foreach { case (n, f) =>
      require(f >= 0 && f <= 1, s"split fraction out of [0,1]: $n=$f") }
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions sum above 1: ${fractions.map(_._2).sum}")
    val fp =
      if (fastHash) pmod(TextFns.fastFingerprint(col("text")), lit(10000L))
      else pmod(TextFns.fingerprint(col("text")), lit(10000L))
    val uppers = fractions.map(_._1).zip(fractions.scanLeft(0.0)(_ + _._2).tail)
    // round, not truncate: a cumulative sum like 0.29 evaluates to
    // 2899.9999999999995 * in doubles — truncation would shift that split's
    // boundary down a bucket from the `fp % 10000 < 2900` form an oracle or
    // downstream consumer naturally writes
    val splitCol = uppers.init.foldRight(lit(uppers.last._1): Column) {
      case ((name, ub), e) =>
        when(col("__fp") < lit(math.round(ub * 10000d)), lit(name)).otherwise(e)
    }
    docs.withColumn("__fp", fp).select(col("doc_id"), splitCol.as("split"))
  }

  /** Deterministic corpus-shuffle keys: the "global shuffle before
    * packing/training" step as a pure function of (seed, content) — sort by
    * `(shuffle_key, doc_id)` and the corpus is in a stable pseudo-random
    * order that reproduces across runs, engines, and partitionings (a random
    * shuffle loses exactly that, and with it the ability to resume or audit a
    * data order). A new seed is a new order. Returns the key column rather
    * than a global rank: a rank is `row_number` over an UNPARTITIONED window
    * — one task sorts the corpus — while sorting by the key is a range
    * exchange + local sorts, the scale-safe total order (writers hand it to
    * `repartitionByRange(...).sortWithinPartitions(...)`). Content-identical
    * documents share a key; the doc_id tie-break keeps the order total.
    * `fastHash` swaps the oracle-expressible rolling hash for xxhash64 (the
    * 100 TB path — one hash pass, better dispersion). */
  def shuffleOrder(docs: DataFrame, seed: Long = 0L,
                   fastHash: Boolean = false): DataFrame = {
    // the seed rides INSIDE the hashed text (prepended as a token), so
    // changing it re-disperses every key — no per-seed salt column needed.
    // Negative seeds encode strip-proof ("seedm7", not "seed-7"): the
    // oracle-hash normalizer strips non-alphanumerics, so a '-' sign would
    // collapse seeds 7 and -7 into the same key stream on that path while
    // the xxhash64 path kept them distinct.
    val seedTok = if (seed < 0) s"seedm${seed.toString.drop(1)}" else s"seed$seed"
    val seeded = concat(lit(s"$seedTok "), col("text"))
    val key = if (fastHash) TextFns.fastFingerprint(seeded)
              else TextFns.fingerprint(seeded)
    docs.select(col("doc_id"), key.as("shuffle_key"))
  }

  /** [[mixtureSample]] generalized to weights ABOVE 1 — epoch-style
    * upsampling ("books × 2.5"): every document emits `floor(w)` full copies
    * plus one more with probability `frac(w)`, decided by the same
    * content-keyed hash as the sampling path (so the SAME documents carry the
    * fractional epoch on every run/engine). Output carries `copy_id`
    * (0-based) so downstream packing/shuffling can interleave copies instead
    * of clustering them. Map-only: one `explode(sequence(...))` per doc, no
    * shuffle, no RNG state. Weights below 1 degenerate to exactly
    * [[mixtureSample]]'s keep rule (0 or 1 copies). */
  def mixtureUpsample(docs: DataFrame, weights: Map[String, Double],
                      defaultWeight: Double = 1.0,
                      domainCol: String = "source"): DataFrame = {
    (weights.values.toSeq :+ defaultWeight).foreach(w =>
      require(w >= 0, s"mixture weight must be >= 0, got $w"))
    // same driver-side rounding as mixtureSample: compute the fractional-
    // epoch threshold from the SAME double expression DuckDB evaluates, then
    // round as its CAST-to-BIGINT does (Spark's .cast("long") truncates)
    def fullCopies(w: Double): Long = math.floor(w).toLong
    def fracThreshold(w: Double): Long = math.round((w - math.floor(w)) * 10000d)
    val copies = weights.toSeq.sortBy(_._1).foldRight(
        lit(fullCopies(defaultWeight)): Column) {
      case ((dom, w), e) => when(col(domainCol) === dom, lit(fullCopies(w))).otherwise(e)
    }
    val fracTh = weights.toSeq.sortBy(_._1).foldRight(
        lit(fracThreshold(defaultWeight)): Column) {
      case ((dom, w), e) => when(col(domainCol) === dom, lit(fracThreshold(w))).otherwise(e)
    }
    docs
      .select(col("doc_id"), col(domainCol).as("domain"),
        TextFns.fingerprint(col("text")).as("fp"),
        copies.as("__c"), fracTh.as("__fth"))
      .select(col("doc_id"), col("domain"),
        (col("__c") +
          when(pmod(col("fp"), lit(10000L)) < col("__fth"), 1L)
            .otherwise(0L)).as("n_copies"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("domain"),
        explode(sequence(lit(0L), col("n_copies") - 1L)).as("copy_id"))
  }

  /** Bigram language-model quality score — the CCNet-style "how much does this
    * document look like the corpus" signal (Wenzek et al. 2020 filter corpora
    * by LM perplexity; this is the self-trained n-gram form). Trains bigram
    * counts ON the corpus itself, then scores every document by its mean
    * bigram log-probability `avg ln(C(w1 w2) / C(w1 ·))` — boilerplate and
    * templated text score high, token soup scores low. Returns
    * (doc_id, n_bigrams, lm_score) for documents with at least one bigram.
    *
    * Scale shape: the count model is two aggregates over the exploded bigram
    * stream (vocab²-bounded — megabytes for a word vocab, independent of
    * corpus size), `localCheckpoint`ed once (the context-total agg and
    * the model join are two references, and an unmaterialized plan re-runs
    * the corpus aggregation per reference) and re-attached via equi-joins
    * that AQE broadcasts; the bigram stream is tokenize-once + one
    * `zip_with` slice pair per doc. At 100 TB: train the counts on an
    * [[graft.operators.Ops.hashSample]] and only the scoring pass reads
    * every row. */
  def lmScore(docs: DataFrame): DataFrame = {
    // bigrams are 2-gram shingles — same tokenize-once kernel as the dedup
    // paths; empty array (sub-2-token doc) explodes to nothing.
    // (no fanOut repartition before the tokenize: tokenize feeding a
    // map-side-combined count aggregate gains nothing from extra partitions
    // and paid a measured extra stage.)
    val bigrams = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFns.shinglesFromTokens(col("toks"), 2)).as("bg"))
    // Assemble the count MODEL vocab-side first (both tables are vocab²-
    // bounded), so the corpus-scale bigram stream pays exactly ONE equi-join
    // on the materialized non-null `bg` — joining the corpus stream twice,
    // the second time on a per-row derived split() key, would re-derive the
    // key in constraint-inference filters and double the corpus shuffle.
    // checkpoint the one corpus aggregate (vocab²-bounded) so the context
    // totals and the model join read materialized blocks instead of
    // re-running the corpus scan per lazy reference — the KN-family
    // one-scan discipline, applied uniformly
    val bigramCounts = bigrams.groupBy(col("bg"))
      .agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .localCheckpoint(true)
    val model = bigramCounts.join(
        bigramCounts.groupBy("w1").agg(sum(col("c_bg")).as("c_w1")), "w1")
      .select(col("bg"), col("c_bg"), col("c_w1"))
    bigrams
      .join(model, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c_bg").cast("double") / col("c_w1"))), 6).as("lm_score"))
  }

  /** Interpolated Kneser-Ney bigram LM score — the smoothing the CCNet-class
    * perplexity filters actually train (Wenzek et al. 2020 use KenLM, whose
    * default is modified Kneser-Ney; [[lmScore]] is the unsmoothed MLE form).
    * Per observed bigram:
    *
    *   P_kn(w2|w1) = (c(w1 w2) − D)/c(w1·) + D·N1+(w1·)/c(w1·) · P_cont(w2)
    *   P_cont(w2)  = N1+(·w2) / |distinct bigram types|
    *
    * where N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct left
    * contexts of w2, and D the absolute discount. The continuation term is
    * what distinguishes KN from plain absolute discounting: a word seen after
    * MANY different contexts ("francisco" vs "the") keeps low continuation
    * mass, so boilerplate that glues common words scores differently than raw
    * frequency suggests. Self-trained scoring only ever looks up OBSERVED
    * bigrams (c ≥ 1 > D), so every log is finite; the backoff term still
    * reshapes the score exactly as in held-out use.
    *
    * Returns (doc_id, n_bigrams, kn_score) for docs with ≥ 1 bigram;
    * `kn_score` = mean ln P_kn, rounded to 6 (absorbs summation-order ulps,
    * the [[lmScore]] precedent). Fully SQL-expressible → hash-oracled.
    *
    * Scale shape identical to [[lmScore]] with one twist: the bigram count
    * table is `localCheckpoint`ed (eager, distributed, vocab²-bounded —
    * megabytes for a word vocab), so left stats, continuation stats, the
    * distinct-type total AND the model join all read materialized blocks
    * instead of re-running the corpus aggregation per reference, and the
    * type total is a scalar aggregate riding a one-row broadcast crossJoin
    * (the [[tokenDistributionDrift]] normalizer pattern) — NEVER a
    * `sum().over(Window.partitionBy())`, which would funnel the 10⁸–10⁹-row
    * web-scale continuation table through a single task. The
    * corpus-scale bigram stream still pays exactly ONE scoring equi-join.
    * At 100 TB: train the counts on an [[graft.operators.Ops.hashSample]] —
    * only the scoring pass must read every row. */
  def lmScoreKneserNey(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"absolute discount must be in (0,1), got $discount")
    val bigrams = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFns.shinglesFromTokens(col("toks"), 2)).as("bg"))
    // checkpoint the model's ONE corpus aggregate (vocab²-bounded rows on
    // executor storage; the ContextCleaner frees the blocks when the plan is
    // collected) — every model table below derives from these blocks without
    // another corpus scan, including the scalar type total
    val bigramCounts = bigrams.groupBy(col("bg"))
      .agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .localCheckpoint(true)
    // left stats: total mass and distinct-continuation count per context w1
    val leftStats = bigramCounts.groupBy("w1")
      .agg(sum(col("c_bg")).as("c_w1"), count(lit(1)).as("n1p_w1"))
    // continuation stats: distinct left contexts per w2
    val rightStats = bigramCounts.groupBy("w2")
      .agg(count(lit(1)).as("n1p_w2"))
    // the global type total is the sum of exactly these counts — a scalar
    // aggregate broadcast back via a one-row crossJoin over the checkpointed
    // counts, the shape [[lmScoreKneserNeyTransfer]] always had
    val totals = rightStats.agg(sum(col("n1p_w2")).as("n_types"))
    val model = bigramCounts
      .join(leftStats, "w1")
      .join(rightStats, "w2")
      .crossJoin(broadcast(totals))
      .select(col("bg"),
        ((col("c_bg") - lit(discount)) / col("c_w1") +
          lit(discount) * col("n1p_w1") / col("c_w1") *
            (col("n1p_w2").cast("double") / col("n_types"))).as("p_kn"))
    bigrams
      .join(model, "bg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("p_kn"))), 6).as("kn_score"))
  }

  /** Transfer Kneser-Ney scoring — the ACTUAL CCNet deployment shape (Wenzek
    * et al. 2020 fit KenLM on Wikipedia and score the crawl): the bigram
    * model fits on `train` and every `score` document gets its mean
    * log-probability under that FROZEN model, with the full interpolated-KN
    * backoff for material the model never saw:
    *
    *   seen bigram:      (c − D)/c(w1·) + D·N1+(w1·)/c(w1·) · P_cont(w2)
    *   unseen, w1 seen:  D·N1+(w1·)/c(w1·) · P_cont(w2)   (pure backoff mass)
    *   unseen w1:        P_cont(w2)                        (continuation only)
    *   unseen w2:        P_cont = 1/|types|                (one pseudo-type)
    *
    * — each case is the previous one with the unavailable statistics dropped,
    * so the score degrades smoothly instead of −∞ on OOV material (the whole
    * point of smoothing; [[lmScoreKneserNey]] is the self-trained form that
    * never meets an unseen bigram). Returns (doc_id, n_bigrams,
    * n_oov_bigrams, kn_score); n_oov_bigrams counts score-side bigrams absent
    * from the trained model — itself a useful domain-shift signal.
    *
    * All four cases are count algebra in doubles → fully hash-oracled.
    *
    * Scale shape: model tables are train-vocab-bounded; the score-side bigram
    * stream tokenizes once and pays three LEFT equi-joins against them (left
    * joins plant no constraint-inference filters on the stream side, so the
    * split-derived w1/w2 keys are computed once); the type total rides as a
    * collected literal. At 100 TB the model is a persisted artifact; only the
    * scoring pass reads the corpus. */
  def lmScoreKneserNeyTransfer(train: DataFrame, score: DataFrame,
                               discount: Double = 0.75): DataFrame =
    lmScoreKneserNeyTransferFrom(knTransferCounts(train), score, discount)

  /** The frozen KN transfer model's ONE corpus aggregate, checkpointed
    * (vocab²-bounded): the three model joins, the left/right-stats
    * derivations and the totals scalar all read materialized blocks instead
    * of re-running the train scan per lazy reference (the KN-family
    * one-scan discipline). Visible to the entries so a stream≡batch gate fits
    * the model ONCE and hands the same blocks to both faces — the fit is
    * deterministic, so this changes job count, not values. */
  private[graft] def knTransferCounts(train: DataFrame): DataFrame = {
    val bigrams = train
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFns.shinglesFromTokens(col("toks"), 2)).as("bg"))
    bigrams.groupBy(col("bg"))
      .agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .localCheckpoint(true)
  }

  /** [[lmScoreKneserNeyTransfer]] over an already-fitted
    * [[knTransferCounts]] model, batch and streaming alike. The distinct-type
    * total is COLLECTED into a literal — it is a frozen model PARAMETER (like
    * the Bloom filter's bits or k-means centroids), and a one-row crossJoin
    * is not stream-safe. The plan is then explode + LEFT equi-joins against
    * the model tables (stateless stream-static joins on a stream) + the
    * per-doc aggregate (the only streaming state; run a stream in
    * complete/update mode). The model must be checkpointed: a stream-static
    * join re-evaluates its static side EVERY micro-batch, so without the
    * checkpoint each trigger would re-tokenize and re-aggregate the whole
    * train corpus. */
  private[graft] def lmScoreKneserNeyTransferFrom(trainCounts: DataFrame,
      score: DataFrame, discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"absolute discount must be in (0,1), got $discount")
    def bigramsOf(docs: DataFrame) = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFns.shinglesFromTokens(col("toks"), 2)).as("bg"))
    val leftStats = trainCounts.groupBy("w1")
      .agg(sum(col("c_bg")).as("c_w1"), count(lit(1)).as("n1p_w1"))
    val rightStats = trainCounts.groupBy("w2").agg(count(lit(1)).as("n1p_w2"))
    // null for an empty model: every p_kn (and so kn_score) is then null
    val nTypes = rightStats.agg(sum(col("n1p_w2"))).head().get(0)
    val pCont = coalesce(col("n1p_w2").cast("double"), lit(1.0)) /
      lit(nTypes).cast("double")
    bigramsOf(score)
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .join(trainCounts.select("bg", "c_bg"), Seq("bg"), "left")
      .join(leftStats, Seq("w1"), "left")
      .join(rightStats, Seq("w2"), "left")
      .select(col("doc_id"), col("c_bg"),
        when(col("c_bg").isNotNull,
          (col("c_bg") - lit(discount)) / col("c_w1") +
            lit(discount) * col("n1p_w1") / col("c_w1") * pCont)
        .when(col("c_w1").isNotNull,
          lit(discount) * col("n1p_w1") / col("c_w1") * pCont)
        .otherwise(pCont).as("p_kn"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c_bg").isNull, 1L).otherwise(0L)).as("n_oov_bigrams"),
        round(avg(log(col("p_kn"))), 6).as("kn_score"))
  }

  /** Perplexity bucketing — CCNet's actual OUTPUT artifact (Wenzek et al.
    * 2020 §4.3 ship each language shard split into head/middle/tail by LM
    * perplexity tertile; consumers then train on head+middle or reweight):
    * every doc gets its [[lmScoreKneserNey]] score and a quality bucket,
    * 1 = head (highest score = lowest perplexity) … `nBuckets` = tail.
    *
    * Scale shape — deliberately NOT an `ntile` window: an unpartitioned
    * ranking window sorts the whole corpus on one task. Instead the bucket
    * THRESHOLDS come from one exact interpolated-percentile aggregate (an
    * `nBuckets`-bounded row that broadcasts back) and assignment is a
    * map-only comparison — the [[qualityQuantileFilter]] pattern; at 100 TB
    * swap `percentile` for `approx_percentile`, the join shape is unchanged.
    * Thresholds round to 6 (like every score here) so the boundary
    * comparison is engine-reproducible; a doc exactly ON a threshold falls
    * in the lower-quality bucket (not >), deterministically. */
  def perplexityBuckets(docs: DataFrame, nBuckets: Int = 3,
                        discount: Double = 0.75): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 100,
      s"nBuckets must be in [2,100], got $nBuckets")
    // checkpoint the per-doc scores (3 narrow columns, distributed): the
    // threshold aggregate and the assignment pass are two references to this
    // frame, and an unmaterialized plan would run the whole KN scoring join
    // — a corpus scan — once per reference
    val scored = lmScoreKneserNey(docs, discount).localCheckpoint(true)
    val ps = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val th = scored
      .agg(expr(s"percentile(kn_score, array(${ps.mkString(",")}))").as("__ths"))
      .select((0 until nBuckets - 1).map(i =>
        round(element_at(col("__ths"), i + 1), 6).as(s"__t$i")): _*)
    val above = (0 until nBuckets - 1).map(i =>
        when(col("kn_score") > col(s"__t$i"), 1).otherwise(0))
      .reduce(_ + _)
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_bigrams"), col("kn_score"),
        (lit(nBuckets) - above).cast("long").as("ppl_bucket"))
  }

  /** Curriculum training order (Bengio et al. 2009, the data-engineering
    * half): a deterministic GLOBAL order key that walks difficulty buckets
    * easy → hard while shuffling pseudo-randomly WITHIN each bucket —
    * `order_key = ppl_bucket · 2^52 + md5_52(doc_id)`. The packed key is
    * exact ONLY as a long (past bucket 1 it exceeds 2^53 — do NOT feed it
    * through a double-scored consumer like TopKByScoreAgg; sort on the long
    * directly). Difficulty comes from
    * [[perplexityBuckets]] (bucket 1 = highest KN score = most in-domain =
    * easiest). Emits `(doc_id, ppl_bucket, order_key)`; the consumer's
    * `.orderBy(order_key)` range-partitions the sort — the KEY is the
    * scalable artifact (a materialized global row_number would sort the
    * corpus in one task — the [[shuffleOrder]] contract, bucket-major). */
  def curriculumOrder(docs: DataFrame, nBuckets: Int = 3,
                      discount: Double = 0.75): DataFrame = {
    require(nBuckets <= 100, s"nBuckets must be <= 100 (key packing), got $nBuckets")
    perplexityBuckets(docs, nBuckets, discount)
      .select(col("doc_id"), col("ppl_bucket"),
        (col("ppl_bucket") * lit(1L << 52) +
          TextFns.md5PrefixLong(col("doc_id").cast("string"), 13)).as("order_key"))
  }

  /** Frozen-vocabulary model for [[vocabCoverage]]: xxhash64 keys of the
    * top-`topN` reference-corpus tokens by (count DESC, token ASC) — the
    * deterministic stand-in for a shipped tokenizer's vocab. TopN via
    * TakeOrderedAndProject (per-partition heap), one token-keyed agg before
    * it; the collected model is topN longs. */
  def frequentTokenVocab(docs: DataFrame, topN: Int = 500): Array[Long] = {
    import org.apache.spark.sql.Encoders
    require(topN >= 1, s"topN must be >= 1, got $topN")
    docs.select(explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok").asc)
      .limit(topN)
      .select(xxhash64(col("tok")).as("h")).as(Encoders.scalaLong).collect()
  }

  /** Tokenizer/vocabulary coverage monitor — the governance signal that
    * catches domain drift BEFORE training does (a corpus whose OOV rate
    * against the shipped tokenizer's vocab climbs will fragment into
    * garbage-length token sequences): per-doc `(n_tokens, n_oov, oov_rate)`
    * against a frozen vocab. MAP-ONLY — token hashes probe the
    * [[graft.functions.LongSetContainsExpr]] hashed-set kernel inside a
    * higher-order filter, so the monitor runs at scan speed and unchanged on
    * a stream (the [[removeFrequentSegmentsStateless]] shape). */
  def vocabCoverage(docs: DataFrame, vocab: Array[Long]): DataFrame =
    docs
      // null-safe tokenization: with ANSI off, size(null) = -1 — a null-text
      // crawl row would emit (-1, -1, -1.0) and silently drag aggregated OOV
      // rates negative; null text monitors as the empty document instead.
      // Zero-length tokens are dropped BEFORE sizing: split("", " ") yields
      // [""], which would report an empty/null doc as n_tokens=1, n_oov=1,
      // oov_rate=1.0 and silently inflate corpus OOV rates on blank rows —
      // and would diverge from the TextFns.tokens path frequentTokenVocab
      // builds the vocab from. Empty docs monitor as (0, 0, 0.0).
      .select(col("doc_id"),
        filter(split(TextFns.normalizeNonNull(col("text")), " "),
          t => length(t) > lit(0)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        size(filter(col("__toks"), t =>
          !graft.functions.LongSetContainsExpr.longSetContains(xxhash64(t), vocab)))
          .cast("long").as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / greatest(col("n_tokens"), lit(1L)), 6))

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006): every doc draws a pseudo-uniform u from its CONTENT
    * hash and ranks by ln(u)/w — the top `k` such keys are exactly a
    * w-weighted sample without replacement (the A-ES algorithm's
    * u^(1/w) ranking in log space, same order, better float spread). The
    * quality-weighted pick a curation pipeline runs when it can afford k
    * documents and wants long/high-quality ones preferred, not mandated.
    *
    * Determinism contract matches [[mixtureSample]]: u is a pure content
    * function (rolling-hash bucket; `fastHash` = xxhash64 scale path), so
    * the sample is reproducible across runs, engines, and partitionings,
    * and a re-crawled duplicate draws the SAME u. Keys are rounded to 9
    * decimals (absorbs cross-engine ln/divide ulps; ~1e5 distinct levels
    * even at weight 10^4) with a doc_id tie-break — fully deterministic.
    *
    * Scale shape: map-only key computation + TakeOrderedAndProject top-k;
    * no RNG state, no shuffle before the heap. Zero/negative weights drop
    * (ln(u)/w flips sign there — exclude rather than invert). */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String = "n_chars",
                     fastHash: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val fp =
      if (fastHash) pmod(TextFns.fastFingerprint(col("text")), lit(10000L))
      else pmod(TextFns.fingerprint(col("text")), lit(10000L))
    docs
      .select(col("doc_id"), col(weightCol).cast("double").as("weight"), fp.as("fp"))
      .filter(col("weight") > 0)
      .select(col("doc_id"), col("weight"),
        round(log((col("fp").cast("double") + 0.5d) / 10000d) / col("weight"), 9)
          .as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
  }

  /** Adjacent-pair pointwise mutual information (Church & Hanks 1990) — the
    * collocation statistic behind tokenizer-vocabulary audits and
    * phrase-mining passes (which adjacent pairs co-occur far above chance:
    * multi-word entities, boilerplate frames, glued tokens). PMI(a,b) =
    * ln(c_ab·N / (c_a·c_b)) over adjacent token pairs; `minCount` floors the
    * pair count first (bare PMI is maximized by hapax pairs — the classic
    * bias, so the floor is load-bearing, not cosmetic). Top `topN` by
    * (pmi DESC, a, b), rounded to 6 — fully deterministic and hash-oracled.
    *
    * Scale shape: unigram and bigram counts are each ONE explode + count
    * aggregation over the tokenize-once projection (vocab- and
    * distinct-bigram-bounded outputs); the unigram table is
    * `localCheckpoint`ed (eager, distributed, vocab-bounded) because THREE
    * references read it — both PMI join sides and the normalizer N, which is
    * a scalar aggregate riding a one-row broadcast crossJoin (the
    * [[tokenDistributionDrift]] pattern) — NEVER a
    * `sum().over(Window.partitionBy())`, which would funnel a web-scale
    * vocab (10⁸–10⁹ types) through one task; the PMI join is
    * equi-keyed on single tokens against the vocab-bounded count tables and
    * the final top-N is TakeOrderedAndProject. */
  def cooccurrencePmi(docs: DataFrame, minCount: Long = 5, topN: Int = 100): DataFrame = {
    val toks = docs.select(TextFns.tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c_w"))
      .localCheckpoint(true)
    val totals = uni.agg(sum(col("c_w")).as("n_total"))
    val big = toks
      .select(explode(TextFns.shinglesFromTokens(col("toks"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .select(element_at(split(col("bg"), " "), 1).as("a"),
        element_at(split(col("bg"), " "), 2).as("b"), col("c_ab"))
    big
      .join(uni.select(col("w").as("a"), col("c_w").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c_w").as("c_b")), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        round(log(col("c_ab").cast("double") * col("n_total") / (col("c_a") * col("c_b"))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Per-language quantile quality gate: keep documents at or above their
    * language's median token count — thresholds that adapt to each group's own
    * distribution instead of one global constant (short-doc languages aren't
    * wiped out by a global floor). One aggregate per language (exact
    * interpolated percentile) broadcast back over the corpus; at 100 TB swap
    * `percentile` for `approx_percentile` — the join shape is unchanged. */
  def qualityQuantileFilter(docs: DataFrame, quantile: Double = 0.5,
                            langCol: String = "lang"): DataFrame = {
    // null language folds into its own 'und' group rather than silently
    // vanishing: an inner join on a null key matches nothing, so null-lang
    // docs would be neither kept nor gated
    val scored = docs
      .select(col("doc_id"), coalesce(col(langCol), lit("und")).as("lang"),
        TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), size(col("toks")).cast("long").as("n_tokens"))
    val thresholds = scored.groupBy("lang")
      .agg(expr(s"percentile(n_tokens, $quantile)").as("lang_threshold"))
    scored.join(thresholds, "lang")
      .filter(col("n_tokens") >= col("lang_threshold"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("lang_threshold"), 6).as("lang_threshold"))
  }

  /** Corpus data card: the per-(domain, language) summary table every corpus
    * release ships — document and token volumes, length distribution, exact
    * duplicate rate. One aggregation pass over the tokenize-once projection
    * plus a fingerprint-distinct count (the dedup signal); all measures are
    * algebraic or distinct-counts, so the same query at 100 TB is one shuffle
    * on the (domain, lang) key with map-side partials. */
  def dataCard(docs: DataFrame, domainCol: String = "source",
               langCol: String = "lang"): DataFrame =
    docs
      .select(col(domainCol).as("domain"), col(langCol).as("lang"),
        col("text"), TextFns.tokens(col("text")).as("toks"))
      .select(col("domain"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"),
        TextFns.normalizeNonNull(col("text")).as("norm"))
      .groupBy("domain", "lang")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_tokens")).as("tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        round(avg(col("n_tokens").cast("double")), 6).as("avg_tokens"),
        sum(col("n_chars")).as("chars"),
        // normalizeNonNull at the projection: countDistinct SKIPS nulls, so a
        // nullable norm would undercount distinct_docs and inflate dup_rate
        // for any group containing null texts
        countDistinct(col("norm")).as("distinct_docs"))
      .withColumn("dup_rate",
        round(lit(1d) - col("distinct_docs").cast("double") / col("docs"), 6))

  /** The corpus unigram-count frame shared by [[zipfFit]] and
    * [[tokenDistributionDrift]] — ONE map-side-combined (token, count)
    * aggregate over the tokenize-once projection, vocab-bounded output; a
    * single definition so the two data-card metrics can never disagree on
    * what a "token" is. */
  private def unigramCounts(docs: DataFrame): DataFrame = docs
    .select(explode(TextFns.tokens(col("text"))).as("token"))
    .filter(length(col("token")) > 0)
    .groupBy("token").agg(count(lit(1)).as("c"))

  /** Zipf-law fit over the corpus unigram distribution — the vocabulary-health
    * scalar for a data card: least-squares slope (and r²) of log2(frequency)
    * against log2(rank) over the type table. Natural text sits near slope −1
    * (Zipf 1949); a crawler loop or template flood flattens the head (slope
    * toward 0 with low r²), a vocabulary collapse steepens it — alert on the
    * pair across snapshots, drill into WHERE with [[tokenDistributionDrift]]
    * and [[graft.operators.Search.domainKeywords]]. Returns ONE row
    * `(n_types, n_tokens, zipf_slope, zipf_r2)`; a single-type corpus has no
    * defined slope and reports (slope 0, r² 1).
    *
    * Scale shape: ONE map-side-combined token-count aggregate over the corpus
    * (the floor for any frequency statistic), then the global frequency rank
    * via a TWO-PASS RANGE-PARTITIONED row_number (an unpartitioned window
    * would serialize a true web-scale vocab, 10⁸–10⁹ types, through one
    * task): range-exchange the type table on the
    * rank order, take a per-partition histogram (one tiny action on the
    * persisted frame — |shuffle partitions| rows), broadcast the cumulative
    * offsets back, and rank = offset(partition) + row_number within the
    * partition — every partition sorts in parallel, no single-task sort
    * anywhere. Range partitions are non-overlapping and ordered, so the
    * stitched rank is EXACTLY the global row_number. The fit moments then
    * reduce to one row, computed eagerly so the range-partitioned frame can
    * be persisted for exactly the two passes and released in `finally` (the
    * histogram and the rank pass must see the SAME partition boundaries —
    * repartitionByRange samples, so an unpersisted recompute could move
    * them). */
  def zipfFit(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val (xy, ranged) = zipfXy(docs)
    try {
      val nD = count(lit(1)).cast("double")
      val sxy = nD * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y"))
      val sxx = nD * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x"))
      val syy = nD * sum(col("y") * col("y")) - sum(col("y")) * sum(col("y"))
      val fit = xy.agg(
        count(lit(1)).as("n_types"),
        coalesce(sum(col("c")), lit(0L)).as("n_tokens"), // empty corpus: 0, not null
        round(when(sxx > 0, sxy / sxx).otherwise(lit(0.0)), 6).as("zipf_slope"),
        // constant y (or a single type): a flat line fits exactly -> r2 = 1
        round(when(sxx > 0 && syy > 0, sxy * sxy / (sxx * syy)).otherwise(lit(1.0)), 6)
          .as("zipf_r2"))
      // one row — materialize it so `finally` can release the two-pass frame
      val row = fit.collect()(0)
      spark.createDataFrame(
        java.util.Arrays.asList(row), fit.schema)
    } finally { ranged.unpersist(); () }
  }

  /** [[zipfFit]]'s two-pass rank'd (c, x, y) frame — factored out so the
    * plan pin can assert the rank shape (PlanSpec: one range exchange, the
    * window keyed by the partition id, NO single-partition exchange).
    * Returns the lazy fit-input frame plus the persisted range-partitioned
    * frame backing both passes; the CALLER releases the latter when done. */
  private[graft] def zipfXy(docs: DataFrame): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = unigramCounts(docs)
      .repartitionByRange(nPart, col("c").desc, col("token"))
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pass 1: per-partition histogram -> cumulative offsets (empty
    // partitions emit no row and contribute 0 by construction)
    val hist = ranged.groupBy("__pid").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = hist.map(_._1).zip(
      hist.map(_._2).scanLeft(0L)(_ + _).init)
    val offDf = spark.createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    // pass 2: rank within each range partition in parallel, stitched by
    // the broadcast offsets
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col("c").desc, col("token"))
    val xy = ranged.join(broadcast(offDf), Seq("__pid"))
      .withColumn("rank", col("__off") + row_number().over(w))
      .select(col("c"), log2(col("rank").cast("double")).as("x"),
        log2(col("c").cast("double")).as("y"))
    (xy, ranged)
  }

  /** Split each document into overlapping token windows — the context-length
    * prep step every LLM training pipeline runs before tokenizer packing
    * (stride = chunkSize - overlap, last chunk may be short, every token is
    * covered). One row per (doc, chunk), map-only: tokenization is bound ONCE
    * per document in its own projection ([[graft.functions.TextFns]] rule), the
    * chunk expansion is a `posexplode(transform(sequence...))` over slices of
    * that array — no shuffle, no re-tokenization per chunk, output size is
    * sum(ceil(tokens/stride)) rows. Deterministic chunk ids. */
  def chunkDocuments(docs: DataFrame, chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize > overlap >= 0, got ($chunkSize, $overlap)")
    val stride = chunkSize - overlap
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        // chunks = ceil((n - chunkSize) / stride) + 1, floored at 1
        (greatest(ceil((size(col("toks")) - chunkSize) / lit(stride.toDouble)), lit(0))
          .cast("long") + 1L).as("n_chunks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), col("n_chunks") - 1L),
          i => slice(col("toks"), (i * stride).cast("int") + 1, lit(chunkSize)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("long").as("n_tokens"))
  }

  /** Assign documents to token-budget packs — the distributed form of
    * sequence packing. True greedy first-fit is inherently serial; the
    * scalable contract is: partition the corpus into `groups` deterministic
    * pack groups (doc_id mod groups — each a parallel packing stream), order
    * each group deterministically, and assign each document to the pack its
    * FIRST token falls in (`floor(running_total_before / budget)`). One
    * window over (group, doc order); at 100 TB each group's window is
    * independent, so parallelism = `groups` and no global sort exists.
    *
    * Budget contract: a document straddling a boundary stays whole in the
    * pack it starts in, so a pack can exceed `budgetTokens` by up to one
    * document's length (any window-expressible rule must accept this; a
    * hard cap requires the serial first-fit). Run [[chunkDocuments]] first
    * when no single document may exceed the budget — then the overhang is
    * bounded by one chunk, not one document. */
  def packByTokenBudget(docs: DataFrame, budgetTokens: Long = 2048,
                        groups: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("pack_group").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), pmod(col("doc_id"), lit(groups.toLong)).as("pack_group"),
        size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("tokens_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("pack_group"), col("n_tokens"),
        floor(col("tokens_before") / budgetTokens).as("pack_id"))
  }

  /** [[packByTokenBudget]]'s MANIFEST — the contract a training dataloader
    * actually consumes: every pack's member documents in concatenation order
    * with their token offsets inside the pack. Returns `(doc_id, pack_group,
    * pack_id, seq_in_pack, pack_offset, n_tokens)`: concatenating a pack's
    * docs by `seq_in_pack` places each doc's tokens at
    * `[pack_offset, pack_offset + n_tokens)` — the spans an attention mask or
    * document-boundary loss reset reads directly.
    *
    * Cost over the base op: the per-pack windows require clustering by
    * (group, pack), which the existing HashPartitioning(group) already
    * satisfies (pack derives from the group's own running total), so the
    * plan keeps ONE exchange — the added windows ride the same sort. */
  def packManifest(docs: DataFrame, budgetTokens: Long = 2048,
                   groups: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gw = Window.partitionBy("pack_group").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pw = Window.partitionBy("pack_group", "pack_id").orderBy("doc_id")
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), pmod(col("doc_id"), lit(groups.toLong)).as("pack_group"),
        size(col("toks")).cast("long").as("n_tokens"))
      .withColumn("tokens_before", sum(col("n_tokens")).over(gw) - col("n_tokens"))
      .withColumn("pack_id", floor(col("tokens_before") / budgetTokens))
      .withColumn("seq_in_pack", row_number().over(pw).cast("long"))
      // ordered ascending, so the running min IS the pack's first offset
      .withColumn("pack_offset", col("tokens_before") - min(col("tokens_before"))
        .over(pw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "pack_group", "pack_id", "seq_in_pack", "pack_offset", "n_tokens")
  }

  /** The Gopher stopword list (Rae et al. 2021, A1.1): a document must contain
    * at least `minStopwords` DISTINCT members to pass the stopword rule. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style composite quality rules (Rae et al. 2021, Appendix A1.1) —
    * the rule-based document filter every web-scale curation pipeline applies
    * before model-based scoring. Emits each measured signal, one boolean per
    * rule, and the conjunction `keep`, so downstream audits can ask "which
    * rule killed this document" instead of getting an opaque drop:
    *   - word count within `[minWords, maxWords]`
    *   - mean word length within `[minMeanWordLen, maxMeanWordLen]`
    *     (computed on the 6-decimal rounded value so the boundary decision is
    *     reproducible across engines)
    *   - symbol-to-word ratio (`#` or `...`) at most `maxSymbolRatio`
    *   - fraction of words containing a letter at least `minAlphaWordFrac`
    *   - at least `minStopwords` distinct [[gopherStopwords]]
    *
    * Scale shape: map-only — every signal derives from ONE normalize+tokenize
    * projection per row ([[graft.functions.TextFns]] bind-once rule), no
    * aggregation, no exchange; the filter runs at scan speed ahead of any
    * dedup shuffle, which is exactly where a rule gate belongs at 100 TB.
    * Repetition-family Gopher rules (duplicate line/n-gram fractions) are the
    * corpus-level siblings in [[graft.operators.Dedup.dupNgramStats]] and
    * [[graft.operators.Dedup.dupSpanFraction]]. */
  def gopherQualityRules(docs: DataFrame, minWords: Long = 30, maxWords: Long = 100000,
                         minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1, minAlphaWordFrac: Double = 0.8,
                         minStopwords: Int = 2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords, "word-count bounds must satisfy 1 <= min <= max")
    val stopArr = array(gopherStopwords.map(lit): _*)
    docs
      .select(col("doc_id"), col("text"), TextFns.normalize(col("text")).as("norm"))
      .select(col("doc_id"), col("text"), split(col("norm"), " ").as("toks"),
        length(regexp_replace(col("norm"), " ", "")).as("char_cnt"))
      .select(col("doc_id"), col("char_cnt"),
        size(col("toks")).cast("long").as("n_words"),
        size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0))).as("n_sym"),
        size(filter(col("toks"), w => w.rlike("[a-z]"))).as("n_alpha"),
        size(array_intersect(col("toks"), stopArr)).cast("long").as("distinct_stopwords"))
      .select(col("doc_id"), col("n_words"),
        round(col("char_cnt").cast("double") / col("n_words"), 6).as("mean_word_len"),
        round(col("n_sym").cast("double") / col("n_words"), 6).as("symbol_ratio"),
        round(col("n_alpha").cast("double") / col("n_words"), 6).as("alpha_word_frac"),
        col("distinct_stopwords"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"), col("symbol_ratio"),
        col("alpha_word_frac"), col("distinct_stopwords"),
        (col("n_words") >= minWords && col("n_words") <= maxWords).as("rule_word_count"),
        (col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen)
          .as("rule_word_len"),
        (col("symbol_ratio") <= maxSymbolRatio).as("rule_symbol"),
        (col("alpha_word_frac") >= minAlphaWordFrac).as("rule_alpha"),
        (col("distinct_stopwords") >= minStopwords).as("rule_stopwords"))
      .withColumn("keep",
        col("rule_word_count") && col("rule_word_len") && col("rule_symbol") &&
          col("rule_alpha") && col("rule_stopwords"))
  }

  /** Gopher REPETITION rules (Rae et al. 2021, Table A1) — the within-document
    * half of the repetition family: documents dominated by a single repeated
    * n-gram (`top_gram_frac` = chars in occurrences of the most frequent gram
    * / normalized chars; can exceed 1 on overlapping single-token loops, which
    * is the signal) or by duplicated n-grams overall (`dup_gram_frac` = chars
    * covered by the span UNION of every gram occurring ≥ 2 times — bounded
    * ≤ 1). Gopher's thresholds: top 2/3/4-gram ≤ 0.20/0.18/0.16, duplicate
    * 5..10-gram ≤ 0.15..0.10. The default `maxTopGramFrac = 0.18` is the
    * table's top-3-gram threshold; Gopher publishes no duplicate-3-gram
    * threshold, so `maxDupGramFrac = 0.30` is this engine's default knob —
    * pick n and both bounds per the table row you are enforcing.
    * Cross-document siblings live in [[graft.operators.Dedup.dupNgramStats]]
    * and `dupSpanFraction`; the top-TOKEN share (n = 1) is `text_repetition`.
    *
    * Scale shape: MAP-ONLY — one normalize projection, one native
    * O(chars)-per-row kernel ([[graft.functions.GramRepetitionExpr]], counts +
    * span walk inside whole-stage codegen), no exchange at all. This gate runs
    * at scan speed ahead of any dedup shuffle, exactly like
    * [[gopherQualityRules]] — at 100 TB the repetition filter costs one pass
    * over the bytes it was already reading. */
  def gopherRepetitionStats(docs: DataFrame, n: Int = 3,
                            maxTopGramFrac: Double = 0.18,
                            maxDupGramFrac: Double = 0.30): DataFrame = {
    import graft.functions.GramRepetitionExpr.gramRepetition
    val denom = greatest(length(col("norm")), lit(1)).cast("double")
    docs
      .select(col("doc_id"), TextFns.normalizeNonNull(col("text")).as("norm"))
      .select(col("doc_id"), col("norm"),
        gramRepetition(split(col("norm"), " "), n).as("rep"))
      .select(col("doc_id"),
        round(col("rep.top_chars").cast("double") / denom, 6).as("top_gram_frac"),
        round(col("rep.dup_chars").cast("double") / denom, 6).as("dup_gram_frac"))
      .withColumn("keep",
        col("top_gram_frac") <= maxTopGramFrac && col("dup_gram_frac") <= maxDupGramFrac)
  }

  /** Curation AUDIT trail — [[curateCorpus]]'s gate chain with per-document
    * verdicts instead of silent drops: every input doc gets exactly one of
    * `lang` / `too_short` / `token_len` (first failing gate, in gate order) /
    * `duplicate` (passed the gates, lost the dedup — `survivor_id` names the
    * winner) / `kept`. The "which rule killed this document" question a
    * governance review asks of a corpus run; `Σ kept = curateCorpus` row
    * count by construction (PropertySpec).
    *
    * Scale shape: all gate signals come from the ONE tokenize projection
    * (map-only); the only exchanges are the survivor-group aggregate and the
    * verdict re-join on the group key. `fastHash` swaps the normalized-text
    * key for xxhash64 so both exchanges carry 8-byte keys — identical
    * verdicts barring collision (the `pipeline_curate_fp` caveat). */
  def curateAudit(docs: DataFrame, lang: String = "en", minTokens: Int = 20,
                  maxAvgTokenLen: Double = 5.0, fastHash: Boolean = false): DataFrame = {
    val key = if (fastHash) xxhash64(col("norm")) else col("norm")
    val gated = scoredAll(docs)
      .select(col("doc_id"), key.as("k"),
        when(col("pred_lang") =!= lang, "lang")
          .when(col("n_tokens") < minTokens, "too_short")
          .when(col("avg_token_len") > maxAvgTokenLen, "token_len").as("reason"))
    val survivors = gated.filter(col("reason").isNull)
      .groupBy(col("k")).agg(min(col("doc_id")).as("survivor_id"))
    gated
      .join(survivors, Seq("k"), "left")
      .select(col("doc_id"),
        coalesce(col("reason"),
          when(col("doc_id") === col("survivor_id"), "kept")
            .otherwise("duplicate")).as("verdict"),
        when(col("reason").isNull && col("doc_id") =!= col("survivor_id"),
          col("survivor_id")).as("survivor_id"))
  }

  /** Corpus snapshot diff — the governance primitive behind "what changed
    * between yesterday's crawl and today's": per doc_id verdicts `added`
    * (new only), `removed` (old only), `changed` (both, different content).
    * Unchanged docs are omitted — at 100 TB the overwhelmingly common case
    * must not be materialized.
    *
    * Scale shape: each side reduces to (doc_id, 8-byte content fingerprint)
    * in its own map-only projection BEFORE the single full-outer join on
    * doc_id — no document body ever crosses the exchange, the same key
    * discipline as [[graft.operators.Dedup.exactDedupByFingerprint]].
    * `fastHash` picks xxhash64 (scale default) vs the oracle-reproducible
    * rolling hash; verdicts agree with a direct text compare barring 64-bit
    * collision (the `pipeline_curate_fp` caveat).
    *
    * Presence is carried by explicit per-side marker columns, NOT inferred
    * from fingerprint nullness — a null-text document fingerprints as the
    * empty document on BOTH paths (the slow path coalesces before hashing,
    * like [[graft.functions.TextFns.fastFingerprint]] already does), so a
    * null-text row present in both snapshots reports `unchanged`, and a
    * null-vs-text edit reports `changed` instead of vanishing into a
    * null `=!=` comparison. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   fastHash: Boolean = true): DataFrame = {
    def fp(df: DataFrame, as: String, mark: String): DataFrame = df.select(col("doc_id"),
      (if (fastHash) TextFns.fastFingerprint(col("text"))
       else TextFns.fingerprint(coalesce(col("text"), lit("")))).as(as),
      lit(true).as(mark))
    fp(oldDocs, "old_fp", "in_old")
      .join(fp(newDocs, "new_fp", "in_new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** Token-distribution DRIFT between two corpus slices/snapshots — the
    * Jensen–Shannon divergence (log base 2, so `js_total` ∈ [0, 1]) between
    * their unigram distributions, with the per-token decomposition
    *
    *   js_contrib(t) = ½·p_a(t)·log2(p_a(t)/m(t)) + ½·p_b(t)·log2(p_b(t)/m(t)),
    *   m = (p_a + p_b)/2,   js_total = Σ_t js_contrib(t)
    *
    * ranked so the answer to "the crawl shifted — WHAT shifted?" is the top-N
    * rows (navigation chrome flooding in, a language slice collapsing, a
    * domain's vocabulary drifting). JS rather than KL: symmetric, no −∞ on
    * tokens present in only one side (x·log x → 0), bounded — a stable
    * monitoring metric to alert on across snapshot pairs. The
    * membership-level sibling is [[snapshotDiff]] (which docs changed); this
    * is the content-level monitor (how the token mass moved). `js_contrib`
    * rounds to 9 decimals before the total sums them, so the scalar is
    * reproducible across engines and partition orders to the 6 decimals it
    * reports.
    *
    * Scale shape: one tokenize+explode and ONE vocab-keyed count aggregate
    * per side (map-side combined — the corpus never shuffles raw text), then
    * everything downstream runs on vocab-BOUNDED frames with NO single-task
    * step (never unpartitioned windows for the normalizer, the total, or
    * the rank, which would funnel the vocab through one task): the
    * per-side normalizer and js_total are scalar aggregates broadcast back
    * via one-row crossJoins (the [[mixtureTemperature]] pattern), and the
    * top-N is `orderBy().limit()` — Spark's TakeOrderedAndProject, a
    * per-partition heap merged on the driver, never a global sort. At
    * 100 TB the cost is two token-count aggregations, which is the floor
    * for any distribution comparison. */
  def tokenDistributionDrift(a: DataFrame, b: DataFrame, topN: Int = 20): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val spark = a.sparkSession
    val (contrib, top, handles) = driftParts(a, b, topN)
    try {
      // the scalar total and the top-N are two passes over the SAME persisted
      // contrib frame (an unpersisted plan would recompute the token-count
      // subtree per reference — 2x the corpus work); the result is topN rows,
      // so materializing it here is model-scale, exactly the zipfFit shape
      val total = contrib
        .agg(round(coalesce(sum("js_contrib"), lit(0.0)), 6).as("js_total"))
        .head().getDouble(0)
      val out = top.select(col("token"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(col("js_contrib"), 6).as("js_contrib"),
        lit(total).as("js_total"))
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally { handles.foreach(_.unpersist()); () }
  }

  /** [[tokenDistributionDrift]]'s lazy guts — the plan-pin hook (PlanSpec
    * asserts the top-N is TakeOrderedAndProject over the persisted contrib
    * frame, never a window sort). Returns (persisted contrib, lazy top-N,
    * the persisted handles the CALLER releases when done). */
  private[graft] def driftParts(a: DataFrame, b: DataFrame, topN: Int)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val ca = unigramCounts(a).persist(lvl)
    val cb = unigramCounts(b).persist(lvl)
    // per-side normalizer: a one-row broadcast crossJoin over the persisted
    // counts (the mixtureTemperature pattern) — never an unpartitioned window
    def dist(c: DataFrame, pcol: String): DataFrame =
      c.crossJoin(broadcast(c.agg(sum("c").as("__tot"))))
        .select(col("token"), (col("c").cast("double") / col("__tot")).as(pcol))
    val joined = dist(ca, "p_a").join(dist(cb, "p_b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("p_a"), lit(0.0)).as("p_a"),
        coalesce(col("p_b"), lit(0.0)).as("p_b"))
    val m = (col("p_a") + col("p_b")) / 2
    def term(p: Column): Column = when(p > 0, p * log2(p / m) * 0.5).otherwise(lit(0.0))
    val contrib = joined
      .withColumn("js_contrib", round(term(col("p_a")) + term(col("p_b")), 9))
      .persist(lvl)
    val top = contrib.orderBy(col("js_contrib").desc, col("token")).limit(topN)
    (contrib, top, Seq(ca, cb, contrib))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw document by how much
    * more likely its n-gram features are under a TARGET corpus' unigram+bigram
    * model than under the raw corpus' own — the principled replacement for
    * "train a classifier against the target domain" when all you want is a
    * resampling weight. Returns `(doc_id, n_feats, dsir_logw)` where
    *
    *   dsir_logw = Σ_f [ log p̂_target(f) − log p̂_raw(f) ]
    *
    * over every unigram and bigram OCCURRENCE f of the document, with
    * add-`alpha` smoothed probabilities over the UNION vocabulary (so target-
    * only features shape the normalizer but unseen features never produce
    * −∞). Resample by feeding `dsir_logw` to [[qualityQuantileGate]] (top
    * fraction) or [[weightedSample]] (Gumbel-style without replacement).
    *
    * Scale shape (the paper's own trick, made explicit): with
    * `hashBuckets > 0` features collapse to `xxhash64(f) mod hashBuckets`, so
    * BOTH count models are dense tables of at most `hashBuckets` rows no
    * matter the corpus — fit them once, broadcast-or-equi-join them anywhere.
    * The corpus-side dataflow is the [[lmScore]] shape: one tokenize
    * projection per side, vocab-bounded model assembly (full-outer join of
    * two count tables), the raw feature stream pays exactly ONE equi-join on
    * the materialized feature key, and the three scalars (totals, vocab size)
    * ride a single-row broadcast. `hashBuckets = 0` keeps raw feature strings
    * — the oracle-reproducible fixture form. */
  def dsirWeights(raw: DataFrame, target: DataFrame, alpha: Double = 0.5,
                  hashBuckets: Int = 0): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be > 0, got $alpha")
    def feats(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(concat(col("toks"), TextFns.shinglesFromTokens(col("toks"), 2))).as("f0"))
      .filter(length(col("f0")) > 0)
      .select(col("doc_id"),
        (if (hashBuckets > 0) pmod(xxhash64(col("f0")), lit(hashBuckets.toLong)).cast("string")
         else col("f0")).as("f"))
    val rawF = feats(raw)
    val cntR = rawF.groupBy("f").agg(count(lit(1)).as("c_r"))
    val cntT = feats(target).groupBy("f").agg(count(lit(1)).as("c_t"))
    // checkpoint the assembled count model once (hashBuckets- or
    // union-vocab-bounded): the totals scalar and the corpus probe join are
    // two references, and an unmaterialized plan would re-run BOTH corpus
    // feature aggregations per reference (the KN-family discipline)
    val model = cntR.join(cntT, Seq("f"), "full_outer")
      .select(col("f"), coalesce(col("c_r"), lit(0L)).as("c_r"),
        coalesce(col("c_t"), lit(0L)).as("c_t"))
      .localCheckpoint(true)
    // graph order + totals: one single-row aggregate, broadcast into the score
    val stats = model.agg(sum(col("c_r")).as("r_tot"), sum(col("c_t")).as("t_tot"),
      count(lit(1)).cast("double").as("vocab"))
    rawF
      .join(model.filter(col("c_r") > 0), Seq("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        sum(log((col("c_t").cast("double") + alpha) / (col("c_r").cast("double") + alpha)))
          .as("s"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("n_feats"),
        round(col("s") + col("n_feats") *
          (log(col("r_tot").cast("double") + lit(alpha) * col("vocab")) -
           log(col("t_tot").cast("double") + lit(alpha) * col("vocab"))), 6)
          .as("dsir_logw"))
  }

  /** Cluster-balanced corpus pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"; the DataComp cluster-and-prune curation family —
    * [[Similarity.semanticDedup]]'s budget-setting sibling): assign every
    * embedding to its nearest seed centroid by dot-product argmax (the IVF
    * assignment kernel — seeds are a FROZEN model-scale list, ids must be the
    * contiguous 0..k-1), then KEEP at most `perCluster` rows per cluster.
    * Web-scale data is power-law clustered — a few dense topics swallow any
    * uniform sample — so the quota equalizes topic coverage. Two keep rules:
    *
    *  - default (balance): rank by a deterministic 52-bit md5 content hash of
    *    `vec_id` — an unbiased, reproducible, oracle-replayable within-cluster
    *    sample (52 bits so the rank is EXACT in the aggregate's double score;
    *    ties, i.e. md5-collisions, break to the smaller vec_id);
    *  - `keepHardest`: rank by ASCENDING prototypicality (dot with the
    *    assigned centroid, rounded to the cross-engine 6-decimal sim key) —
    *    the paper's finding that with abundant data, pruning the EASIEST
    *    (most prototypical) examples beats random pruning.
    *
    * Returns `(vec_id, cluster_id, keep_rank)` for kept rows, keep_rank
    * 1-based best-first.
    *
    * Scale shape: assignment is MAP-ONLY (one [[graft.functions
    * .NearestCentroidExpr]] probe per row); the quota is ONE hash aggregation
    * keyed by cluster_id through the k-bounded heap aggregate
    * ([[graft.functions.TopKByScoreAgg]]) — map-side partials send at most
    * `perCluster` rows per cluster per task, so a power-law hot cluster
    * combines inside every map task instead of sorting half the corpus in one
    * window task (the row_number form's failure mode at 100 TB). */
  def clusterBalance(emb: DataFrame, seeds: Seq[(Int, Seq[Double])],
                     perCluster: Int, keepHardest: Boolean = false): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive, got $perCluster")
    require(seeds.map(_._1).sorted == seeds.indices.toList,
      s"seed ids must be the contiguous 0..${seeds.size - 1}")
    import graft.functions.{NearestCentroidExpr, TextFns, VectorFns}
    // ONE constant-size probe yields assignment AND prototypicality — the
    // per-seed-literal dot array it replaces unrolls one generated dot loop
    // per seed, which past ~64 seeds blows the JIT method-size threshold
    // (the NearestCentroidExpr rationale) and pays every dot twice
    val assigned = emb
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("__v"))
      .select(col("vec_id"),
        NearestCentroidExpr.nearestCentroidWithDot(col("__v"), seeds).as("__p"))
      .select(col("vec_id"), col("__p.id").as("cluster_id"),
        col("__p.dot").as("__dot"))
    // best = LOWEST rank in both modes; the heap keeps GREATEST score with
    // ties to the smaller id, so score = -rank gives (rank asc, vec_id asc)
    val score =
      if (keepHardest) -VectorFns.simKey(col("__dot"))
      else -TextFns.md5PrefixLong(col("vec_id").cast("string"), 13).cast("double")
    assigned
      .groupBy(col("cluster_id"))
      .agg(graft.functions.TopKByScoreAgg.topKByScore(
        score, col("vec_id"), perCluster).as("__kept"))
      .select(col("cluster_id"), posexplode(col("__kept")).as(Seq("__pos", "__k")))
      .select(col("__k.id").as("vec_id"), col("cluster_id"),
        (col("__pos") + 1).cast("long").as("keep_rank"))
  }
}
