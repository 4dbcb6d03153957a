package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Document deduplication for the training-data-pipeline layer: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection over a
  * `(doc_id, text, ...)` table.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is one hash aggregation on a 64-bit fingerprint — never on the
  *    raw text (shuffling full documents to dedup them is the classic mistake);
  *  - near-dup pair generation is always blocked (LSH band buckets / SimHash
  *    prefixes) so the join is equi-key and the cross product only happens inside
  *    a bucket, never globally.
  */
object Dedup {

  /** Exact dedup: keep the smallest doc_id per normalized-text group, with the
    * group size. Groups on the full normalized text here because the oracle must
    * reproduce it; `exactDedupByFingerprint` is the shuffle-light scale variant. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(TextFns.normalize(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** Exact dedup, canonical-selection form: keep the duplicate the curation
    * actually wants — the row maximizing `quality` (ties to the smallest
    * doc_id) — instead of the arbitrary smallest id. "Keep the longest /
    * highest-scoring version" is the real decision when near-identical pages
    * differ in boilerplate trim. Same skew-immune shape as
    * [[graft.operators.Ops]]'s argmax LWW ([[graft.functions.ArgMaxAgg]] —
    * hash-aggregatable, unlike `max_by` whose struct buffer lowers to
    * SortAggregate): ONE aggregation on the key with map-side partial merge —
    * a hot duplicate group reduces inside each map task, where a window
    * row_number would sort the whole group on one task. */
  def exactDedupCanonical(docs: DataFrame,
                          quality: org.apache.spark.sql.Column): DataFrame =
    docs.groupBy(TextFns.normalize(col("text")).as("norm"))
      .agg(
        graft.functions.ArgMaxAgg.argMax(
          struct(quality.as("q"), (-col("doc_id")).as("nid")),
          col("doc_id")).as("doc_id"),
        count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** Canonical-selection dedup, scale path: the same argmax aggregation as
    * [[exactDedupCanonical]] but keyed on xxhash64(normalized text) — an 8-byte
    * shuffle key instead of the document body. This is the form a production
    * curation pipeline runs: at 100 TB the text-keyed variant's grouping key IS
    * the document, so the exchange would carry the whole corpus; here the
    * exchange carries (8-byte fp, quality, doc_id) and the argmax still merges
    * map-side (hash-aggregatable, skew-immune — a hot duplicate group reduces
    * inside each map task). Selects the identical survivor set as the text-keyed
    * form modulo 64-bit fingerprint collision (~n²/2⁶⁵ expected collisions, the
    * same caveat as [[exactDedupByFingerprint]]); DedupSpec asserts survivor-set
    * equality on the fixture. */
  def exactDedupCanonicalByFingerprint(docs: DataFrame,
                                       quality: org.apache.spark.sql.Column): DataFrame =
    docs.groupBy(TextFns.fastFingerprint(col("text")).as("fp"))
      .agg(
        graft.functions.ArgMaxAgg.argMax(
          struct(quality.as("q"), (-col("doc_id")).as("nid")),
          col("doc_id")).as("doc_id"),
        count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** Canonical-selection CLUSTER resolution: connected components as in
    * [[resolveClusters]], but the survivor of each component is its
    * HIGHEST-QUALITY member (ties to the smallest doc_id), not the smallest
    * id — the component-level generalization of [[exactDedupCanonical]]. A
    * curation pipeline wants this when near-dup clusters mix a full article
    * with its truncated or boilerplate-padded variants: min-id keeps
    * whichever crawled first, canonical selection keeps the best one.
    *
    * Scale shape: clustering cost is [[resolveClusters]]'s; the selection
    * adds one cluster-keyed [[graft.functions.ArgMaxAgg]] (hash-aggregatable
    * with map-side partials — a hot cluster reduces inside each task) and an
    * id-keyed re-join of the verdict. `quality` is evaluated against `docs`
    * (e.g. `col("n_chars")` or a model score column). */
  def resolveClustersCanonical(docs: DataFrame, pairs: DataFrame,
                               quality: org.apache.spark.sql.Column): DataFrame = {
    val withQ = resolveClusters(docs, pairs)
      .select("doc_id", "cluster_id")
      .join(docs.select(col("doc_id"), quality.as("__q")), "doc_id")
    val reps = withQ.groupBy("cluster_id")
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("__q").as("q"), (-col("doc_id")).as("nid")),
        col("doc_id")).as("rep"))
    withQ.join(reps, "cluster_id")
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("rep")).as("keep"))
  }

  /** Exact dedup, scale path: group on xxhash64(normalized text) — an 8-byte
    * shuffle key instead of the document body. */
  def exactDedupByFingerprint(docs: DataFrame): DataFrame =
    docs.groupBy(TextFns.fastFingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select("doc_id", "dup_count")

  /** Incremental (cross-snapshot) dedup — how dedup actually runs in
    * production: a new crawl `batch` arrives and must be deduplicated first
    * against ITSELF, then against the already-ingested `base` corpus, without
    * ever re-deduplicating the base. Returns the batch rows that survive both
    * gates (smallest doc_id per in-batch duplicate group, then anti-join
    * against base fingerprints).
    *
    * Scale shape: both sides reduce to 8-byte xxhash64 fingerprints before
    * any exchange — the batch self-dedup is one hash aggregate on the
    * fingerprint, and the cross-snapshot check is a LEFT ANTI join fingerprint
    * vs fingerprint (at 100 TB the base side is a pre-materialized
    * fingerprint table, bucketed on `fp` so the anti-join is co-located and
    * the new batch is the only side shuffled). The document text never moves. */
  def incrementalDedup(batch: DataFrame, base: DataFrame): DataFrame = {
    val batchDeduped = batch
      .select(col("doc_id"), TextFns.fastFingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_dup_count"))
    val baseFps = base.select(TextFns.fastFingerprint(col("text")).as("fp")).distinct()
    batchDeduped
      .join(baseFps, Seq("fp"), "left_anti")
      .select("doc_id", "batch_dup_count")
  }

  /** MinHash + LSH near-dup candidate pairs: shingle → 64-hash MinHash signature →
    * band buckets → self-equi-join on (band, bucket) → estimate Jaccard as the
    * fraction of agreeing signature positions; keep pairs above `threshold`.
    *
    * bands=16 × rows=4: detection probability at J=0.5 is 1-(1-0.5^4)^16 ≈ 0.65,
    * at J=0.8 ≈ 0.9988 — the usual near-dup operating point.
    */
  /** Per-doc MinHash signature table: (doc_id, sig[numHashes]) — the artifact
    * a cross-snapshot near-dedup persists per corpus snapshot (the near-dup
    * analog of [[incrementalDedup]]'s fingerprint table). Explode-once /
    * hash-once / min-aggregate: each shingle string is built and xxhash64'd
    * exactly one time; the k permutations are splitmix64 re-mixes of that
    * 8-byte value inside ONE imperative aggregate buffer
    * ([[graft.functions.MinHashSigAgg]]), min-reduced per doc with map-side
    * partial aggregation. (The naive `transform(sequence(0,k-1), i ->
    * array_min(...))` column form re-tokenizes the document k times per
    * row — 60x slower at bench scale; k separate min() columns cost k
    * managed buffer slots.) */
  def minhashSignatures(docs: DataFrame, shingleSize: Int = 3,
                        numHashes: Int = 64): DataFrame =
    // fanOut: the normalize+shingle+hash map stage is the expensive
    // per-row work and must not serialize on a narrow scan (no-op at scale)
    Similarity.fanOut(docs, "doc_id")
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.shinglesFromTokens(col("toks"), shingleSize))).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.MinHashSigAgg.minhashSig(col("h"), numHashes).as("sig"))

  /** [[minhashSignatures]] as a MAP-ONLY projection — no aggregation, so it
    * runs where a groupBy cannot: append-mode Structured Streaming (the
    * per-micro-batch signature step of
    * [[graft.streaming.StreamingViews.streamMinhashBaseMatches]]) and
    * per-row re-signature passes. Bit-identical output to the aggregate form
    * (shared splitmix64 mix — DedupSpec asserts equality); the aggregate
    * stays preferred in batch jobs (it streams exploded shingles through one
    * buffer instead of materializing the hash array per row). */
  def minhashSignaturesMapOnly(docs: DataFrame, shingleSize: Int = 3,
                               numHashes: Int = 64): DataFrame =
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        transform(array_distinct(TextFns.shinglesFromTokens(col("toks"), shingleSize)),
          s => xxhash64(s)).as("hs"))
      .select(col("doc_id"),
        graft.functions.MinHashSigExpr.minhashSigRow(col("hs"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** Signature table → bare (doc_id, band, bucket) rows. Candidate generation
    * joins these — carrying the 64-long signature through the bucket shuffle
    * would inflate it `bands`-fold (one copy per band); signatures re-attach
    * to the (much smaller) candidate pair set afterwards. */
  private[graft] def minhashBuckets(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs
      .select(col("doc_id"), explode(TextFns.minhashBands(col("sig"), bands, rows)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** (doc_id, band, bucket) LSH bucket table for a corpus — the artifact a
    * streaming near-dup gate joins against ([[graft.streaming.StreamingViews
    * .streamMinhashBaseMatches]]): compute once per frozen snapshot, persist
    * bucketed on (band, bucket). */
  def minhashBucketTable(docs: DataFrame, shingleSize: Int = 3,
                         bands: Int = 16, rows: Int = 4): DataFrame =
    minhashBuckets(minhashSignatures(docs, shingleSize, bands * rows), bands, rows)

  def minhashLshPairs(docs: DataFrame, shingleSize: Int = 3, threshold: Double = 0.5,
                      bands: Int = 16, rows: Int = 4): DataFrame = {
    val sigs = minhashSignatures(docs, shingleSize, bands * rows)
    val buckets = minhashBuckets(sigs, bands, rows)
    val a = buckets.alias("a")
    val b = buckets.alias("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    candidates
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sig_a")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sig_b")), "b_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / (bands * rows))
      .filter(col("est_jaccard") >= threshold)
      .select("a_id", "b_id", "est_jaccard")
  }

  /** Cross-snapshot NEAR-dup pairs: (batch doc, base doc) pairs whose
    * estimated Jaccard reaches `threshold` — the fuzzy sibling of
    * [[incrementalDedup]]'s exact fingerprint check, for the
    * continual-pretraining refresh where the re-crawl is a near-copy
    * (boilerplate drift, timestamps) rather than byte-identical.
    *
    * Scale shape: at 100 TB the base side enters as a PERSISTED
    * [[minhashSignatures]] table (bucketed on doc_id; its banding is a
    * map-only explode) — the frozen corpus is never re-shingled per batch.
    * The bucket join ships bare (doc_id, band, bucket) rows for both sides
    * and is equi-keyed on (band, bucket); the batch side is the small one,
    * so AQE broadcasts it and the base bucket stream never exchanges.
    * Signatures re-attach to the deduped candidate pairs only. Precision
    * follows the signature estimate (as in [[minhashLshPairs]]); recall is
    * banding-bounded — DedupSpec measures both against true cross-snapshot
    * Jaccard on the fixture. */
  def incrementalMinhashPairs(batch: DataFrame, base: DataFrame,
                              shingleSize: Int = 3, threshold: Double = 0.5,
                              bands: Int = 16, rows: Int = 4): DataFrame = {
    val bSigs = minhashSignatures(batch, shingleSize, bands * rows)
    val baseSigs = minhashSignatures(base, shingleSize, bands * rows)
    val candidates = minhashBuckets(bSigs, bands, rows).alias("a")
      .join(minhashBuckets(baseSigs, bands, rows).alias("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("base_id"))
      .dropDuplicates("batch_id", "base_id")
    candidates
      .join(bSigs.select(col("doc_id").as("batch_id"), col("sig").as("sig_a")), "batch_id")
      .join(baseSigs.select(col("doc_id").as("base_id"), col("sig").as("sig_b")), "base_id")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / (bands * rows))
      .filter(col("est_jaccard") >= threshold)
      .select("batch_id", "base_id", "est_jaccard")
  }

  /** Batch docs that survive cross-snapshot near-dedup: first self-dedup the
    * batch on near-dup pairs (GREEDY pair rule: a doc drops iff it directly
    * pairs with a smaller batch doc — NOT full connected components; a
    * chain-middle doc whose only smaller neighbor is transitive survives.
    * Compose [[minhashLshPairs]] with [[resolveClusters]] when
    * full-component resolution matters; the greedy rule needs no iteration
    * and over-keeps only across missing transitive edges), then drop batch
    * docs with a near-dup in `base`. Output one row per batch doc:
    * (doc_id, base_match_count, keep) — the fuzzy edition of
    * [[incrementalDedup]], with the verdict surfaced per doc so a pipeline
    * can audit WHY a doc dropped (self near-dup: count 0, keep false;
    * base near-dup: count > 0). */
  def incrementalMinhashDedup(batch: DataFrame, base: DataFrame,
                              shingleSize: Int = 3, threshold: Double = 0.5,
                              bands: Int = 16, rows: Int = 4): DataFrame = {
    val selfDropped = minhashLshPairs(batch, shingleSize, threshold, bands, rows)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("self_dup", lit(true))
    val baseCounts = incrementalMinhashPairs(batch, base, shingleSize, threshold, bands, rows)
      .groupBy(col("batch_id").as("doc_id"))
      .agg(count(lit(1)).as("base_match_count"))
    batch.select("doc_id")
      .join(selfDropped, Seq("doc_id"), "left")
      .join(baseCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("base_match_count"), lit(0L)).as("base_match_count"),
        (col("self_dup").isNull && coalesce(col("base_match_count"), lit(0L)) === 0)
          .as("keep"))
  }

  /** Per-document 64-bit SimHash (token sign-sums). Exposed so exact twins
    * (all-pairs Hamming in specs) and persisted-signature pipelines can reuse
    * the hash without the pair join. */
  def simhashes(docs: DataFrame): DataFrame = {
    // Same explode-once shape as MinHash: one xxhash64 per token, then 64 sign-sum
    // aggregates (map-side combinable) instead of re-tokenizing per bit.
    val hashed = Similarity.fanOut(docs, "doc_id") // no-op at scale
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitAggs = (0 until 64).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$b")
    }
    val packed = (0 until 64).map { b =>
      when(col(s"b$b") >= 0, lit(1L)).otherwise(lit(0L))
    }.reduce((acc, bit) => shiftleft(acc, 1).bitwiseOR(bit))
    hashed.groupBy("doc_id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** SimHash near-dup pairs with PIGEONHOLE blocking (Manku et al., WWW'07):
    * the 64 bits split into `maxHamming + 1` bands — a pair within the Hamming
    * budget differs in at most `maxHamming` bands, so it matches EXACTLY on at
    * least one band. Candidates come from per-band equi-joins; the exact
    * Hamming filter reruns on every candidate. Recall is therefore exactly 1.0
    * by construction (DedupSpec asserts equality with the all-pairs twin) —
    * unlike the top-prefix blocking this replaces, which recovered 3% of
    * Hamming<=16 pairs on the fixture. Candidate volume grows with
    * maxHamming (more, narrower bands): size the budget to near-dup distances
    * (<= 8 of 64 bits), not to a similarity search.
    *
    * 100 TB sizing rule: bucket count per band is 2^(64/(maxHamming+1)), so
    * expected bucket occupancy is n / 2^(64/(maxHamming+1)) and per-band pair
    * work is quadratic IN THE BUCKET. Keep
    * maxHamming <= 64 / log2(n / targetBucketSize) - 1 — e.g. n = 10^9 docs
    * with 1k-doc buckets needs bands of >= 20 bits, i.e. maxHamming <= 2;
    * larger budgets at that scale call for MinHash-LSH instead (its band
    * count is free while simhash bands are capped by the 64-bit hash). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    simhashPairsOf(simhashes(docs), maxHamming)

  /** [[simhashPairs]] over a PRECOMPUTED (doc_id, simhash) table — the
    * persisted-signature / shared-truth form: a gate that also needs
    * the raw hashes (the all-pairs Hamming truth) materializes them once and
    * feeds both sides instead of re-tokenizing the corpus per reference. */
  def simhashPairsOf(hashes: DataFrame, maxHamming: Int = 8): DataFrame = {
    val nb = maxHamming + 1
    require(nb >= 2 && nb <= 32, s"maxHamming must be in [1, 31], got $maxHamming")
    val width = 64 / nb
    // simhash rides the band explode — it is 8 fixed bytes, not a payload
    val tagged = hashes
      .select(col("doc_id"), col("simhash"),
        explode(array((0 until nb).map { i =>
          val start = i * width
          val w = if (i == nb - 1) 64 - start else width
          val mask = if (w >= 64) -1L else (1L << w) - 1L
          struct(lit(i).as("band"),
            shiftrightunsigned(col("simhash"), start).bitwiseAND(lit(mask)).as("key"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.key").as("key"))
    val a = tagged.alias("a")
    val b = tagged.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        TextFns.hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
  }

  /** Duplicate-cluster resolution: given near-dup PAIRS, assign every document
    * its connected-component representative (the smallest doc_id reachable
    * through pair edges) — the keep/drop decision a dedup pipeline actually
    * needs (keep = `doc_id == cluster_id`).
    *
    * Size-adaptive, the same decision shape as a broadcast join: near-dup edge
    * sets are usually TINY relative to the corpus, so when the pair count fits
    * the driver ([[maxDriverEdges]]) one collected union-find plus one
    * broadcast-joined label map replaces any number of distributed rounds.
    * Larger edge sets fall back to [[resolveClustersStar]], whose round bound
    * does not depend on component diameter. Both paths emit the same
    * components (PropertySpec asserts it on random graphs). */
  def resolveClusters(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val pc = pairs.persist()
    val edgeCount = pc.count()
    if (edgeCount > maxDriverEdges) {
      // the star form checkpoints its edge list eagerly, so the cached pairs
      // can go as soon as it returns
      val star = resolveClustersStar(docs, pc)
      pc.unpersist()
      return star
    }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pc.select(col("a_id").cast("long"), col("b_id").cast("long")).collect()
      .foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        // union by MIN root so the representative is the component minimum
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    val labels = parent.keys.toSeq.map(x => (x, find(x)))
    pc.unpersist()
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"))
      .join(broadcast(labels.toDF("doc_id", "label")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** Largest pair set [[resolveClusters]] collects to the driver (16 bytes
    * per edge: ~16 MB at the bound). */
  private[graft] val maxDriverEdges: Long = 1000000L

  /** The distributed connected-component form of [[resolveClusters]], with
    * DIAMETER-INDEPENDENT round bounds: alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — O(log² n) rounds worst case where min-label
    * propagation needs O(component diameter), so adversarially deep
    * components (long duplicate chains) converge as fast as short ones.
    *
    * Per round: large-star hangs every larger-than-center neighbor onto the
    * center's minimum (flattens deep trees without growing any star), then
    * small-star hangs the smaller neighbors. Both are one aggregation + one
    * equi-join re-emit over the edge list — no collect_list, no driver-side
    * graph. Convergence = canonical edge set stable (count + order-insensitive
    * hash checksum, one tiny agg action per round). Output schema matches
    * [[resolveClusters]] exactly: (doc_id, cluster_id, keep) with cluster_id =
    * the component's smallest doc_id (PropertySpec asserts equivalence on
    * random graphs; `dedup_clusters_star` hash-matches the same recursive-CTE
    * oracle as `dedup_clusters`). */
  def resolveClustersStar(docs: DataFrame, pairs: DataFrame,
                          maxIter: Int = 30): DataFrame = {
    var toFree: List[DataFrame] = Nil
    def ckpt(df: DataFrame): DataFrame = { val c = df.localCheckpoint(); toFree ::= c; c }
    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val p = ckpt(pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
    // canonical form: each undirected edge once, larger endpoint first
    var canon = ckpt(p.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = checksum(canon)
    var stable = false
    var i = 0
    while (i < maxIter && !stable) {
      // large-star over the symmetric view: center u, m = min(N(u) ∪ {u});
      // re-hang every neighbor v > u onto m
      val s = sym(canon)
      val minsL = s.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val large = s.filter(col("dst") > col("src"))
        .join(minsL, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      // small-star over larger→smaller edges: m = min(N≤(u) ∪ {u}); re-hang
      // the smaller neighbors and u itself onto m
      val minsS = large.groupBy("src").agg(min(col("dst")).as("m"))
      val small = large.join(minsS, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(minsS.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      canon = ckpt(small.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst")).distinct())
      val cur = checksum(canon)
      stable = cur == prev
      prev = cur
      i += 1
    }
    // A truncated exit would yield labels that look valid but split components
    // — refuse loudly rather than dedup against wrong representatives.
    if (!stable) throw new IllegalStateException(
      s"resolveClustersStar did not converge in $maxIter rounds — raise maxIter " +
        "(O(log^2 n) rounds suffice; non-convergence indicates a far larger graph)")
    // converged: edges are stars (node, component-min)
    val labels = sym(canon).groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("lbl"))
      .select(col("doc_id"), least(col("lbl"), col("doc_id")).as("label"))
    toFree.drop(1).foreach(df => try df.unpersist() catch { case _: Throwable => () })
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }

  /** Cross-document duplicate n-gram fraction — the passage-level repetition
    * signal (cf. the duplicate-n-gram filters of Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A.2, and Penedo et al. 2023, RefinedWeb):
    * for each document, the fraction of its DISTINCT word n-grams that also
    * occur in at least one other document. High fractions flag boilerplate /
    * templated passages that document-level dedup (exact or near-dup) misses
    * because the surrounding text differs. Output: (doc_id, n_grams, n_shared,
    * dup_gram_fraction); documents with fewer than `n` tokens have no n-grams
    * and drop out (their fraction is undefined).
    *
    * Scale: one explode of distinct grams per doc, one count aggregation per
    * gram, one equi-join back, one per-doc aggregation. With `hashKey = true`
    * the shuffle/join key is xxhash64(gram) — 8 bytes instead of the gram
    * string, the form to run at corpus scale (a 2^-64 collision merges two
    * gram counts; doc-level fractions are insensitive to it, but the DuckDB
    * oracle entry keeps string keys for bit-exact reproducibility). */
  def dupNgramStats(docs: DataFrame, n: Int = 3,
                    hashKey: Boolean = false): DataFrame = {
    val g = docs
      .select(col("doc_id"), TextFns.normalize(col("text")).as("norm"))
      .select(col("doc_id"), split(col("norm"), " ").as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(TextFns.shinglesFromTokens(col("toks"), n))).as("gram"))
      .select(col("doc_id"),
        (if (hashKey) xxhash64(col("gram")) else col("gram")).as("gram"))
    // grams are distinct within a doc, so count(*) per gram = containing docs
    val freq = g.groupBy("gram").agg(count(lit(1)).as("ndocs"))
    g.join(freq, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_gram_fraction",
        col("n_shared").cast("double") / col("n_grams"))
  }

  /** ASYMMETRIC containment near-dup — quote / superset detection, the
    * direction Jaccard cannot express: C(A→B) = |A∩B| / |A| over distinct
    * word n-grams. A short document pasted inside a longer one scores
    * C(short→long) ≈ 1 while their Jaccard stays low (the union is dominated
    * by the long doc), so a Jaccard gate never fires; the curation decision —
    * drop the contained copy, keep the superset — needs this operator.
    * Returns DIRECTED rows `(contained_id, container_id, containment)` with
    * containment ≥ `threshold`; an exact duplicate emits both directions.
    *
    * Candidate generation and scoring share ONE gram posting pass:
    * candidates are pairs sharing ≥1 gram whose document frequency lies in
    * [2, `maxDf`] (df=1 grams cannot be shared; df > `maxDf` grams are
    * boilerplate that cannot discriminate and would explode the pair set
    * quadratically — the same bound as the inverted-index build,
    * [[Search.buildPostings]]), and |A∩B| is the pair's shared-kept-gram
    * COUNT. Dataflow is explode-once, the LSH-bucket shape: a cheap df-count
    * aggregation first keeps only gram keys with df ∈ [2, `maxDf`] (a
    * count-agg buffer is one long per key no matter the df — a boilerplate
    * gram with df in the millions costs 8 bytes here, not a df-sized list),
    * a semi-join drops every posting of an unkept gram BEFORE any list is
    * collected, and only then do postings group into per-gram buckets — so
    * collect_list buffers are genuinely ≤ `maxDf` entries, map-side and
    * post-shuffle. Each bucket explodes its ordered pairs, and one pair-keyed
    * count finishes the intersection — the expensive normalize+shingle
    * projection runs ONCE per row. Both the df-count and the semi-join probe
    * hash-partition the same postings subtree by gkey, so the exchange is
    * planned once and reused (PlanSpec pins the exchange count). No gram
    * string and no gram array ever crosses an exchange: postings shuffle as
    * (xxhash64 gram key, doc_id, n_grams) — each doc's gram total rides the
    * posting row, so no per-doc size table is ever joined back. Exact when no
    * shared gram exceeds `maxDf` (the fixture regime, DedupSpec-asserted
    * against an array-intersect twin); at scale the count is conservative —
    * hyper-common shared grams are ignored, which only LOWERS containment of
    * genuinely boilerplate-only overlaps. Containment is a ratio of two exact
    * integers — bit-identical across engines. */
  def containmentPairs(docs: DataFrame, n: Int = 3, maxDf: Int = 20,
                       threshold: Double = 0.8): DataFrame = {
    // Projection discipline (measured 14.3 s → 4.9 s on the sf0.1 sweep
    // entry, mostly in the posting build: 6.6 s → 0.7 s):
    //  - `toks` binds in its own projection so the shingle lambda slices a
    //    MATERIALIZED array — passing split(norm) inline re-splits the
    //    document once per gram index (the TextFns.shinglesFromTokens rule);
    //  - `grams` is referenced twice in its consumer projection (size + the
    //    carried array), so CollapseProject keeps it materialized below the
    //    Generate instead of inlining the pipeline per exploded row;
    //  - explode_OUTER + a post-Generate null filter, NOT a plain explode:
    //    from `Generate explode(g)` the optimizer infers `size(g) > 0` and
    //    predicate pushdown then substitutes g through every projection down
    //    to the scan — re-deriving the whole normalize→shingle pipeline as an
    //    interpreted per-row filter (HOFs break whole-stage codegen). The
    //    outer form infers nothing, and the null filter references the
    //    GENERATED attribute, so nothing can push below the Generate.
    val post = Similarity.fanOut(docs, "doc_id") // no-op at scale
      .select(col("doc_id"), TextFns.normalizeNonNull(col("text")).as("norm"))
      .select(col("doc_id"), split(col("norm"), " ").as("toks"))
      .select(col("doc_id"),
        array_distinct(TextFns.shinglesFromTokens(col("toks"), n)).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("double").as("n_grams"),
        col("grams"))
      .select(col("doc_id"), col("n_grams"), explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull)
      .select(xxhash64(col("gram")).as("gkey"),
        struct(col("doc_id"), col("n_grams")).as("m"))
    // df pre-filter: bound the collect_list below BEFORE anything is
    // collected — df=1 grams cannot be shared, df>maxDf grams are boilerplate
    val keep = post.groupBy("gkey").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select("gkey")
    // sort_array orders each bucket by doc_id (struct compare, first field),
    // so the pair explode below emits each unordered pair exactly once, a<b
    val buckets = post.join(keep, Seq("gkey"), "left_semi")
      .groupBy("gkey")
      .agg(sort_array(collect_list(col("m"))).as("ms"))
    val inter = buckets
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
             transform(slice(ms, i + 2, size(ms) - i - 1), y -> struct(x, y))))"""))
        .as("p"))
      .groupBy(col("p.x.doc_id").as("a_id"), col("p.y.doc_id").as("b_id"),
        col("p.x.n_grams").as("a_n"), col("p.y.n_grams").as("b_n"))
      .agg(count(lit(1)).cast("double").as("inter"))
    // both directions explode from the one pair row (no union — a union would
    // plan the pair-agg subtree twice); map-only from here
    inter
      .select(explode(array(
        struct(col("a_id").as("contained_id"), col("b_id").as("container_id"),
          (col("inter") / col("a_n")).as("containment")),
        struct(col("b_id").as("contained_id"), col("a_id").as("container_id"),
          (col("inter") / col("b_n")).as("containment")))).as("r"))
      .filter(col("r.containment") >= threshold)
      .select(col("r.contained_id"), col("r.container_id"), col("r.containment"))
  }

  /** [[containmentPairs]] with the set-similarity-join POSITIONAL PREFIX
    * FILTER (the PPJoin/All-Pairs family's candidate bound, here specialized
    * to directed containment): if C(A→B) = |A∩B|/|A| ≥ t then B must share
    * one of A's `|A| − ⌈t·|A|⌉ + 1` globally-RAREST grams — miss all of
    * them and the overlap tops out at `⌈t·|A|⌉ − 1 < t·|A|` (pigeonhole).
    * So after ordering every doc's grams rarest-first by corpus df, a pair
    * is a candidate only when its shared gram lies in EITHER side's prefix
    * (either direction may clear the threshold). Boilerplate grams are by
    * construction the COMMONEST, hence never in a prefix — the quadratic
    * bucket explosion that [[containmentPairs]] pays on every shared
    * in-range gram here fires only on shared RARE grams.
    *
    * Dataflow: the same df-bounded posting pass (df-count pre-filter, then
    * semi-join, then ≤ `maxDf` buckets), but postings carry a prefix flag
    * (position < prefix length in the doc's rarest-first order) and the
    * in-bucket pair explode keeps only flagged pairs; candidates then dedup
    * to distinct (a, b) and re-join the per-doc IN-RANGE gram arrays (built
    * once for the ordering) to compute |A∩B| via array_intersect — the SAME
    * in-range intersection the base form counts, so the two forms are
    * bit-identical at any scale, not just on fixtures (PropertySpec
    * form-equivalence; DuckDB oracle). The candidate bound shares
    * [[containmentPairs]]'s caveat: a prefix gram with df > `maxDf` is
    * dropped, so pairs whose every shared rare gram is boilerplate-common
    * are missed — the same regime where the base form misses them too.
    * Cost vs base, measured at 100k–200k docs: the prefix machinery (an
    * in-range df join + per-doc sort + candidate dedup + one array join) is
    * pure OVERHEAD while `maxDf` is small, because the base form's bucket
    * explosion is already capped at C(maxDf, 2) pairs per gram — at the
    * stress fixtures the base form wins. The prefix form is the tool for
    * RAISING `maxDf` (catching pairs whose only shared grams sit at higher
    * df) without inheriting the base form's C(df, 2)-per-gram explosion:
    * there the flag culls the in-bucket pair space to shared-RARE-gram
    * pairs — a 200k-doc mid-df boilerplate corpus (maxDf = 1000 with a
    * planted df≈500 boilerplate gram per 500-doc group) is the regime where
    * it wins (5.1 s vs the base form's 13.8 s). */
  def containmentPairsPrefix(docs: DataFrame, n: Int = 3, maxDf: Int = 20,
                             threshold: Double = 0.8): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containment threshold must be in (0, 1], got $threshold")
    // same projection discipline as [[containmentPairs]]: `toks` materialized
    // (no per-gram re-split) and explode_OUTER + post-Generate null filter so
    // the inferred size(...)>0 constraint cannot push down and re-derive the
    // shingle pipeline per scan row
    val gramSets = Similarity.fanOut(docs, "doc_id") // no-op at scale
      .select(col("doc_id"), TextFns.normalizeNonNull(col("text")).as("norm"))
      .select(col("doc_id"), split(col("norm"), " ").as("toks"))
      .select(col("doc_id"),
        array_distinct(TextFns.shinglesFromTokens(col("toks"), n)).as("grams"))
      .select(col("doc_id"), expr("transform(grams, g -> xxhash64(g))").as("gkeys"))
    val post = gramSets.select(col("doc_id"), explode_outer(col("gkeys")).as("gkey"))
      .filter(col("gkey").isNotNull)
    val dfTab = post.groupBy("gkey").agg(count(lit(1)).as("df"))
    // rarest-first gram order per doc (df asc, gkey tie-break) over IN-RANGE
    // grams ONLY: hyper-common boilerplate never enters the df join or the
    // per-doc sort (in the hot-gram regime that join dominated everything —
    // measured 137 s -> tokenize+df cost at 1M docs). Correctness is
    // unchanged: a df=1 gram is unshareable, a df>maxDf gram is outside BOTH
    // forms' candidate regime (the shared documented caveat), and flagging
    // the k rarest SURVIVORS — with k computed from the ORIGINAL gram count
    // below — preserves the pigeonhole bound: B misses at most k−1 of A's
    // grams in total, so it cannot miss k flagged ones.
    val inRange = dfTab.filter(col("df") >= 2 && col("df") <= maxDf)
    val ordered = post.join(inRange, "gkey")
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(df, gkey))), s -> s.gkey)")
        .as("okeys"))
    // posting rows tagged with the prefix flag: pos < |g| - ceil(t*|g|) + 1,
    // |g| = the doc's FULL distinct-gram count, re-attached from gramSets and
    // CARRIED through the pair (the containment denominators — no per-doc
    // re-join later). SIZE REFINEMENT (the flag's load-bearing half): a doc
    // whose IN-RANGE gram count falls below ⌈t·|g|⌉ can never be a CONTAINED
    // side (|A∩B| ≤ in-range count < t·|A|), and a prefix only exists to
    // guard pairs where THIS doc is the contained one — pairs where it is
    // the container are caught by the other side's prefix. Such docs flag
    // NOTHING: without this, a doc whose only in-range gram is a mid-df
    // boilerplate gram flags that gram and the boilerplate bucket regenerates
    // exactly the junk pairs the prefix exists to cull (measured as the
    // difference between losing and winning the mid-df A/B).
    val tagged = ordered
      .join(gramSets.select(col("doc_id"), size(col("gkeys")).as("ng")), "doc_id")
      .select(col("doc_id"), col("ng"), size(col("okeys")).as("sz"),
        posexplode(col("okeys")))
      .select(col("col").as("gkey"), struct(col("doc_id"), col("ng"),
        (col("pos") < (col("ng") - ceil(col("ng") * threshold) + 1).cast("int")
          && col("sz") >= ceil(col("ng") * threshold).cast("int"))
          .as("pref")).as("m"))
    // in-bucket pair generation at the TRUE prefix-filter cost model: only
    // FLAGGED postings pair against the bucket — O(|flagged|·df) struct work
    // per bucket, so a boilerplate bucket with zero flagged members costs one
    // O(df) filter pass, never the C(df, 2) materialization the base form
    // pays (a naive "generate all pairs then keep flagged ones" HOF still
    // copies O(df²) structs before its filter — measured as the difference
    // between losing and winning the mid-df A/B). Pairs are
    // normalized to (smaller id, larger id); a flagged-flagged pair emerges
    // from both sides' scans and the distinct() collapses it
    val cand = tagged
      .groupBy("gkey")
      .agg(collect_list(col("m")).as("ms"))
      .select(explode(expr(
        """flatten(transform(filter(ms, m -> m.pref), x ->
             transform(filter(ms, y -> y.doc_id != x.doc_id),
               y -> struct(CASE WHEN x.doc_id < y.doc_id THEN x ELSE y END AS x,
                           CASE WHEN x.doc_id < y.doc_id THEN y ELSE x END AS y))))"""))
        .as("p"))
      .select(col("p.x.doc_id").as("a_id"), col("p.y.doc_id").as("b_id"),
        col("p.x.ng").as("a_n"), col("p.y.ng").as("b_n"))
      .distinct()
    // |A∩B| over the IN-RANGE gram arrays already built for the ordering —
    // EXACTLY the base form's intersection (a shared out-of-range gram counts
    // in neither form), with no re-tokenize and no full-gram-array shuffle:
    // the candidate set is the small side, so both re-joins broadcast it
    val aSets = ordered.select(col("doc_id").as("a_id"), col("okeys").as("a_g"))
    val bSets = ordered.select(col("doc_id").as("b_id"), col("okeys").as("b_g"))
    cand.join(aSets, "a_id").join(bSets, "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_g"), col("b_g"))).cast("double").as("inter"),
        col("a_n").cast("double").as("a_n"), col("b_n").cast("double").as("b_n"))
      .select(explode(array(
        struct(col("a_id").as("contained_id"), col("b_id").as("container_id"),
          (col("inter") / col("a_n")).as("containment")),
        struct(col("b_id").as("contained_id"), col("a_id").as("container_id"),
          (col("inter") / col("b_n")).as("containment")))).as("r"))
      .filter(col("r.containment") >= threshold)
      .select(col("r.contained_id"), col("r.container_id"), col("r.containment"))
  }

  /** Exact n-gram Jaccard over blocked candidate pairs: block on the first
    * `prefixLen` chars of the normalized text (cheap, oracle-reproducible blocking),
    * compute |A∩B| / |A∪B| over distinct word n-grams, keep pairs >= threshold.
    * Jaccard is a ratio of two exact integers — bit-identical across engines. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, prefixLen: Int = 40,
                        threshold: Double = 0.3): DataFrame = {
    // Three projections, each materializing what the next references twice —
    // normalize and tokenize run once per row (see TextFns.shinglesFromTokens).
    // normalizeNonNull: the block is a JOIN KEY — a nullable key would make
    // constraint inference re-derive the regex normalize in isnotnull filters
    // (see TextFns.normalizeNonNull).
    val g = Similarity.fanOut(docs, "doc_id") // no-op at scale
      .select(col("doc_id"), TextFns.normalizeNonNull(col("text")).as("norm"))
      .select(col("doc_id"), substring(col("norm"), 1, prefixLen).as("block"),
        split(col("norm"), " ").as("toks"))
      .select(col("doc_id"), col("block"),
        array_distinct(TextFns.shinglesFromTokens(col("toks"), n)).as("grams"))
    val a = g.alias("a")
    val b = g.alias("b")
    a.join(b, col("a.block") === col("b.block") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
          size(array_union(col("a.grams"), col("b.grams")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Edit-distance (Levenshtein) near-dup pairs — the character-level
    * complement of the token-level Jaccard form: catches single-character
    * typo/OCR variants whose token sets diverge. Candidates come from TWO
    * equi-join blocks — the first `blockLen` normalized chars OR the last
    * `blockLen` — so a pair is only missed when edits corrupt BOTH ends.
    * Measured against the exhaustive twin (DedupSpec): recall 1.0 at the
    * near-dup operating point (maxDist = 20 ≈ 6% of doc length); at LOOSE
    * budgets (≥ 13% of length) scattered-edit pairs escape any blocking
    * scheme tested (two-ended and shared-5-gram both 28/41) — size maxDist
    * to typo/OCR variation, not to a similarity search.
    * Both blocks are equi-keys: two shuffle joins + union, never an OR-join
    * nested loop. The banded DP ([[graft.functions.BandedEditDistanceExpr]])
    * abandons a pair at maxDist+1 — O(len·maxDist) per pair, not O(len²) —
    * and runs once per DISTINCT candidate (dedup before the DP). */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 5,
                        blockLen: Int = 40): DataFrame = {
    // normalizeNonNull: a nullable join-key expression makes constraint
    // inference re-derive the regex normalize in isnotnull() filters (see
    // TextFns.normalizeNonNull). Suffix block avoids negative-index
    // substring (engine-divergent on short strings): explicit start arith.
    val g = docs
      .select(col("doc_id"), TextFns.normalizeNonNull(col("text")).as("norm"))
      .select(col("doc_id"), col("norm"), length(col("norm")).as("len"))
      .select(col("doc_id"), col("norm"), col("len"),
        substring(col("norm"), 1, blockLen).as("pblock"),
        col("norm").substr(greatest(col("len") - (blockLen - 1), lit(1)), lit(blockLen))
          .as("sblock"))
    val a = g.alias("a")
    val b = g.alias("b")
    // |len(a) - len(b)| <= maxDist is a NECESSARY condition for the distance
    // bound and costs two cached ints per pair — it prunes candidates before
    // any DP runs.
    def cands(block: String) =
      a.join(b, col(s"a.$block") === col(s"b.$block") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          col("a.norm").as("norm_a"), col("b.norm").as("norm_b"))
    // The single `>= 0` filter is the complete distance gate: the banded DP
    // returns -1 for anything past maxDist.
    cands("pblock").unionAll(cands("sblock"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"),
        graft.functions.BandedEditDistanceExpr.bandedEditDistance(
          col("norm_a"), col("norm_b"), maxDist).as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Cross-document duplicate SPANS — exact substring dedup in the sense of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): whole-doc dedup misses boilerplate, licenses, and quoted
    * passages duplicated INSIDE otherwise-unique documents; those shared
    * substrings are what a trained model memorizes. Finds every `n`-token
    * gram occurring in at least `minDocs` distinct documents and merges the
    * per-document hits into maximal token spans: one row per (doc, span),
    * `span_start`/`span_end` 0-based inclusive token positions, `n_grams` =
    * duplicated grams merged into the span.
    *
    * The paper builds a corpus suffix array — inherently sequential and
    * memory-resident. The Spark-native equivalent fixes the match length at
    * `n` (the paper's min-match threshold, 50 BPE tokens there) and becomes
    * pure dataflow: spans longer than `n` emerge naturally as runs of
    * overlapping duplicated grams, which the island merge reassembles.
    *
    * Scale shape: ONE corpus tokenize pass (a second reference to the
    * exploded-gram subtree would re-run the scan — the uncached-subtree trap);
    * the corpus-sized exchanges are keyed by the GRAM — 8-byte xxhash64 by
    * default (`hashGrams`; the string-keyed form exists for the oracle, same
    * caveat as [[exactDedupByFingerprint]]). The distinct-doc count per gram
    * is PRIMITIVE window arithmetic over one (gram, doc) sort — dense_rank
    * then its partition max — never an object aggregation (the
    * collect-positions form allocated one buffer per (gram, doc) group:
    * measured 70 s → ~10 s at 1M docs / 17M grams when replaced by the
    * windows); the island merge is a per-doc window — bounded by
    * tokens-per-document, never corpus-sized.
    *
    * `skewSafe`: the default single-pass window puts ALL rows of one gram in
    * one task's sort — fine until a stop-phrase gram appears in a large
    * fraction of a 100 TB corpus, at which point that task dies (the same
    * hot-key regime the sessionizer's two-level form exists for). The
    * skew-safe form counts distinct docs per gram with two hash aggregations
    * (map-side partials combine — a hot gram reduces inside every map task)
    * and LEFT SEMI joins the duplicated-gram keys back; it pays a second
    * tokenize pass (the probe re-runs the exploded-gram subtree) and AQE
    * splits any hot join key. Identical output (DedupSpec). */
  def duplicateSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                     hashGrams: Boolean = true, skewSafe: Boolean = false): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (a span is duplicated across docs), got $minDocs")
    val keyed = keyedGrams(docs, n, hashGrams)
    val hits =
      if (skewSafe) {
        val dupGrams = keyed.select("g", "doc_id").distinct()
          .groupBy("g").agg(count(lit(1)).as("__nd"))
          .filter(col("__nd") >= minDocs)
          .select("g")
        keyed.join(dupGrams, Seq("g"), "left_semi").select("doc_id", "pos")
      } else {
        val wgOrd = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("doc_id")
        val wgAll = org.apache.spark.sql.expressions.Window.partitionBy("g")
        keyed
          .withColumn("__dr", dense_rank().over(wgOrd)) // ties = same doc
          .withColumn("__nd", max(col("__dr")).over(wgAll)) // = distinct docs for this gram
          .filter(col("__nd") >= minDocs)
          .select("doc_id", "pos")
      }
    mergeIslands(hits, n)
  }

  /** One (doc_id, pos, g) row per gram start position — the exploded stream
    * every span form is built from. */
  private def keyedGrams(docs: DataFrame, n: Int, hashGrams: Boolean): DataFrame =
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(TextFns.shinglesFromTokens(col("toks"), n)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        (if (hashGrams) xxhash64(col("gram")) else col("gram")).as("g"))

  /** Island merge of duplicated-gram hit positions into maximal spans: grams
    * starting at p and p' cover overlapping-or-adjacent token ranges iff
    * p' - p <= n; a larger gap starts a new span. Per-doc window, bounded by
    * tokens-per-document. */
  private def mergeIslands(hits: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("__ni", when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") - lag(col("pos"), 1).over(w) > n, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__ni")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  /** Incremental (cross-snapshot) duplicate spans — [[duplicateSpans]] for
    * the continual-pretraining refresh: a new crawl `batch` must be span-
    * trimmed against BOTH itself (in-batch duplication, `minDocs`) and the
    * already-ingested `base` corpus (cross-snapshot boilerplate), without
    * re-processing the base. Returns spans for BATCH documents only — the
    * span-granularity sibling of [[incrementalDedup]].
    *
    * Scale shape: the base reduces to its DISTINCT gram keys (8-byte
    * xxhash64 — at 100 TB this is a pre-materialized table bucketed on `g`,
    * built once per snapshot, exactly like the base fingerprint table
    * [[incrementalDedup]] assumes); the batch gram stream LEFT-joins it for
    * the membership flag, so only batch-sized data ever shuffles against the
    * co-located base keys. In-batch duplication uses the same primitive
    * dense_rank windows as [[duplicateSpans]]; a gram is a hit if EITHER
    * condition holds. */
  def incrementalDuplicateSpans(batch: DataFrame, base: DataFrame, n: Int = 8,
                                minDocs: Int = 2,
                                hashGrams: Boolean = true): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val keyed = keyedGrams(batch, n, hashGrams)
    val baseKeys = keyedGrams(base, n, hashGrams)
      .select("g").distinct().withColumn("__in_base", lit(true))
    val wgOrd = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("doc_id")
    val wgAll = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val hits = keyed
      .withColumn("__dr", dense_rank().over(wgOrd))
      .withColumn("__nd", max(col("__dr")).over(wgAll))
      .join(baseKeys, Seq("g"), "left")
      .filter(col("__nd") >= minDocs || col("__in_base"))
      .select("doc_id", "pos")
    mergeIslands(hits, n)
  }

  /** The removal half of substring dedup: rebuild each document's normalized
    * text with every cross-document duplicate span ([[duplicateSpans]])
    * dropped. This is Lee et al. 2022's conservative ExactSubstr policy —
    * remove the duplicated substring WHEREVER it occurs (the keep-one-copy
    * variant needs a cross-doc canonical choice per span; noted, not
    * implemented — whole-doc canonical dedup already covers "keep the best
    * copy" at document granularity). Output: (doc_id, text_trimmed,
    * n_tokens_removed); documents with no duplicated span pass through with
    * their normalized text and 0.
    *
    * Scale shape: [[duplicateSpans]]'s exchanges plus ONE doc-keyed left join
    * of the corpus against its per-doc span lists (dim-sized relative to the
    * corpus: docs with at least one duplicated span, ≤ tokens/2n spans each);
    * the trim itself is a map-only higher-order filter over the token array —
    * no token ever crosses an exchange. */
  def trimDuplicateSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                         hashGrams: Boolean = true): DataFrame =
    trimSpans(docs, duplicateSpans(docs, n, minDocs, hashGrams))

  /** Rebuild each doc's normalized text with the given `(doc_id, span_start,
    * span_end)` token spans dropped — the shared trim stage of
    * [[trimDuplicateSpans]] and [[decontaminateTrim]]. */
  private def trimSpans(docs: DataFrame, spanRows: DataFrame): DataFrame = {
    val spans = spanRows
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("a"), col("span_end").as("b"))).as("__sp"))
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("__sp", coalesce(col("__sp"),
        array().cast("array<struct<a:bigint,b:bigint>>")))
      .withColumn("__kept", filter(
        zip_with(col("__toks"), sequence(lit(0L), size(col("__toks")).cast("long") - 1),
          (w, i) => struct(w.as("w"), i.as("i"))),
        s => !exists(col("__sp"), sp => s.getField("i") >= sp.getField("a") &&
          s.getField("i") <= sp.getField("b"))))
      .select(col("doc_id"),
        array_join(col("__kept").getField("w"), " ").as("text_trimmed"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_tokens_removed"))
  }

  /** SPAN-level benchmark decontamination — the SURGICAL sibling of
    * [[Curation.decontaminate]]: instead of flagging whole documents, locate
    * the exact token spans covered by BENCHMARK word n-grams (island-merged
    * like [[duplicateSpans]]) so a document quoting one leaked eval question
    * loses the quote, not its other five thousand tokens. Returns corpus-side
    * span rows (doc_id, span_start, span_end, n_grams).
    *
    * Scale shape: the benchmark reduces to its DISTINCT gram keys (8-byte
    * xxhash64 — eval-suite-sized, broadcast; at 100 TB of accumulated suites,
    * a pre-materialized table bucketed on `g` like the incremental span
    * base), the corpus gram stream semi-joins it for membership, and only
    * HITS reach the per-doc island-merge window — clean corpus documents
    * cost one gram scan and nothing downstream. */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                        hashGrams: Boolean = true): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val benchKeys = keyedGrams(benchmark, n, hashGrams).select("g").distinct()
    val hits = keyedGrams(corpus, n, hashGrams)
      .join(benchKeys, Seq("g"), "left_semi")
      .select("doc_id", "pos")
    mergeIslands(hits, n)
  }

  /** The removal half of span-level decontamination: corpus documents rebuilt
    * with every benchmark-covered span dropped ([[contaminatedSpans]] +
    * the shared trim stage). Clean documents pass through with their
    * normalized text and n_tokens_removed = 0; a document that IS a
    * benchmark member's copy trims to empty — the whole-doc verdict of
    * [[Curation.decontaminate]] recovered as the degenerate case. */
  def decontaminateTrim(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                        hashGrams: Boolean = true): DataFrame =
    trimSpans(corpus, contaminatedSpans(corpus, benchmark, n, hashGrams))

  /** Per-document fraction of tokens covered by cross-document duplicate
    * spans ([[duplicateSpans]]) — the quality signal a curation gate consumes
    * ("drop or trim documents that are mostly boilerplate shared with the
    * rest of the corpus"). One row per input document; documents with no
    * duplicated span score 0.0. Same scale shape as [[duplicateSpans]] plus
    * one map-only token count and a doc-keyed aggregation. */
  def dupSpanFraction(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
                      hashGrams: Boolean = true): DataFrame = {
    val covered = duplicateSpans(docs, n, minDocs, hashGrams)
      .groupBy("doc_id")
      .agg(sum(col("span_end") - col("span_start") + 1).as("__cov"))
    docs
      .select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("__nt"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("__cov"), lit(0L)).cast("double") /
          greatest(col("__nt"), lit(1L)), 6).as("dup_span_fraction"))
  }

  // --------------------------------------------------------------------------
  // Corpus-frequent segment removal — the CCNet/RefinedWeb boilerplate step
  // (Wenzek et al. 2020 §3.1 dedup by paragraph hash; Penedo et al. 2023 line-
  // level filtering): a sentence/line that recurs across MANY documents (cookie
  // banners, "subscribe" calls, license headers) is boilerplate, and removing
  // it IN PLACE beats dropping whole documents. Cross-doc frequency is the
  // signal — within-doc repetition is Gopher's job (Curation.gopherRepetition).
  // --------------------------------------------------------------------------

  /** Segments of the normalized text: split on ". " (the single-line corpus's
    * sentence boundary — for multi-line corpora pass text pre-split on \n),
    * each segment trimmed of stray '.'/' ' edges, empties dropped. Bound the
    * result in its own projection before deriving several columns from it
    * (same CollapseProject caveat as [[TextFns.shinglesFromTokens]]). */
  private[graft] def segmentsCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(transform(split(TextFns.normalizeNonNull(text), "\\. "),
      s => trim(s, " .")), s => length(s) > 0)

  /** Corpus segment-frequency table: `(segment, df)` for every segment
    * occurring in at least `minDf` DISTINCT documents (a doc repeating its own
    * sentence doesn't inflate df — cross-doc frequency is the boilerplate
    * signal). The model-fitting half of [[removeFrequentSegments]].
    *
    * Scale shape: one corpus scan into a count-distinct aggregation keyed by
    * the segment (Spark plans count_distinct as two hash aggregations with
    * map-side partials — a hot boilerplate segment combines inside every map
    * task, no skewed reduce). Output size is bounded by construction:
    * Σ df <= total segment occurrences, so |{df >= minDf}| <= corpus segments
    * / minDf — at 100 TB with minDf in the thousands this is a small table. */
  def segmentFrequencies(docs: DataFrame, minDf: Long = 10L): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (df=1 segments are just text), got $minDf")
    docs
      .select(col("doc_id"), explode(segmentsCol(col("text"))).as("segment"))
      .groupBy("segment")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
  }

  /** Remove corpus-frequent segments from every document: each doc's segments
    * with cross-doc df >= `minDf` are dropped, the survivors rejoined with
    * ". " in original order. Returns one row per input doc:
    * `(doc_id, text_cleaned, n_segments_removed)` — a doc that was ALL
    * boilerplate cleans to the empty string.
    *
    * Scale shape: two corpus passes (frequency fit + removal — CCNet's own
    * structure; cache/checkpoint the segmented corpus to make it one read at
    * scale) plus a per-doc regroup. The frequent table is broadcast by
    * default — it is bounded by segments/minDf (see [[segmentFrequencies]]),
    * so the anti join is map-side and the exploded corpus never shuffles on
    * the segment; pass `broadcastFrequent = false` if a pathological corpus
    * (tiny minDf) makes the model exceed broadcast limits, and the anti join
    * falls back to a shuffle join AQE can still optimize.
    * [[removeFrequentSegmentsStateless]] is the one-pass map-only form for a
    * FROZEN model (the streaming face and the 100 TB apply path). */
  def removeFrequentSegments(docs: DataFrame, minDf: Long = 10L,
                             broadcastFrequent: Boolean = true): DataFrame = {
    val freqRaw = segmentFrequencies(docs, minDf).select("segment")
    val freq = if (broadcastFrequent) broadcast(freqRaw) else freqRaw
    val segged = docs.select(col("doc_id"), segmentsCol(col("text")).as("__segs"))
    val kept = segged
      .select(col("doc_id"), posexplode(col("__segs")).as(Seq("__pos", "segment")))
      .join(freq, Seq("segment"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("segment")))),
          s => s.getField("segment")), ". ").as("__cleaned"),
        count(lit(1)).as("__n_kept"))
    segged
      .select(col("doc_id"), size(col("__segs")).cast("long").as("__n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__cleaned"), lit("")).as("text_cleaned"),
        (col("__n_segs") - coalesce(col("__n_kept"), lit(0L))).as("n_segments_removed"))
  }

  /** Collect the frequent-segment model as xxhash64 keys — the frozen-model
    * half of the stateless form. Driver-bounded by segments/minDf (loud
    * [[graft.functions.LongProbeSet]] failure at 2^28, far above any sane
    * boilerplate model); at 100 TB fit this once per snapshot and reuse. */
  def frequentSegmentModel(docs: DataFrame, minDf: Long = 10L): Array[Long] = {
    import org.apache.spark.sql.Encoders
    segmentFrequencies(docs, minDf)
      .select(xxhash64(col("segment")).as("h"))
      .as(Encoders.scalaLong).collect()
  }

  /** MAP-ONLY frequent-segment removal against a frozen model — identical
    * output to [[removeFrequentSegments]] when `model` =
    * [[frequentSegmentModel]] at the same minDf (barring 64-bit collisions;
    * equivalence is driver-oracled). Zero exchanges: segment hashes probe a
    * [[graft.functions.LongSetContainsExpr]] hashed-set kernel inside a
    * higher-order filter, so this runs embarrassingly parallel over any
    * partitioning — and unchanged on a STREAM (no state, no watermark),
    * which is how a live ingest applies last snapshot's boilerplate model. */
  def removeFrequentSegmentsStateless(docs: DataFrame, model: Array[Long]): DataFrame =
    docs
      .select(col("doc_id"), segmentsCol(col("text")).as("__segs"))
      .select(col("doc_id"), size(col("__segs")).cast("long").as("__n_segs"),
        filter(col("__segs"), s =>
          !graft.functions.LongSetContainsExpr.longSetContains(xxhash64(s), model))
          .as("__kept"))
      .select(col("doc_id"),
        array_join(col("__kept"), ". ").as("text_cleaned"),
        (col("__n_segs") - size(col("__kept"))).as("n_segments_removed"))

  // --------------------------------------------------------------------------
  // Winnowing fingerprints — Schleimer, Wilkerson & Aiken (SIGMOD 2003), the
  // MOSS sampler: a SAMPLED document fingerprint with a detection guarantee
  // (any shared substring of >= w+k-1 tokens yields a shared fingerprint) at
  // ~2/(w+1) the storage of the full gram set. The sampled sibling of
  // duplicateSpans' exhaustive gram index: spans finds every duplicate
  // region exactly; winnowing trades exactness for a fingerprint table small
  // enough to keep ACROSS snapshots at 100 TB.
  // --------------------------------------------------------------------------

  /** Winnowing fingerprints: `(doc_id, pos, fp)` — the selected k-gram hash
    * `fp` at 0-based gram position `pos`, windows of `w` consecutive gram
    * hashes, rightmost-minimum selection ([[graft.functions.WinnowExpr]]).
    * Documents with fewer than w+k-1 tokens produce no fingerprints.
    *
    * `md5Keys = true` keys grams by the first 15 hex digits of md5 (60 bits,
    * exact in both engines — the oracle-reproducible form; the selection
    * depends on hash ORDER, so an engine-specific hash would diverge, unlike
    * the membership-only uses of xxhash64 elsewhere). Default is xxhash64 —
    * the scale path (no hex/decimal string round-trip per gram).
    *
    * Scale shape: map-only — tokenize, shingle, hash, and the O(grams·w)
    * winnow scan all fuse into one projection pipeline; output is ~2/(w+1)
    * of the gram stream. No shuffle until a consumer aggregates. */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4,
                         md5Keys: Boolean = false): DataFrame = {
    require(k >= 1, s"gram size must be >= 1, got $k")
    val hash = winnowGramHash(md5Keys)
    // NO fanOut here (measured): the persisted-lifecycle entries call
    // this function 3–4 times per query around bucketed writes and probes —
    // an unconditional fan-out added one exchange + one planning pass per
    // call and regressed the whole persisted family, while the tokenize
    // gain only matters ahead of the quadratic PAIR joins. The pair-join
    // consumers (winnowPairs / incrementalWinnowPairs) fan the docs out
    // themselves.
    docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), TextFns.shinglesFromTokens(col("__toks"), k).as("__grams"))
      .select(col("doc_id"), transform(col("__grams"), hash).as("__hs"))
      .select(col("doc_id"),
        explode(graft.functions.WinnowExpr.winnow(col("__hs"), w)).as("__f"))
      .select(col("doc_id"), col("__f.pos").as("pos"), col("__f.fp").as("fp"))
  }

  /** Near-duplicate candidate pairs from shared winnowing fingerprints:
    * `(a_id, b_id, shared_fps)` for pairs sharing at least `minShared`
    * distinct fingerprints. The MOSS grouping step: because of the winnowing
    * guarantee, any pair sharing a run of >= w+k-1 tokens appears here with
    * shared_fps >= 1 — `minShared` trades that recall floor for precision.
    *
    * Scale shape: the fingerprint table is df-bounded BEFORE the self-join
    * (fingerprints in [2, maxDf] docs — two hash aggregations + a semi join,
    * the [[duplicateSpans]] skew-safe pattern), so a stop-phrase fingerprint
    * shared by half the corpus caps at maxDf² bucket pairs instead of
    * exploding; the pair count per fingerprint is C(df, 2) <= C(maxDf, 2). */
  /** The ONE gram-key definition shared by every winnowing face (batch
    * fingerprints, pairs, incremental, and the streaming gate): md5-60-bit
    * when the selection must be oracle-reproducible, xxhash64 at scale. A
    * key drift between a persisted base table and its prober would silently
    * match nothing — so there is exactly one definition. */
  private[graft] def winnowGramHash(md5Keys: Boolean):
      org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    g => if (md5Keys) TextFns.md5PrefixLong(g, 15) else xxhash64(g)

  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 4, minShared: Long = 2L,
                  maxDf: Int = 1000, md5Keys: Boolean = false): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // fanOut here, NOT in winnowFingerprints: the tokenize+winnow map
    // stage must not serialize on a narrow scan, but the fingerprint
    // function also feeds bucketed index WRITES where extra input partitions
    // multiply the file count (no-op at scale either way)
    val post = winnowFingerprints(Similarity.fanOut(docs, "doc_id"), k, w, md5Keys)
      .select("doc_id", "fp").distinct()
    val good = post.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select("fp")
    val bounded = post.join(good, Seq("fp"), "left_semi")
    bounded.select(col("fp"), col("doc_id").as("a_id"))
      .join(bounded.select(col("fp"), col("doc_id").as("b_id")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Cross-snapshot winnowing pairs — the lifecycle the sampled fingerprint
    * table EXISTS for: a new crawl `batch` checked against the already-
    * ingested `base` without re-processing it. Returns
    * `(batch_id, base_id, shared_fps)` with shared_fps >= `minShared`; the
    * w+k-1 guarantee holds across snapshots (both sides select identical
    * fingerprints inside a shared run), so recall floors carry over.
    *
    * Scale shape: the base reduces to its DISTINCT (doc_id, fp) fingerprint
    * table — ~2/(w+1) of the base gram stream, the artifact cheap enough to
    * PERSIST per snapshot (at 100 TB a pre-materialized table bucketed on
    * `fp`, exactly like the base tables [[incrementalDedup]] and
    * [[incrementalDuplicateSpans]] assume — [[winnowPairsAgainstIndex]] takes
    * it directly); only batch-sized data shuffles against it. Base postings
    * are df-bounded like [[winnowPairs]] (a stop-phrase fingerprint caps at
    * maxDf base candidates per batch fingerprint). */
  def incrementalWinnowPairs(batch: DataFrame, base: DataFrame, k: Int = 5,
                             w: Int = 4, minShared: Long = 2L, maxDf: Int = 1000,
                             md5Keys: Boolean = false): DataFrame =
    winnowPairsAgainstIndex(
      winnowFingerprints(Similarity.fanOut(batch, "doc_id"), k, w, md5Keys),
      winnowFingerprints(Similarity.fanOut(base, "doc_id"), k, w, md5Keys),
      minShared, maxDf)

  /** Persist a [[winnowFingerprints]] snapshot as the on-disk index
    * [[winnowPairsAgainstIndex]] probes — bucketed on `fp`
    * ([[graft.sources.Lake.writeBucketed]]), completing the lifecycle
    * symmetry with the IVF index family (build here; probe below; append =
    * a second bucketed write of the delta snapshot, since fingerprints are
    * immutable per doc). Because the stored layout is hash-clustered on the
    * probe key, every downstream step that needs fp-clustering — the
    * DISTINCT, the df-bound aggregation, and the semi/equi joins in
    * [[winnowPairsAgainstIndex]] — reads co-located buckets with NO exchange
    * on the base side (PlanSpec pins this): at 100 TB the base corpus's
    * fingerprint table never re-shuffles, only batch-sized data moves. */
  def writeWinnowIndex(fps: DataFrame, path: String, table: String,
                       buckets: Int = 8): Unit =
    graft.sources.Lake.writeBucketed(
      fps.select("doc_id", "fp").distinct(), path, table, "fp", buckets)

  /** APPEND a new snapshot's fingerprints to a persisted [[writeWinnowIndex]]
    * table — the build-once / append-often lifecycle (the
    * `Similarity.appendIvfIndex` contract): the delta pays one bucketing
    * shuffle at write, no existing bucket file is rewritten, and
    * [[winnowPairsAgainstIndex]] sees the union through the identical
    * co-located plan. The distinct is WITHIN-delta — appended docs must be
    * new doc_ids (re-appending an already-indexed doc would double its
    * per-fingerprint df), which is the crawler's contract anyway. */
  def appendWinnowIndex(fps: DataFrame, path: String, table: String,
                        buckets: Int = 8): Unit =
    graft.sources.Lake.appendBucketed(
      fps.select("doc_id", "fp").distinct(), path, table, "fp", buckets)

  /** DELETE documents from a persisted [[writeWinnowIndex]] table — the
    * lifecycle half a production dedup index cannot ship without (takedowns,
    * opt-outs, license revocations), completing build / append / delete /
    * probe symmetry with the IVF family
    * ([[graft.operators.Similarity.deleteFromIvfIndex]]). Dataflow mirrors
    * the IVF delete, translated to the FLAT bucketed layout (bucket id lives
    * in the file NAME, not a directory): (1) the deleted docs' fingerprint
    * buckets come from a column-pruned `(doc_id, fp)` scan against the
    * broadcast delete set — `pmod(hash(fp), buckets)` is exactly Spark's
    * bucket-id function, so the discovered ids name real files; (2) ONLY the
    * affected buckets' files are read back (file-pruned — cost tracks the
    * affected buckets, never the index) and their survivors re-cluster into
    * a staged bucketed write under the same spec; (3) the staged files swap
    * in via [[graft.sources.Lake.swapBucketFiles]]'s checked
    * trash-then-rename — a failed step aborts loudly with trash + staging
    * intact, nothing destructively deleted (DedupSpec drives the abort). A
    * bucket emptied by the delete simply loses its files — co-located reads
    * treat a missing bucket file as empty. SINGLE-WRITER maintenance op;
    * serialize against appends and probes (or adopt a transactional table
    * format) in deployments that write during reads. Untouched buckets keep
    * their files byte-for-byte; [[winnowPairsAgainstIndex]] sees the
    * remainder through the identical co-located plan (driver-gated: shares
    * `dedup_winnow_persisted`'s rebuild oracle). Returns the number of
    * affected buckets. */
  def deleteFromWinnowIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, table: String, ids: Array[Long],
                            buckets: Int = 8): Int = {
    if (ids.isEmpty) return 0 // nothing revoked = no-op, the remove_ids contract
    graft.sources.Lake.assertCatalogMatchesLayout(spark, path, table, "fp", buckets)
    import spark.implicits._
    // the delete set rides a BROADCAST through semi/anti joins — the
    // deleteFromIvfIndex lesson: an isin(ids) literal list plans O(|ids|)
    // driver-side, the join form plans O(1) and scales to millions of ids
    val idDf = ids.toSeq.toDF("doc_id")
    val bucketOf = pmod(hash(col("fp")), lit(buckets))
    val affected = spark.table(table)
      .select(col("doc_id"), col("fp"))
      .join(broadcast(idDf), Seq("doc_id"), "left_semi")
      .select(bucketOf.as("__b")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (affected.isEmpty) return 0
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val affectedSet = affected.toSet
    val affectedFiles = graft.sources.Lake.bucketFiles(fs, path)
      .filter { case (b, _) => affectedSet(b) }
      .values.flatten.map(_.toString).toSeq
    val survivors = spark.read.parquet(affectedFiles: _*)
      .join(broadcast(idDf), Seq("doc_id"), "left_anti")
    graft.sources.Lake.rewriteBuckets(spark, path, table, "fp", buckets,
      affected.toSeq, survivors, ".delete_staging")
    affected.length
  }

  /** [[incrementalWinnowPairs]] against a PRE-MATERIALIZED base fingerprint
    * table (`(doc_id, fp)` rows, e.g. a persisted [[winnowFingerprints]]
    * snapshot written by [[writeWinnowIndex]]) — the form a production
    * refresh runs so the base corpus is never re-fingerprinted. */
  def winnowPairsAgainstIndex(batchFps: DataFrame, baseFps: DataFrame,
                              minShared: Long = 2L, maxDf: Int = 1000): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val bFps = batchFps.select("doc_id", "fp").distinct()
    val base = baseFps.select("doc_id", "fp").distinct()
    val good = base.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    bFps.select(col("fp"), col("doc_id").as("batch_id"))
      .join(base.join(good, Seq("fp"), "left_semi")
        .select(col("fp"), col("doc_id").as("base_id")), Seq("fp"))
      .groupBy("batch_id", "base_id")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
