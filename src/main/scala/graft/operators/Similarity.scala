package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TopKByScoreAgg, VectorFns}

/** Approximate-nearest-neighbor / similarity search over an `array<float>`
  * embedding column.
  *
  * Two paths, per the builder brief:
  *  - [[bruteForceTopK]]: exact cosine top-k, the correctness baseline. Broadcast
  *    the (small) query set against the corpus — O(|corpus|·|queries|) with no
  *    corpus shuffle; fine whenever |queries| is bounded.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing — candidates only from matching
  *    buckets (multi-probe via several independent tables), then exact re-rank.
  *    This is the 100 TB path: the corpus is scanned once to tag buckets, and the
  *    join is equi-key on (table, bucket).
  */
object Similarity {

  /** Analytic hyperplane-LSH recall: the probability that a pair at `cosine`
    * shares at least one bucket under (nbits, tables). Per plane the pair's
    * sign bits agree with probability 1 - θ/π (Goemans–Williamson); buckets
    * are nbits independent planes, tables are independent retries. This is
    * the sizing formula behind every measured recall gate in SimilaritySpec —
    * the spec asserts the fixture measurements agree with it. */
  def lshPairRecall(cosine: Double, nbits: Int, tables: Int): Double = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, cosine))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, nbits), tables)
  }

  /** Scale-adaptive fan-out ahead of an O(rows × queries) stage (guide §2.5
    * "input skew: one huge unsplittable file → repartition immediately after
    * the read", §2.6 idle capacity): the stream side of every
    * broadcast-join scan here does |queries|-fold work PER ROW, so when the
    * source arrives in fewer partitions than the session's parallelism (a
    * single small parquet file, a one-row-group split), the whole quadratic
    * stage runs on one core while the rest idle — the measured cause of the
    * ~1.0 core-scaling ratios on the ANN family at sf0.1. One O(rows)
    * hash exchange (deterministic key, never round-robin) buys
    * O(rows·|queries|)/P parallelism — always a win when the pair work
    * dominates, at ANY scale; on a corpus whose scan already has ≥ P
    * partitions (every real deployment) this is a no-op and no exchange is
    * added. MEASURED rule of application: only where the broadcast
    * side is corpus-scale by contract (batch kNN, all-pairs dedup, anchor
    * mining) — on the bounded-probe serving paths (nprobe·|q| ≤ ~100 rows)
    * the per-row work is tiny and the added stage/exchange was a measured
    * net LOSS, so those paths stay fused. */
  private[graft] def fanOut(df: DataFrame, key: String): DataFrame = {
    if (df.isStreaming) return df // micro-batch sources size their own splits
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p, col(key))
  }

  /** Embedding-side near-duplicate pairs: all (a < b) pairs with cosine >= threshold.
    * Brute force over all pairs — correctness baseline / oracle-checkable form.
    * Similarity is rounded (VectorFns.simKey) before thresholding. */
  def cosineDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    // Cast to array<double> once per VECTOR, before the join — inside the pair
    // projection it would run once per PAIR (O(n^2) casts instead of O(n)).
    // fanOut: the pair join streams one side doing O(n) work per row.
    val e = fanOut(
      emb.select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("embedding")),
      "vec_id")
    val a = e.alias("a")
    val b = e.alias("b")
    a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        VectorFns.simKey(VectorFns.dot(col("a.embedding"), col("b.embedding"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Bare (vec_id, tbl, bucket) hyperplane-LSH tag rows for `tables`
    * independent tables — candidate generation joins these; carrying the
    * embedding through the bucket shuffle would inflate it `tables`-fold
    * (the same payload-last pattern as Dedup.minhashLshPairs). Vectors
    * re-attach to the (much smaller) deduped candidate pair set for the
    * exact cosine filter. */
  private def hyperplaneTags(e: DataFrame, dim: Int, nbits: Int,
                             tables: Int): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            VectorFns.hyperplaneBucket(col("embedding"), dim, nbits, seed = t).as("bucket"))
        }: _*)).as("bb"))
      .select(col("vec_id"), col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"))

  /** Public (vec_id, tbl, bucket) hyperplane tag table for a corpus — the
    * artifact a streaming near-dup gate joins against
    * ([[graft.streaming.StreamingViews.streamCosineBaseMatches]]): compute
    * once per frozen snapshot (map-only), persist bucketed on (tbl, bucket).
    * The embedding-side analog of
    * [[graft.operators.Dedup.minhashBucketTable]]. */
  def hyperplaneTagTable(emb: DataFrame, dim: Int,
                         nbits: Int = 8, tables: Int = 4): DataFrame =
    hyperplaneTags(
      emb.select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("embedding")),
      dim, nbits, tables)

  /** [[cosineDupPairs]], 100 TB form: candidate pairs come only from shared
    * hyperplane-LSH buckets (equi-join on (table, bucket)), then the exact cosine
    * threshold filters them — recall < 1 by construction (a pair can land in
    * different buckets in every table), precision = 1 (the exact filter runs on
    * every candidate). `tables` trades recall for candidate volume; identical
    * vectors always share every bucket. The all-pairs form is O(n²) in comparisons
    * AND in shuffle; this is O(sum over buckets of size²) with an equi-key shuffle. */
  def cosineDupPairsLsh(emb: DataFrame, threshold: Double, dim: Int,
                        nbits: Int = 8, tables: Int = 4): DataFrame = {
    val e = emb.select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("embedding"))
    val tagged = hyperplaneTags(e, dim, nbits, tables)
    val a = tagged.alias("a")
    val b = tagged.alias("b")
    a.join(b, col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
      .select(col("a_id"), col("b_id"),
        VectorFns.simKey(VectorFns.dot(col("ea"), col("eb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Cross-snapshot embedding near-dup pairs: (batch vector, base vector)
    * pairs at cosine >= `threshold`, candidates only from shared hyperplane
    * buckets — the embedding-side sibling of
    * [[graft.operators.Dedup.incrementalMinhashPairs]] for the
    * continual-pretraining refresh where "same document" means "same
    * embedding neighborhood" (paraphrases, translations, re-renders) rather
    * than shared shingles.
    *
    * Scale shape: at 100 TB the base side enters as a PERSISTED tag table
    * ([[hyperplaneTags]] is a map-only explode over the frozen corpus —
    * compute once per snapshot, bucket on (tbl, bucket)); the batch side is
    * the small one, so AQE broadcasts its bare tag rows and the base stream
    * never exchanges. Vectors re-attach to the deduped candidate pairs only;
    * precision is 1 (exact cosine filter), recall is banding-bounded and
    * measured in SimilaritySpec against the exact cross-pair twin. */
  def incrementalCosinePairsLsh(batch: DataFrame, base: DataFrame,
                                threshold: Double, dim: Int,
                                nbits: Int = 8, tables: Int = 4): DataFrame = {
    val b = batch.select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("embedding"))
    val s = base.select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("embedding"))
    hyperplaneTags(b, dim, nbits, tables).alias("a")
      .join(hyperplaneTags(s, dim, nbits, tables).alias("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket"))
      .select(col("a.vec_id").as("batch_id"), col("b.vec_id").as("base_id"))
      .dropDuplicates("batch_id", "base_id")
      .join(b.select(col("vec_id").as("batch_id"), col("embedding").as("ea")), "batch_id")
      .join(s.select(col("vec_id").as("base_id"), col("embedding").as("eb")), "base_id")
      .select(col("batch_id"), col("base_id"),
        VectorFns.simKey(VectorFns.dot(col("ea"), col("eb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-batch-vector keep/drop verdict vs a frozen base, embedding edition:
    * (vec_id, base_match_count, keep) — drops for a within-batch near-dup
    * (greedy pair rule on [[cosineDupPairsLsh]] pairs: a vector drops iff it
    * directly pairs with a smaller batch vec_id; same documented weakness
    * vs full components as the MinHash form) or for any base near-dup.
    * Mirrors [[graft.operators.Dedup.incrementalMinhashDedup]]'s contract
    * so pipelines can swap text-keyed and embedding-keyed incremental dedup
    * without re-plumbing. */
  def incrementalCosineDedup(batch: DataFrame, base: DataFrame,
                             threshold: Double, dim: Int,
                             nbits: Int = 8, tables: Int = 4): DataFrame = {
    val selfDropped = cosineDupPairsLsh(batch, threshold, dim, nbits, tables)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("self_dup", lit(true))
    val baseCounts = incrementalCosinePairsLsh(batch, base, threshold, dim, nbits, tables)
      .groupBy(col("batch_id").as("vec_id"))
      .agg(count(lit(1)).as("base_match_count"))
    batch.select("vec_id")
      .join(selfDropped, Seq("vec_id"), "left")
      .join(baseCounts, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("base_match_count"), lit(0L)).as("base_match_count"),
        (col("self_dup").isNull && coalesce(col("base_match_count"), lit(0L)) === 0)
          .as("keep"))
  }

  /** Exact top-k neighbors for each query vector (self-matches excluded). Ranking is
    * on (rounded similarity DESC, vec_id ASC) — fully deterministic.
    *
    * The QUERY set is broadcast and the corpus streams — the only shape that
    * survives a 100 TB corpus (the corpus is scanned once, never collected to
    * the driver; per-task state is |queries| vectors). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      VectorFns.toDoubleArray(col("embedding")).as("q_emb"))
    val c = corpus.select(col("vec_id"),
      VectorFns.toDoubleArray(col("embedding")).as("embedding"))
    // the stream side does |queries| dot products per row — fan it out
    val scored = broadcast(q).join(fanOut(c, "vec_id"), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_emb"), col("embedding"))).as("cosine"))
    heapTopK(scored, k)
  }

  /** Per-query top-k via the bounded-heap aggregate ([[TopKByScoreAgg]]): each map
    * task forwards at most k candidates per query to the shuffle — the window-rank
    * form would shuffle and sort EVERY candidate. Output matches
    * `row_number over (partition by query_id order by cosine desc, vec_id)` <= k. */
  private[operators] def heapTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(TopKByScoreAgg.topKByScore(col("cosine"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("vec_id"), col("t.score").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Centroids as plain driver-side data: nlist × dim doubles (a MODEL, not
    * data — kilobytes even at nlist=4096, dim=1024). Planted into the plans as
    * array literals, so assignment and probing are map-only passes with one
    * codegen [[graft.functions.DotProductExpr]] per centroid and NO join. */
  type Centroids = Seq[(Int, Seq[Double])]

  /** argmax over the centroid matrix ([[graft.functions.NearestCentroidExpr]]):
    * the cell whose centroid has the highest cosine with `emb`; ties break to
    * the larger cell id — deterministic across runs and partitionings
    * (fixed-order double fold, no rounding needed). A native expression, not
    * `array_max(array(struct(dot, id)...))` over literals: the unrolled form's
    * generated method grows with nlist past the JIT threshold and drops to the
    * bytecode interpreter (1M x 64 cells: 126 s unrolled, ~2 s native). */
  private def bestCell(emb: Column, centroids: Centroids): Column =
    graft.functions.NearestCentroidExpr.nearestCentroid(emb, centroids)

  /** The `nprobe` cells nearest to `emb`, best first (sim desc, cell asc) —
    * native [[graft.functions.NearestCellsExpr]], same constant-codegen-size
    * rationale as [[bestCell]], so probing stays fast even when the query set
    * is corpus-sized (batch kNN). */
  private[operators] def nearestCells(emb: Column, centroids: Centroids, nprobe: Int): Column =
    graft.functions.NearestCellsExpr.nearestCells(emb, centroids, nprobe)

  /** Driver-side collect of a persisted-index probe fan-out: one
    * (query_id, q_emb, cell) row per (query, probed cell) — bounded by
    * |queries|·nprobe, i.e. model-scale like the centroids themselves. The
    * persisted-probe paths derive BOTH the partition-filter cell set and the
    * broadcast probe side from this one collect, so the queries subplan is
    * evaluated exactly once. */
  private def collectProbes(queries: DataFrame, centroids: Centroids,
                            nprobe: Int): Array[(Long, Seq[Double], Int)] =
    queries
      .select(col("vec_id").as("query_id"),
        VectorFns.toDoubleArray(col("embedding")).as("q_emb"))
      .withColumn("cell", explode(nearestCells(col("q_emb"), centroids, nprobe)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getInt(2)))

  /** Lloyd's k-means over the embedding column — the trained centroids
    * [[ivfTopK]] promises — fitted on a driver-collected deterministic hash
    * sample: ONE Spark action. Centroid fitting is model estimation: quality
    * needs a bounded sample, not the population, and `sampleSize` vectors of
    * `dim` doubles fit any driver (4096 × 64 ≈ 2 MB). Only the final
    * assignment pass must see every row, and persisting it ([[ivfAssignments]]
    * + `Lake.writeBucketed`) pays that once. The sample is the smallest
    * (xxhash64(vec_id), vec_id) rows and the seed set its first `nlist` rows;
    * when the corpus has at most `sampleSize` rows the "sample" is the whole
    * corpus. Empty cells keep their previous centroid. Assignment replicates
    * [[graft.functions.NearestCentroidExpr]] (argmax dot, ties to the larger
    * cell id). */
  def trainCentroidsSampled(corpus: DataFrame, nlist: Int, iters: Int = 3,
                            sampleSize: Int = 4096): Centroids =
    fitCentroids(collectTrainSample(corpus, sampleSize), nlist, iters)

  /** The `sampleSize` smallest (xxhash64(vec_id), vec_id) embedding vectors,
    * collected — the deterministic training sample shared by
    * [[trainCentroidsSampled]] and [[semanticDupPairs]]. */
  private def collectTrainSample(corpus: DataFrame, sampleSize: Int): Array[Array[Double]] =
    corpus
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h").asc, col("vec_id").asc).limit(sampleSize)
      .select("emb").collect().map(_.getSeq[Double](0).toArray)

  /** Driver-side Lloyd's over a collected sample. */
  private def fitCentroids(rows: Array[Array[Double]], nlist: Int, iters: Int): Centroids = {
    require(rows.length >= nlist, s"sample has ${rows.length} rows < nlist=$nlist")
    val dim = rows.head.length
    var cents: Array[Array[Double]] = Array.tabulate(nlist)(i => rows(i).clone())
    var round = 0
    while (round < iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Long](nlist)
      rows.foreach { v =>
        var best = 0
        var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < nlist) {
          val cent = cents(c)
          var s = 0.0
          var i = 0
          val lim = math.min(v.length, cent.length)
          while (i < lim) { s += v(i) * cent(i); i += 1 }
          if (s >= bestSim) { bestSim = s; best = c } // ties -> larger id
          c += 1
        }
        val acc = sums(best)
        var i = 0
        while (i < math.min(v.length, dim)) { acc(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(nlist)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c)))
      round += 1
    }
    cents.toSeq.map(_.toSeq).zipWithIndex.map(_.swap)
  }

  /** Corpus → (vec_id, emb, cell): each vector tagged with its nearest trained
    * cell. Map-only (centroids are literals). Persist via
    * `Lake.writeBucketed(ivfAssignments(..), dir, table, "cell", n)` so
    * query-time probing never rescans or reshuffles the corpus. */
  def ivfAssignments(corpus: DataFrame, centroids: Centroids): DataFrame =
    corpus.select(col("vec_id"),
        VectorFns.toDoubleArray(col("embedding")).as("emb"))
      .withColumn("cell", bestCell(col("emb"), centroids))

  /** Query-time IVF probe over a (possibly persisted) assignment table: each
    * query expands to its `nprobe` nearest cells (map-only), joins the
    * assignment on cell, candidates re-rank exactly. Candidates are unique by
    * construction (one cell per corpus vector, distinct probe cells per
    * query) — no dedup pass.
    *
    * Probe side is EXPLICIT: the default (`broadcastProbes = true`)
    * broadcasts the |queries| × nprobe probe set so the assignment never
    * shuffles — right for query SERVING (bounded query sets). Pass `false`
    * for corpus-scale query sets (batch kNN, self-join dedup): the probe
    * side then shuffles on cell while a
    * `Lake.writeBucketed(_, .., "cell", n)` assignment still avoids any
    * corpus-side exchange (one-sided shuffle onto the bucketed layout). */
  def ivfProbeAssigned(assigned: DataFrame, centroids: Centroids,
                       queries: DataFrame, k: Int, nprobe: Int = 4,
                       broadcastProbes: Boolean = true): DataFrame = {
    val probed = queries
      .select(col("vec_id").as("query_id"),
        VectorFns.toDoubleArray(col("embedding")).as("q_emb"))
      .withColumn("cell", explode(nearestCells(col("q_emb"), centroids, nprobe)))
    val probeSide = if (broadcastProbes) broadcast(probed) else probed
    val cand = probeSide.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_emb"), col("emb"))).as("cosine"))
    heapTopK(cand, k)
  }

  /** IVF (inverted-file) ANN end to end: k-means centroids
    * ([[trainCentroidsSampled]]), nearest-cell assignment ([[ivfAssignments]]),
    * nprobe-cell probe + exact re-rank ([[ivfProbeAssigned]]). Recall loss is
    * bounded by cell-boundary effects (a true neighbor outside the probed
    * cells); identical vectors always share a cell. Measured on the sf0.001
    * fixture (near-orthogonal synthetic embeddings, the hard case): recall@10
    * vs [[bruteForceTopK]] is asserted >= 0.8 in SimilaritySpec at the
    * defaults below. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val cents = trainCentroidsSampled(corpus, nlist, iters)
    ivfProbeAssigned(ivfAssignments(corpus, cents), cents, queries, k, nprobe)
  }

  /** Persist the IVF index: the assignment table laid out CELL-PARTITIONED on
    * disk (one directory per cell). This is the deployment form of the
    * "persist the assignment" note on [[ivfAssignments]]: pay the assignment
    * scan once at build time, and every later probe becomes a
    * partition-pruned read of only its probed cell directories — the corpus
    * is never rescanned, never re-exchanged. Pair with [[ivfProbePersisted]];
    * the centroids (a kilobyte-scale model) persist separately (they are
    * plain driver data — JSON/bytes next to the index). */
  def writeIvfIndex(corpus: DataFrame, centroids: Centroids, path: String): Unit =
    ivfAssignments(corpus, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Append NEW vectors to a persisted [[writeIvfIndex]] layout — the
    * build-once / APPEND-OFTEN production lifecycle (FAISS's `add` after
    * `train`): each new vector assigns to its nearest cell under the SAME
    * frozen centroids (retraining would move cell boundaries and invalidate
    * every stored assignment) and new cell-partitioned files append in
    * place. Cost is one map-only assignment pass over ONLY the new rows;
    * existing cell directories gain files, none is rewritten, and
    * [[ivfProbePersisted]] sees the union through the identical pruned-scan
    * plan. Recall for appended vectors matches build-time vectors exactly
    * (same assignment function); only centroid DRIFT (a corpus whose
    * distribution moves far from the frozen training sample) degrades it —
    * the rebuild trigger a deployment monitors its recall gate for. */
  def appendIvfIndex(newVecs: DataFrame, centroids: Centroids, path: String): Unit =
    ivfAssignments(newVecs, centroids)
      .write.mode("append").partitionBy("cell").parquet(path)

  /** DELETE vectors from a persisted cell-partitioned index — the lifecycle's
    * third half (FAISS `remove_ids`): with build ([[writeIvfIndex]] /
    * `writeIvfPqIndex`) and append ([[appendIvfIndex]] / `appendIvfPqIndex`)
    * this completes build / append / delete / probe. Layout-agnostic: any
    * `cell`-partitioned parquet index qualifies (plain IVF assignments and
    * IVFADC code tables alike — rows are rewritten whole, whatever their
    * columns), so ONE primitive serves both index families.
    *
    * Dataflow: (1) find the delete set's cells with a COLUMN-PRUNED
    * `(vec_id, cell)` scan (parquet reads two columns, not the vectors);
    * (2) rewrite ONLY the affected cell directories — a partition-pruned
    * read minus the ids, fully STAGED before any live directory moves, then
    * swapped per cell via checked atomic renames through a trash dir (a
    * failed rename aborts loudly with trash + staging intact — nothing is
    * destructively deleted until every swap succeeded) — a cell emptied by
    * the delete simply disappears, which dynamic partition overwrite would
    * silently get wrong (it rewrites only partitions PRESENT in the output,
    * leaving a fully deleted cell's stale files live); (3) untouched cells
    * keep their files byte-for-byte. SINGLE-WRITER maintenance op, like
    * every file-layout mutation without a table format: a probe listing the
    * index mid-swap can miss an in-flight cell, and append/delete must not
    * overlap — serialize index maintenance (or adopt a transactional table
    * format) in deployments that probe during writes.
    * Cost tracks the affected cells' size, never the index
    * size; [[ivfProbePersisted]] / `ivfPqProbePersisted` see the survivor
    * set through the identical pruned-scan plan (bit-equality vs a fresh
    * rebuild without the ids — spec-asserted and driver-gated). Returns the
    * number of affected cells. */
  def deleteFromIvfIndex(spark: SparkSession, path: String, ids: Array[Long]): Int = {
    if (ids.isEmpty) return 0 // FAISS remove_ids semantics: nothing expired = no-op
    import spark.implicits._
    // the delete set rides a BROADCAST through semi/anti joins — an
    // `isin(ids)` literal list plans O(|ids|) driver-side (a 100k-id batch
    // cost 40 s in plan construction alone) where the join form plans O(1)
    // and scales from one id to millions. ONE relation serves both reads:
    // the root listing is paid once, and cell discovery and the rewrite see
    // the same file snapshot.
    val idDf = ids.toSeq.toDF("vec_id")
    val index = spark.read.parquet(path)
    val affectedCells = index
      .select(col("vec_id"), col("cell"))
      .join(broadcast(idDf), Seq("vec_id"), "left_semi")
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (affectedCells.isEmpty) return 0
    val kept = index
      .filter(col("cell").isin(affectedCells.toSeq: _*))
      .join(broadcast(idDf), Seq("vec_id"), "left_anti")
    val staging = path + ".delete_staging"
    kept.write.mode("overwrite").partitionBy("cell").parquet(staging)
    swapCellDirs(spark, path, staging, affectedCells.toSeq, ".delete_trash")
    affectedCells.length
  }

  /** The ONE staged cell-directory swap every cell-partitioned-layout
    * mutation shares ([[deleteFromIvfIndex]], [[compactIvfIndex]]) — the
    * directory-level sibling of `Lake.swapBucketFiles`: trash-then-swap,
    * every FS verdict CHECKED — live cell dirs move aside (an atomic
    * directory rename, never a destructive delete), staged replacements move
    * in, and only after EVERY swap succeeded do trash and staging drop. A
    * failed step aborts loudly with both the trash and staging directories
    * intact on disk — nothing is lost, recovery is a rename back; an
    * already-existing trash path (a crashed prior run mid-recovery) refuses
    * BEFORE any live dir moves. A cell with no staged dir simply vanishes
    * (emptied by a delete). Refreshes the path's file-listing cache so open
    * sessions see the new layout. */
  private def swapCellDirs(spark: SparkSession, path: String, staging: String,
                           cells: Seq[Int], trashSuffix: String,
                           newCells: Set[Int] = Set.empty): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = new org.apache.hadoop.fs.Path(path + trashSuffix)
    if (fs.exists(trash) || !fs.mkdirs(trash))
      sys.error(s"cannot create trash dir $trash — layout unchanged; " +
        s"staging kept at $staging")
    cells.foreach { c =>
      val live = new org.apache.hadoop.fs.Path(s"$path/cell=$c")
      val staged = new org.apache.hadoop.fs.Path(s"$staging/cell=$c")
      // only a cell the CALLER declared brand-new (a resplit landing ids the
      // old layout never had) may legitimately lack a live dir; for every
      // other affected cell a missing dir means the single-writer contract
      // broke between listing and swap — refuse loudly rather than move
      // staged rows in over an inconsistent layout
      if (!newCells.contains(c) || fs.exists(live)) {
        if (!fs.rename(live, new org.apache.hadoop.fs.Path(trash, s"cell=$c")))
          sys.error(s"swap aborted: cannot move live $live aside — " +
            s"index unchanged for this and later cells; staging kept at $staging")
      }
      if (fs.exists(staged) && !fs.rename(staged, live)) // absent = cell emptied
        sys.error(s"swap aborted: cannot move staged $staged into place — " +
          s"recover by renaming ${trash}/cell=$c back to $live")
    }
    fs.delete(trash, true)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    spark.catalog.refreshByPath(path)
  }

  /** COMPACT a cell-partitioned index's fragmented cells — the maintenance
    * half of the build/append lifecycle, completing the same symmetry
    * `Lake.compactBucketed` gives the flat bucketed layout: every
    * [[appendIvfIndex]] / `appendIvfPqIndex` lands new files per cell beside
    * the old ones, so after N appends each probe opens N small files per
    * probed cell — at 100 TB the file-open + footer cost dominates the
    * pruned read the layout exists for. Rewrites ONLY cells holding more
    * than one data file (cost tracks fragmentation, never index size): their
    * rows are read partition-pruned, re-clustered one-cell-per-task (so one
    * file per cell), staged fully, then swapped via [[swapCellDirs]]'s
    * checked trash-then-rename. Layout-agnostic like the delete — plain IVF
    * assignments and IVFADC code tables alike (rows rewrite whole). SINGLE-
    * WRITER maintenance op; serialize against appends/deletes/probes (or
    * adopt a transactional table format). Probe answers are bit-identical
    * before and after (spec- and driver-gated). Returns the number of cells
    * compacted. */
  def compactIvfIndex(spark: SparkSession, path: String): Int = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(p: org.apache.hadoop.fs.Path) = fs.listStatus(p).filter(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val fragmented = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .filter(d => dataFiles(d.getPath).length > 1)
    if (fragmented.isEmpty) return 0
    val cells = fragmented.map(_.getPath.getName.stripPrefix("cell=").toInt).sorted
    val staging = path + ".compact_staging"
    // basePath keeps the cell partition column; repartition on cell puts each
    // cell wholly in one task, so dynamic partitioning writes ONE file per cell
    spark.read.option("basePath", path)
      .parquet(fragmented.map(_.getPath.toString).toSeq: _*)
      .repartition(cells.length, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging)
    swapCellDirs(spark, path, staging, cells.toSeq, ".compact_trash")
    cells.length
  }

  /** RE-SPLIT a persisted PLAIN-IVF index to a NEW centroid set — the
    * cell-directory sibling of `Lake.rebucketBucketed`, and the scheduled
    * rebuild both append paths defer to: when steady appends push every cell
    * past the efficient scan size (or centroid drift erodes recall), the fix
    * is a new `nlist`, not more compaction. The index stores the raw vectors
    * (`emb`), so the re-assignment reads the INDEX, never the corpus — one
    * map-only argmax pass over the new centroid literals, staged fully as a
    * cell-partitioned layout (one file per new cell), then swapped via
    * [[swapCellDirs]]'s checked trash-then-rename over the union of old and
    * new cell ids (an old cell with no rows under the new split vanishes; a
    * brand-new cell id moves straight in). Rows are preserved exactly;
    * probes under the NEW centroids answer identically to a fresh build
    * (spec- and driver-gated). Plain-IVF only: an IVFADC code table stores
    * quantized codes whose codebooks were trained per split — re-splitting
    * the coded index is a rebuild from the corpus by design. SINGLE-WRITER
    * like every layout mutation here; callers must probe with the new
    * centroids afterwards (they define the layout). Returns the new cell
    * count on disk. */
  def resplitIvfIndex(spark: SparkSession, path: String,
                      newCentroids: Centroids): Int = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cellIds(p: String): Seq[Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .map(_.getPath.getName.stripPrefix("cell=").toInt).toSeq
    val oldCells = cellIds(path)
    val reassigned = ivfAssignments(
      spark.read.parquet(path).select(col("vec_id"), col("emb").as("embedding")),
      newCentroids)
    val staging = path + ".resplit_staging"
    reassigned.repartition(newCentroids.length, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging)
    val stagedCells = cellIds(staging)
    swapCellDirs(spark, path, staging,
      (oldCells ++ stagedCells).distinct.sorted, ".resplit_trash",
      newCells = stagedCells.toSet -- oldCells.toSet)
    stagedCells.length
  }

  /** Probe a [[writeIvfIndex]] layout: the probe-cell set is computed
    * DRIVER-SIDE (bounded by min(nlist, |queries|·nprobe) ints — model-scale,
    * like the centroids) and pushed into the read as a partition filter, so
    * the scan touches ONLY the probed cell directories — the plan-level
    * realization of IVF's promise (PlanSpec pins the partition pruning and
    * the single candidate exchange). Queries broadcast onto the pruned scan;
    * candidates re-rank exactly; same output contract as
    * [[ivfProbeAssigned]] (bit-identical on the same centroids —
    * spec-asserted). */
  def ivfProbePersisted(spark: SparkSession, path: String, centroids: Centroids,
                        queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    // Collect the probed rows ONCE (bounded by |queries|·nprobe — model-scale)
    // and derive BOTH the partition-filter cell set and the broadcast probe
    // side from the same collected array: evaluating the `queries` subplan
    // twice would cost an extra job and, on a non-deterministic source, could
    // produce probe rows whose cells were never collected (silent candidate
    // loss).
    val probedRows = collectProbes(queries, centroids, nprobe)
    val cells = probedRows.map(_._3).distinct.sorted
    import spark.implicits._
    val probed = probedRows.toSeq.toDF("query_id", "q_emb", "cell")
    val index = spark.read.parquet(path).filter(col("cell").isin(cells: _*))
    val cand = broadcast(probed).join(index, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_emb"), col("emb"))).as("cosine"))
    heapTopK(cand, k)
  }

  /** Cells sized to the corpus: nlist = n / targetCellSize keeps the per-cell
    * quadratic work CONSTANT as the corpus grows — the sizing every
    * SemDeDup-style deployment must do (a fixed nlist turns quadratic again
    * at the next scale factor). Cell size also CAPS the join parallelism:
    * all rows of a cell land on one task, so nlist is simultaneously the
    * task count — prefer more, smaller cells (128 here) until training cost
    * or recall (cell-boundary losses, recovered by nassign) says otherwise. */
  def semanticNlistFor(n: Long, targetCellSize: Int = 128): Int =
    math.max(4, math.ceil(n.toDouble / targetCellSize)).toInt

  /** Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means the embedding space
    * ([[trainCentroidsSampled]]'s fit), then generate candidate pairs only
    * WITHIN each cluster cell and exact-filter them at `threshold`. Complements the
    * hyperplane-LSH blocking of [[cosineDupPairsLsh]]: LSH cells are
    * data-oblivious random cuts, k-means cells adapt to the corpus's density
    * structure — near-dup pairs concentrate inside cells, so recall at equal
    * candidate volume is higher on clustered corpora (the spec measures both
    * on the shared fixture).
    *
    * Scale shape: the cell tag is ONE map-only argmax per vector (centroid
    * matrix rides the closure as literals — no join), the pair join is
    * equi-key on `cell`, and per-cell work is quadratic IN THE CELL only.
    * Size `nlist` ~ corpusRows / targetCellSize to bound it; precision is 1
    * (exact cosine filter on every candidate), recall < 1 only through pairs
    * whose endpoints train into different cells. The embedding rides the cell
    * shuffle `nassign` times per side (once at the default single assignment)
    * — payload-last re-attachment only pays once nassign grows past the ~2-3
    * a recall target needs; at that point prefer the LSH form, whose banding
    * is built for high replication. */
  def semanticDupPairs(emb: DataFrame, threshold: Double,
                       nlist: Int = 0, nassign: Int = 1, iters: Int = 3,
                       trainSampleSize: Int = 4096): DataFrame = {
    // One collect serves both the auto-nlist count (when the corpus fits the
    // sample cap, its size IS the corpus size) and centroid training.
    val sample = collectTrainSample(emb, trainSampleSize)
    // Corpus size counted under the SAME isNotNull filter the sample and the
    // assignment path use — null-embedding rows are never clustered, so they
    // must not inflate the cell count either.
    val n = if (sample.length < trainSampleSize) sample.length.toLong
            else emb.filter(col("embedding").isNotNull).count()
    // Auto-nlist is clamped to the training sample: fitCentroids can seed at
    // most sample.length distinct cells, so past n ~ trainSampleSize *
    // targetCellSize the per-cell work grows again — callers at that scale
    // should raise trainSampleSize alongside (cells stay kilobyte-scale
    // models either way).
    val sizedNlist = math.min(
      if (nlist > 0) nlist else semanticNlistFor(n), sample.length)
    val cents = fitCentroids(sample, sizedNlist, iters)
    // nassign > 1 = multi-assignment (the corpus-side analog of query-time
    // multi-probe): each vector joins its `nassign` nearest cells, recovering
    // pairs that straddle a cell boundary at the cost of nassign x candidate
    // volume. A pair is found iff the two vectors SHARE any assigned cell.
    val assigned = emb
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("emb"))
      .withColumn("cell",
        if (nassign <= 1) bestCell(col("emb"), cents)
        else explode(nearestCells(col("emb"), cents, nassign)))
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    a.join(b, col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        VectorFns.simKey(VectorFns.dot(col("a.emb"), col("b.emb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("a_id", "b_id")
  }

  /** Keep/drop decision over [[semanticDupPairs]]: connected components over
    * the within-cell pair edges (shared [[Dedup.resolveClusters]]
    * machinery), representative = smallest vec_id per component. Output
    * (vec_id, cluster_id, keep) mirrors the document-side dedup contract, so
    * a curation pipeline can swap text-based and embedding-based dedup
    * without re-plumbing. */
  def semanticDedup(emb: DataFrame, threshold: Double, nlist: Int = 0,
                    nassign: Int = 1, iters: Int = 3): DataFrame =
    Dedup.resolveClusters(
        emb.select(col("vec_id").as("doc_id")),
        semanticDupPairs(emb, threshold, nlist, nassign, iters))
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("keep"))

  /** Embedding-space outlier pruning: flag vectors whose cosine to the global
    * corpus centroid falls below `threshold` — the curation gate that drops
    * off-manifold embeddings (encoder failures, garbage inputs, adversarial
    * content) before they reach dedup/ANN/mixture stages. The SemDeDup line
    * of work prunes both duplicates AND outliers; this is the outlier half,
    * sharing the keep/drop contract of the dedup layer.
    *
    * Scale shape: the centroid is ONE (dim)-keyed aggregation of per-dim
    * partial sums (map-side combined — the exchange carries tasks×dim tiny
    * rows), reassembled in dim order and broadcast back as a single-row
    * literal-sized model; scoring is a map-only cosine per vector. Strict
    * `<`: a vector exactly AT the threshold survives. Null embeddings are
    * excluded (they carry no geometry — gate them with the null-profile
    * curation ops instead). */
  def centroidOutliers(emb: DataFrame, threshold: Double): DataFrame = {
    val vecs = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), VectorFns.toDoubleArray(col("embedding")).as("v"))
    val centroid = vecs
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(avg(col("x")).as("m"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(transform(col("pairs"), p => p.getField("m")).as("c"))
    vecs.crossJoin(broadcast(centroid))
      .select(col("vec_id"),
        VectorFns.simKey(VectorFns.cosine(col("v"), col("c"))).as("centroid_cos"))
      .withColumn("is_outlier", col("centroid_cos") < threshold)
  }

  /** PQ codebooks: [m subspaces][ksub cells][dsub dims] — a MODEL like
    * [[Centroids]] (m·ksub·dsub doubles: kilobytes at m=8, ksub=256,
    * dsub=128), planted into plans as a codegen reference object. */
  type Codebooks = Array[Array[Array[Double]]]

  /** Train product-quantization codebooks (Jégou et al. 2011): independent
    * k-means per subspace. One pass per Lloyd's round for ALL subspaces —
    * encode with the current books (map-only [[graft.functions.PQCodesExpr]]),
    * posexplode to (sub, code, subvec), ONE partial-aggregated shuffle of
    * (sub, code) → mean partials ([[graft.functions.VectorMeanAgg]]) — not m
    * separate trainings (m full corpus passes per round). Deterministic: seed
    * rows are the `ksub` smallest (xxhash64(vec_id), vec_id), sliced per
    * subspace; empty cells keep their previous centroid.
    *
    * 100 TB note: same amortization story as [[trainCentroidsSampled]] — train
    * on an `Ops.hashSample`, pay the full-corpus pass only for the final encode, and
    * persist the (vec_id, codes) table: the corpus then serves ANN queries
    * from m ints per vector instead of `dim` floats (a 32× memory/scan cut at
    * m=8, dim=64 float32). */
  def trainPQ(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
              iters: Int = 2): Codebooks = {
    val e = corpus.select(col("vec_id"),
      VectorFns.toDoubleArray(col("embedding")).as("emb"))
    val seeds = e.withColumn("h", xxhash64(col("vec_id")))
      .orderBy(col("h").asc, col("vec_id").asc).limit(ksub)
      .select("emb").collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == ksub, s"corpus has ${seeds.length} rows < ksub=$ksub")
    // dim read off the collected seed rows, not a separate size() job per
    // training (one less driver roundtrip on every PQ path)
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    var books: Codebooks = Array.tabulate(m)(sub =>
      Array.tabulate(ksub)(c => seeds(c).slice(sub * dsub, (sub + 1) * dsub)))
    var round = 0
    while (round < iters) {
      val means = e
        .select(posexplode(graft.functions.PQExprs.pqCodes(col("emb"), books))
          .as(Seq("sub", "code")), col("emb"))
        .select(col("sub"), col("code"),
          slice(col("emb"), col("sub") * dsub + 1, lit(dsub)).as("subvec"))
        .groupBy("sub", "code")
        .agg(graft.functions.VectorMeanAgg.vectorMean(col("subvec")).as("mean"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      books = Array.tabulate(m)(sub =>
        Array.tabulate(ksub)(c => means.getOrElse((sub, c), books(sub)(c))))
      round += 1
    }
    books
  }

  /** Corpus → (vec_id, codes): each vector compressed to its m PQ codes.
    * Map-only; this is the table to persist — the full-precision embedding is
    * needed again only for the optional exact-rerank stage. */
  def pqEncode(corpus: DataFrame, books: Codebooks): DataFrame =
    corpus.select(col("vec_id"),
      graft.functions.PQExprs.pqCodes(
        VectorFns.toDoubleArray(col("embedding")), books).as("codes"))

  /** PQ ANN top-k: ADC scan + optional exact rerank. Unlike the candidate-
    * generating paths (LSH buckets / IVF cells), PQ scores EVERY corpus vector
    * — no true neighbor is ever skipped, it can only be mis-ranked by
    * quantization distortion — so recall comes from shortlist depth, not
    * blocking luck: stage 1 ranks all rows by the cheap ADC inner product
    * (m code lookups + dim multiplies against centroids, over m ints/vector of
    * memory traffic) into a `rerankFactor`·k shortlist via the bounded-heap
    * aggregate; stage 2 re-scores only the shortlist with exact cosine on the
    * full-precision vectors. `rerankFactor = 0` skips stage 2 and returns raw
    * ADC ranking (score column then holds the ADC value, NOT exact cosine).
    * Broadcast side is the query set, as in [[bruteForceTopK]] — the corpus
    * (codes table) never collects or reshuffles. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16, iters: Int = 2,
             rerankFactor: Int = 4): DataFrame = {
    val books = trainPQ(corpus, m, ksub, iters)
    pqTopKEncoded(pqEncode(corpus, books), corpus, queries, books, k, rerankFactor)
  }

  /** Query-time PQ search over a (possibly persisted) codes table — the
    * serving path, mirroring [[ivfProbeAssigned]]: train once, persist
    * (vec_id, codes), and answer queries from the compressed table; the
    * full-precision corpus is read only for the rerank join. */
  def pqTopKEncoded(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                    books: Codebooks, k: Int, rerankFactor: Int = 4): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      VectorFns.toDoubleArray(col("embedding")).as("q_emb"))
    val adcScored = broadcast(q).join(codes, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(graft.functions.PQExprs.pqAdc(col("q_emb"), col("codes"), books))
          .as("cosine"))
    if (rerankFactor <= 0) heapTopK(adcScored, k)
    else {
      val shortlist = heapTopK(adcScored, rerankFactor * k)
        .select("query_id", "vec_id")
      val e = corpus.select(col("vec_id"),
        VectorFns.toDoubleArray(col("embedding")).as("embedding"))
      val exact = shortlist
        .join(e, "vec_id")
        .join(broadcast(q), "query_id")
        .select(col("query_id"), col("vec_id"),
          VectorFns.simKey(VectorFns.dot(col("q_emb"), col("embedding"))).as("cosine"))
      heapTopK(exact, k)
    }
  }

  /** Fit the IVFADC models: sampled coarse centroids plus PQ codebooks
    * trained on the RESIDUALS under them — the (cents, books) pair every
    * IVFADC path shares ([[ivfPqTopK]] inline,
    * [[writeIvfPqIndex]]/[[ivfPqProbePersisted]] persisted). Deterministic
    * end to end, so a refit with equal params reproduces the index
    * bit-for-bit. */
  def trainIvfPq(corpus: DataFrame, nlist: Int, m: Int, ksub: Int,
                 iters: Int): (Centroids, Codebooks) = {
    val spark = corpus.sparkSession
    val cents = trainCentroidsSampled(corpus, nlist, iters)
    val centDf = broadcast(spark.createDataFrame(cents.map { case (id, c) => (id, c) })
      .toDF("cell", "cent"))
    val resid = ivfAssignments(corpus, cents)
      .join(centDf, "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("emb"), col("cent"), (a, b) => a - b).as("embedding"))
    (cents, trainPQ(resid, m, ksub, iters))
  }

  /** IVFADC — the composition of the coarse quantizer and PQ (Jégou et al.
    * 2011 §IV; the FAISS `IVFx,PQy` index): corpus vectors assign to IVF cells
    * ([[ivfAssignments]]), their RESIDUALS (x − centroid[cell]) compress to PQ
    * codes, and a query probes only `nprobe` cells, ADC-scoring the codes
    * there. Residual encoding is what makes PQ codebooks sharp at scale: the
    * coarse quantizer removes the cell mean, so the PQ codebooks only span the
    * (much tighter) within-cell spread. The exact inner product decomposes as
    * dot(q, x̂) = dot(q, centroid[cell]) + dot(q, residual̂) — the first term is
    * one [[graft.functions.DotProductExpr]] against the broadcast centroid,
    * the second the same [[graft.functions.PQAdcExpr]] as [[pqTopK]].
    *
    * Cost per query: nprobe/nlist of the corpus ADC-scanned from m ints per
    * vector — both the scan FRACTION (IVF) and the BYTES per scanned vector
    * (PQ) shrink, which is why this is the billion-scale architecture.
    * Shortlist re-ranks exactly against full-precision vectors.
    *
    * `models` come from [[trainIvfPq]] — the serving shape: a persisted-index
    * gate probes its in-memory twin under the SAME deterministic models it
    * trained for the index, never a refit. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                models: (Centroids, Codebooks), nprobe: Int = 4,
                rerankFactor: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val (cents, books) = models
    val centDf = broadcast(spark.createDataFrame(cents.map { case (id, c) => (id, c) })
      .toDF("cell", "cent"))
    // residuals: x - centroid[cell]; the centroid arrives via the broadcast
    // dim join (kilobytes), zip_with subtracts element-wise
    val resid = ivfAssignments(corpus, cents)
      .join(centDf, "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("emb"), col("cent"), (a, b) => a - b).as("embedding"))
    val coded = resid.select(col("vec_id"), col("cell"),
      graft.functions.PQExprs.pqCodes(col("embedding"), books).as("codes"))
    // query side: expand to nprobe cells, attach each probed centroid
    val probed = queries
      .select(col("vec_id").as("query_id"),
        VectorFns.toDoubleArray(col("embedding")).as("q_emb"))
      .withColumn("cell", explode(nearestCells(col("q_emb"), cents, nprobe)))
      .join(centDf, "cell")
    val scored = broadcast(probed).join(coded, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(
          VectorFns.dot(col("q_emb"), col("cent")) +
            graft.functions.PQExprs.pqAdc(col("q_emb"), col("codes"), books))
          .as("cosine"))
    if (rerankFactor <= 0) heapTopK(scored, k)
    else exactRerank(heapTopK(scored, rerankFactor * k), corpus, queries, k)
  }

  /** The stored-row projection shared by build and append: nearest-cell
    * assignment + residual-PQ codes under (cents, books). */
  private def ivfPqIndexRows(vecs: DataFrame, cents: Centroids,
                             books: Codebooks): DataFrame = {
    val spark = vecs.sparkSession
    val centDf = broadcast(spark.createDataFrame(cents.map { case (id, c) => (id, c) })
      .toDF("cell", "cent"))
    ivfAssignments(vecs, cents)
      .join(centDf, "cell")
      .select(col("vec_id"), col("cell"),
        graft.functions.PQExprs.pqCodes(
          zip_with(col("emb"), col("cent"), (a, b) => a - b), books).as("codes"))
  }

  /** Persist the IVFADC index: `(vec_id, codes)` residual-PQ rows laid out
    * CELL-PARTITIONED on disk — the billion-scale serving layout (FAISS
    * `IVFx,PQy` on object storage): both the scan FRACTION (partition-pruned
    * cells) and the BYTES per scanned row (m code bytes, not the vector)
    * shrink. Centroids and codebooks are kilobyte-scale driver models,
    * persisted separately like any model artifact. `books` must be trained on
    * the RESIDUALS under these same `cents` (as [[trainIvfPq]] fits them) — the
    * probe decomposes dot(q, x̂) = dot(q, centroid) + dot(q, residual̂). */
  def writeIvfPqIndex(corpus: DataFrame, cents: Centroids, books: Codebooks,
                      path: String): Unit =
    ivfPqIndexRows(corpus, cents, books)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Append NEW vectors to a persisted [[writeIvfPqIndex]] layout — the
    * IVFADC face of [[appendIvfIndex]] (FAISS add-after-train for
    * IVFx,PQy): each new vector assigns to its nearest cell and
    * residual-PQ-encodes under the SAME frozen (centroids, codebooks) —
    * retraining either model would invalidate every stored code — then
    * appends cell-partitioned files in place. Cost is one map-only
    * assign+encode pass over only the new rows; [[ivfPqProbePersisted]]
    * sees the union unchanged. Same drift caveat as [[appendIvfIndex]]:
    * the frozen models quantize appended vectors exactly as build-time
    * ones, and only distribution drift (rising ADC error on new data) says
    * rebuild. */
  def appendIvfPqIndex(newVecs: DataFrame, cents: Centroids, books: Codebooks,
                       path: String): Unit =
    ivfPqIndexRows(newVecs, cents, books)
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Probe a [[writeIvfPqIndex]] layout: the probe-cell set is computed
    * driver-side and pushed as a PARTITION filter (only probed cell
    * directories are read, as [[ivfProbePersisted]]); candidates ADC-score
    * from the stored residual codes plus the broadcast centroid term, and the
    * shortlist re-ranks exactly against the full-precision `corpus` — the
    * only reads of full vectors are shortlist rows. Bit-identical to
    * [[ivfPqTopK]] under the same models (spec-asserted). */
  def ivfPqProbePersisted(spark: SparkSession, path: String, cents: Centroids,
                          books: Codebooks, queries: DataFrame, corpus: DataFrame,
                          k: Int, nprobe: Int = 4, rerankFactor: Int = 4): DataFrame = {
    // One collect serves the cell filter AND the probe side (see
    // [[ivfProbePersisted]]); the per-cell centroid term attaches driver-side
    // from the model itself — no centroid join in the plan at all.
    val centById = cents.map { case (id, c) => id -> c }.toMap
    val probedRows = collectProbes(queries, cents, nprobe)
      .map { case (qid, qe, cell) => (qid, qe, cell, centById(cell)) }
    val cells = probedRows.map(_._3).distinct.sorted
    import spark.implicits._
    val probed = probedRows.toSeq.toDF("query_id", "q_emb", "cell", "cent")
    val idx = spark.read.parquet(path).filter(col("cell").isin(cells: _*))
    val scored = broadcast(probed).join(idx, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(
          VectorFns.dot(col("q_emb"), col("cent")) +
            graft.functions.PQExprs.pqAdc(col("q_emb"), col("codes"), books))
          .as("cosine"))
    if (rerankFactor <= 0) heapTopK(scored, k)
    else exactRerank(heapTopK(scored, rerankFactor * k), corpus, queries, k)
  }

  /** Deterministic ±1/√outDim sign matrix for [[randomProject]] — the
    * Achlioptas (2003) database-friendly Johnson–Lindenstrauss projection
    * (signs suffice; no Gaussians needed). The sign is PURE INTEGER
    * ARITHMETIC, not a PRNG or xxhash64, so a DuckDB oracle reproduces it
    * verbatim — the property the seeded-PRNG planes of
    * [[VectorFns.hyperplanes]] cannot give. Mixing is double mid-square mod
    * an odd prime: y = (i·1299721 + j·7919 + 104729) mod 2038074743,
    * sign(i, j) = + iff ((y² mod m)² mod m) is even. The parity of a LINEAR
    * form is NOT enough — it alternates with i, collapsing the matrix to one
    * near-rank-1 row (measured: max |rp_dot − cos| 8.7, recall 0.03); the
    * two squarings decorrelate rows (measured: sign balance 0.494, mean
    * |row·row|/dim 0.11 at 64×16 — the iid-sign regime JL needs). All
    * intermediates stay under 2^63: y < m ≈ 2.04e9, y² ≈ 4.2e18 < 2^63. */
  def rpSignRows(dim: Int, outDim: Int): Array[Array[Double]] = {
    require(dim >= 1 && outDim >= 1, s"need dim, outDim >= 1, got $dim, $outDim")
    val M = 2038074743L
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    Array.tabulate(outDim) { j =>
      Array.tabulate(dim) { i =>
        val y = (i.toLong * 1299721L + j.toLong * 7919L + 104729L) % M
        val s = (y * y) % M
        val t = (s * s) % M
        if (t % 2L == 0L) scale else -scale
      }
    }
  }

  /** Johnson–Lindenstrauss dimensionality reduction: project each embedding
    * onto `outDim` deterministic sign rows ([[rpSignRows]]). Inner products
    * are preserved in expectation with additive error O(1/√outDim) — the
    * cheap pre-filter that lets every downstream ANN/dedup pass scan
    * outDim/dim of the bytes (64→16 dims = 4× less vector memory traffic
    * before any quantization).
    *
    * Scale shape: map-only — one native codegen [[graft.functions
    * .DotProductExpr]] per output dimension against a literal sign row (the
    * matrix is a MODEL: outDim·dim doubles, kilobytes), no join, no shuffle,
    * no UDF. Elements are rounded to 6 decimals, making the projected table
    * a stable cross-engine artifact (the rounding is far below the JL
    * distortion floor, so it costs nothing downstream). */
  def randomProject(emb: DataFrame, dim: Int, outDim: Int): DataFrame = {
    val rows = rpSignRows(dim, outDim)
    emb.select(col("vec_id"),
      array(rows.toIndexedSeq.map(r =>
        round(VectorFns.dot(col("embedding"), typedLit(r.toSeq)), 6)): _*).as("rp"))
  }

  /** ANN via random projection + exact rerank, the [[pqTopK]] architecture
    * with a training-free compressor: stage 1 ranks EVERY corpus vector by
    * its projected `outDim`-dim inner product (4× less vector memory
    * traffic at 64→16 before any quantization) into a `rerankFactor`·k
    * shortlist; stage 2 re-scores only the shortlist with exact cosine on
    * full-precision vectors. Like PQ — and unlike bucketed LSH/IVF — no
    * true neighbor is ever *skipped*, only mis-ranked past the shortlist
    * boundary, so recall comes from shortlist depth, not blocking luck.
    * Raw projected ranking alone is NOT an answer at JL noise σ≈0.35
    * (64→16): measured recall@10 0.115 on the near-orthogonal fixture vs
    * 0.550 with the rerank stage (SimilaritySpec gates the composition;
    * the fixture's max cosine 0.48 sits below one noise σ — real clustered
    * corpora and deeper shortlists only improve on this worst case).
    * Unlike every trained/hashed ANN path here, the whole pipeline is pure
    * deterministic arithmetic — it hash-matches a DuckDB oracle end to end.
    * `rerankFactor <= 0` skips the rerank and returns the raw projected
    * ranking (score column then holds rp_dot, NOT exact cosine). */
  def rpTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             outDim: Int = 16, rerankFactor: Int = 10): DataFrame = {
    val rpC = fanOut(randomProject(corpus, dim, outDim), "vec_id")
    val rpQ = randomProject(queries, dim, outDim)
      .select(col("vec_id").as("query_id"), col("rp").as("q_rp"))
    val scored = broadcast(rpQ).join(rpC, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_rp"), col("rp"))).as("cosine"))
    if (rerankFactor <= 0) heapTopK(scored, k)
    else exactRerank(heapTopK(scored, rerankFactor * k), corpus, queries, k)
  }

  /** Stage-2 of every shortlist-then-rerank ANN: exact full-precision cosine
    * over the (query, candidate) shortlist only — candidates re-join their
    * vectors by id (the shortlist never carries embeddings), queries
    * broadcast, final heap top-k. */
  private def exactRerank(shortlist: DataFrame, corpus: DataFrame,
                          queries: DataFrame, k: Int): DataFrame = {
    val e = corpus.select(col("vec_id"),
      VectorFns.toDoubleArray(col("embedding")).as("embedding"))
    val q = queries.select(col("vec_id").as("query_id"),
      VectorFns.toDoubleArray(col("embedding")).as("q_emb"))
    heapTopK(shortlist.select("query_id", "vec_id")
      .join(e, "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_emb"), col("embedding"))).as("cosine")), k)
  }

  /** Matryoshka-prefix ANN (Kusupati et al. 2022): stage 1 ranks every corpus
    * vector by the inner product of the FIRST `prefixDim` dimensions — an
    * MRL-trained encoder's prefix IS a valid coarse embedding, so the
    * compressor is a zero-arithmetic slice, no projection and no training —
    * into a `rerankFactor`·k shortlist; stage 2 rescores the shortlist with
    * exact full-dimension cosine ([[exactRerank]], the [[rpTopK]]
    * architecture). Never skips a true neighbor, only mis-ranks it past the
    * shortlist boundary; at d′ of d dims the stage-1 scan moves d′/d of the
    * vector bytes. Pure deterministic arithmetic end to end — hash-oracles
    * like the RP path. On NON-MRL embeddings (the fixture) the prefix is an
    * unbiased but noisy subspace — this operator's worst case; SimilaritySpec
    * measures recall there with the rerank recovering the truncation loss. */
  def mrlTopK(corpus: DataFrame, queries: DataFrame, k: Int, prefixDim: Int = 16,
              rerankFactor: Int = 10): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    def pref(df: DataFrame, idAs: String, embAs: String): DataFrame = df.select(
      col("vec_id").as(idAs),
      slice(VectorFns.toDoubleArray(col("embedding")), 1, prefixDim).as(embAs))
    val scored = broadcast(pref(queries, "query_id", "q_pre"))
      .join(pref(corpus, "vec_id", "pre"), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_pre"), col("pre"))).as("cosine"))
    if (rerankFactor <= 0) heapTopK(scored, k)
    else exactRerank(heapTopK(scored, rerankFactor * k), corpus, queries, k)
  }

  /** Binary-quantized ANN (sign-bit Hamming shortlist + exact rerank): each
    * vector compresses to ONE 64-bit word — its per-dimension sign bits
    * ([[VectorFns.signBits]]; Charikar 2002: P[sign mismatch] = θ/π, so
    * Hamming distance between sign words is an unbiased angle estimator) —
    * and stage 1 ranks the WHOLE corpus by `bit_count(sig XOR q_sig)`: one
    * long of memory traffic per row, 32x under the float32 scan — the
    * cheapest full-coverage compressor scan of the family (PQ moves m bytes,
    * RP/MRL move d′ doubles; this moves 8 bytes and its distance is a single
    * popcount instruction). No blocking → no candidate misses, only
    * mis-rankings past the shortlist boundary; stage 2 rescores the
    * `rerankFactor`·k shortlist exactly ([[exactRerank]]). Deterministic
    * arithmetic end to end (sign, XOR, popcount) — hash-oracles like the
    * RP/MRL paths; recall vs brute force is gated in SimilaritySpec. At
    * 100 TB the signature column persists next to the corpus (8 bytes/row)
    * and the stage-1 scan never touches the embedding column at all. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                 rerankFactor: Int = 10): DataFrame = {
    def sig(df: DataFrame, idAs: String, sigAs: String): DataFrame = df.select(
      col("vec_id").as(idAs),
      VectorFns.signBits(col("embedding"), dim).as(sigAs))
    val scored = broadcast(sig(queries, "query_id", "q_sig"))
      .join(sig(corpus, "vec_id", "sig"), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        // negate: heapTopK keeps the LARGEST scores, Hamming wants smallest;
        // ties break on vec_id either way, so the shortlist is deterministic
        (-bit_count(col("q_sig").bitwiseXOR(col("sig"))).cast("double")).as("cosine"))
    if (rerankFactor <= 0) heapTopK(scored, k)
    else exactRerank(heapTopK(scored, rerankFactor * k), corpus, queries, k)
  }

  // ------------------------------------------------------------------
  // PCA / whitening: one distributed covariance pass + driver eigensolve
  // (the OPQ/PCA-matrix preprocessing FAISS applies before coarse
  // quantization — see faiss PCAMatrix; public linear algebra throughout)
  // ------------------------------------------------------------------

  /** A fitted PCA model: `components(j)` is the j-th principal axis (unit
    * length, descending eigenvalue, sign-normalized so the largest-magnitude
    * coordinate is positive — determinism); when `whitened`, each axis is
    * pre-scaled by 1/√λ so projected coordinates have unit variance. Model
    * objects are kilobytes — they broadcast into map-only projections, the
    * centroid/codebook discipline. */
  case class PcaModel(dim: Int, outDim: Int, mean: Array[Double],
                      components: Array[Array[Double]],
                      eigenvalues: Array[Double], whitened: Boolean)

  /** One distributed pass collecting SHIFTED moments (n, Σ(x−p), packed
    * upper Σ(x−p)(x−p)ᵀ, pivot p): each PARTITION emits d + d(d+1)/2
    * doubles — model-scale rows, never the vectors — so the fit reads the
    * corpus once however large it is. The pivot (an arbitrary data row) is
    * the cancellation guard: covariance from RAW moments is
    * E[xxᵀ] − µµᵀ, which catastrophically cancels when |µ| dwarfs the
    * spread (coordinates ~1e6 with spread ~1 lose every significant digit
    * of the subtraction); covariance is translation-invariant, so shifted
    * moments keep both terms at spread scale and the subtraction exact.
    * The true mean is `sums/n + pivot`. */
  private def momentsPass(vecs: DataFrame, col0: String, dim: Int)
      : (Long, Array[Double], Array[Double], Array[Double]) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val src = vecs
      .filter(col(col0).isNotNull)
      .select(VectorFns.toDoubleArray(col(col0)).as("v"))
      .as[Array[Double]]
    // SINGLE corpus-touching job (a global pivot would cost a separate
    // take(1) job and depend on partition order): each partition
    // shifts by ITS OWN first row (a local, typical-magnitude pivot — the
    // same cancellation guard), and the driver recombines the per-partition
    // shifted moments onto the first non-empty partition's pivot with the
    // EXACT translation identities
    //   Σ(x−P)      = Σ(x−p) + n·(p−P)
    //   Σ(x−P)(x−P)ᵀ = Σ(x−p)(x−p)ᵀ + dᵀΣ(x−p) + Σ(x−p)ᵀd + n·ddᵀ, d = p−P.
    // d is a difference of two data rows (spread-scale), so the correction
    // terms never reintroduce the |µ|²-scale cancellation the pivot exists
    // to avoid. `collect` preserves partition order, so P is deterministic
    // for a deterministic source — same contract as the old take(1).
    val parts = src
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          require(first.length == dim, s"vector dim ${first.length} != declared $dim")
          val pivot = first.clone()
          val sums = new Array[Double](dim)
          val gram = new Array[Double](dim * (dim + 1) / 2)
          val shifted = new Array[Double](dim)
          var n = 0L
          (Iterator.single(first) ++ it).foreach { v =>
            require(v.length == dim, s"vector dim ${v.length} != declared $dim")
            var i = 0
            while (i < dim) { shifted(i) = v(i) - pivot(i); i += 1 }
            i = 0; var t = 0
            while (i < dim) {
              sums(i) += shifted(i)
              var j = i
              while (j < dim) { gram(t) += shifted(i) * shifted(j); j += 1; t += 1 }
              i += 1
            }
            n += 1
          }
          Iterator.single((n, pivot, sums, gram))
        }
      }.collect()
    if (parts.isEmpty)
      return (0L, new Array[Double](dim), new Array[Double](dim * (dim + 1) / 2),
        new Array[Double](dim))
    val pivot = parts.head._2
    val n = parts.map(_._1).sum
    val sums = new Array[Double](dim)
    val gram = new Array[Double](dim * (dim + 1) / 2)
    val d = new Array[Double](dim)
    parts.foreach { case (np, pp, s, g) =>
      var i = 0
      while (i < dim) { d(i) = pp(i) - pivot(i); i += 1 }
      i = 0; var t = 0
      while (i < dim) {
        sums(i) += s(i) + np * d(i)
        var j = i
        while (j < dim) {
          gram(t) += g(t) + d(i) * s(j) + d(j) * s(i) + np * d(i) * d(j)
          j += 1; t += 1
        }
        i += 1
      }
    }
    (n, sums, gram, pivot)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix (driver-side, the
    * matrix is dim×dim = model-scale): returns (eigenvalues, eigenvectors)
    * sorted by eigenvalue DESCENDING, eigenvectors unit-length rows. Public
    * textbook algorithm (Golub & Van Loan §8.5). */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0; var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var fro = 0.0
    for (i <- 0 until d; j <- 0 until d) fro += a(i)(j) * a(i)(j)
    val eps = 1e-24 * (fro + 1e-300)
    var sweep = 0
    while (sweep < 100 && off() > eps) {
      var p = 0
      while (p < d) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0); val s = t * c
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = c * c * app - 2.0 * s * c * apq + s * s * aqq
            a(q)(q) = s * s * app + 2.0 * s * c * apq + c * c * aqq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var i = 0
            while (i < d) {
              if (i != p && i != q) {
                val aip = a(i)(p); val aiq = a(i)(q)
                a(i)(p) = c * aip - s * aiq; a(p)(i) = a(i)(p)
                a(i)(q) = s * aip + c * aiq; a(q)(i) = a(i)(q)
              }
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(j => (-a(j)(j), j))
    (order.map(j => a(j)(j)).toArray,
      order.map(j => Array.tabulate(d)(i => v(i)(j))).toArray)
  }

  /** Fit PCA over the corpus: ONE distributed moments pass ([[momentsPass]])
    * → population covariance → driver Jacobi eigensolve (d×d, kilobytes).
    * `whiten = true` scales each axis by 1/√max(λ, 1e-12) so projected
    * coordinates have unit variance — the decorrelation step embedding
    * pipelines run before product quantization or cosine bucketing. */
  def fitPca(corpus: DataFrame, dim: Int, outDim: Int,
             whiten: Boolean = false): PcaModel = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"bad pca dims $dim -> $outDim")
    val (n, sums, gram, pivot) = momentsPass(corpus, "embedding", dim)
    require(n > 1, s"need >= 2 vectors to fit PCA, got $n")
    // shifted mean; covariance is translation-invariant so the pivot only
    // re-enters for the true mean below
    val meanShift = sums.map(_ / n)
    val mean = Array.tabulate(dim)(i => meanShift(i) + pivot(i))
    val cov = Array.ofDim[Double](dim, dim)
    var i = 0; var t = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = gram(t) / n - meanShift(i) * meanShift(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    val comps = (0 until outDim).map { j =>
      val row = eigVecs(j).clone()
      // deterministic sign: the largest-|coordinate| (first on ties) positive
      var best = 0; var bi = 0
      while (bi < dim) {
        if (math.abs(row(bi)) > math.abs(row(best))) best = bi
        bi += 1
      }
      val flip = if (row(best) < 0) -1.0 else 1.0
      val scale = flip * (if (whiten) 1.0 / math.sqrt(math.max(eigVals(j), 1e-12)) else 1.0)
      row.map(_ * scale)
    }.toArray
    PcaModel(dim, outDim, mean, comps, eigVals.take(outDim), whiten)
  }

  /** Map-only pure ROTATION under a fitted model — [[pcaProject]] WITHOUT
    * the mean offset: coordinate j is `⟨x, c_j⟩` alone, rounded to 6
    * decimals. Translation does NOT preserve dot products, so dot/cosine
    * pipelines (the PCA/OPQ shortlists and ADC scans) must rotate, never
    * center — a centered projection adds a per-candidate `−⟨µ, x⟩` bias
    * that reorders neighbors on any corpus with a non-trivial mean (e.g.
    * non-negative ReLU embeddings). Centering ([[pcaProject]]) is for
    * VARIANCE work: whitening, drift monitoring, diagnostics. */
  def pcaRotate(df: DataFrame, model: PcaModel, outCol: String = "pca"): DataFrame =
    df.select(col("vec_id"),
      array(model.components.map(row =>
        round(VectorFns.dot(col("embedding"), typedLit(row.toSeq)), 6))
        .toIndexedSeq: _*).as(outCol))

  /** Map-only CENTERED projection under a fitted [[PcaModel]]: coordinate j
    * is `⟨x, c_j⟩ − ⟨mean, c_j⟩` (the mean offset folds into a constant, so
    * the row-side work is `outDim` codegen'd dot products), rounded to 6
    * decimals — float-noise-proof like [[randomProject]]. Use for variance
    * analytics; similarity shortlists use [[pcaRotate]]. */
  def pcaProject(df: DataFrame, model: PcaModel, outCol: String = "pca"): DataFrame = {
    val offsets = model.components.map { row =>
      var s = 0.0; var i = 0
      while (i < model.dim) { s += row(i) * model.mean(i); i += 1 }
      s
    }
    df.select(col("vec_id"),
      array(model.components.zipWithIndex.map { case (row, j) =>
        round(VectorFns.dot(col("embedding"), typedLit(row.toSeq)) - lit(offsets(j)), 6)
      }.toIndexedSeq: _*).as(outCol))
  }

  /** PCA-trained ANN — the [[rpTopK]] architecture with a TRAINED compressor:
    * stage 1 ranks every corpus vector by the `outDim`-dim PCA-projected
    * inner product (the variance-optimal linear sketch, vs RP's oblivious
    * one) into a `rerankFactor`·k shortlist; stage 2 rescores with exact
    * full-dim cosine ([[exactRerank]]). Like RP/MRL/PQ, no true neighbor is
    * ever skipped, only mis-ranked past the shortlist boundary. Training is
    * data-dependent (eigenvectors), so this path is recall-GATED rather than
    * value-oracled — the [[ivfTopK]] adjudication. */
  def pcaTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              outDim: Int = 16, rerankFactor: Int = 10): DataFrame = {
    val model = fitPca(corpus, dim, outDim)
    val pC = fanOut(pcaRotate(corpus, model), "vec_id")
    val pQ = pcaRotate(queries, model)
      .select(col("vec_id").as("query_id"), col("pca").as("q_pca"))
    val scored = broadcast(pQ).join(pC, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_pca"), col("pca"))).as("cosine"))
    if (rerankFactor <= 0) heapTopK(scored, k)
    else exactRerank(heapTopK(scored, rerankFactor * k), corpus, queries, k)
  }

  /** OPQ-style decorrelated PQ — the FAISS OPQMatrix preprocessing in its
    * PCA-rotation simplification (Ge et al. 2013 learn the rotation
    * iteratively; the PCA basis is its standard initialization and the form
    * FAISS ships as `PCAMatrix` + PQ): rotate corpus AND queries by the
    * FULL-rank PCA basis — orthogonal, so inner products and neighbor ranks
    * are preserved exactly up to the 6-decimal projection rounding — then
    * run the standard PQ ADC pipeline in the decorrelated space. The
    * rotation aligns subquantizer blocks with the principal axes, which
    * lowers PQ distortion on anisotropic real embeddings and balances
    * per-block variance; on an isotropic fixture it is recall-neutral by
    * construction, so the gate proves the composition LOSES nothing.
    * Training adds one moments pass + a d×d eigensolve; the rotation
    * broadcasts into a map-only projection in front of the PQ encode.
    *
    * The rotated corpus MATERIALIZES once (persist + a single count, and the
    * cache is UNPERSISTED after the model-scale result checkpoints): every
    * downstream pass — each PQ training round, the encode, the ADC scan, the
    * rerank join — would otherwise re-execute the d×d projection expression
    * per pass (measured 2207 s vs 83 s at the 1M×32 stress, 26 s vs 2.6 s in
    * the sf0.1 sweep). `trainMod` > 1 trains the
    * codebooks on the deterministic `xxhash64(vec_id) % trainMod = 0` slice
    * — the [[trainPQ]] 100 TB note's sampling contract, applied here so the
    * training rounds never scan the full rotated corpus at scale (encode
    * still does, once — that's the persisted-codes pass). */
  def opqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              m: Int = 8, ksub: Int = 16, iters: Int = 2,
              rerankFactor: Int = 4, trainMod: Int = 1): DataFrame = {
    require(trainMod >= 1, s"trainMod must be >= 1, got $trainMod")
    val model = fitPca(corpus, dim, dim)
    def rot(df: DataFrame): DataFrame =
      pcaRotate(df, model).select(col("vec_id"), col("pca").as("embedding"))
    // PERSIST (not localCheckpoint) so the release below actually releases:
    // Dataset.unpersist on a localCheckpoint'd frame is a cache-manager
    // no-op — the blocks belong to the internal checkpoint RDD, which only
    // the ContextCleaner ever frees — while persist/unpersist
    // are symmetric through the cache manager. The count() pays the d×d
    // projection ONCE; every downstream pass (PQ training rounds, encode,
    // ADC scan, rerank join) then reads the cache (measured 2207 s → 83 s at
    // the 1M×32 stress).
    val rc = rot(corpus).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rc.count()
    val train = if (trainMod == 1) rc
      else rc.filter(pmod(xxhash64(col("vec_id")), lit(trainMod.toLong)) === 0L)
    if (trainMod > 1) require(!train.isEmpty,
      s"trainMod=$trainMod selected zero training rows from this corpus — " +
        "lower it (or pass 1 to train on every row)")
    val books = trainPQ(train, m, ksub, iters)
    // Materialize the RESULT (|queries|·k rows — model-scale) so its lineage
    // severs from `rc`, then release the corpus-sized cache before returning:
    // bench sweeps invoke this many times per session and would otherwise
    // accumulate a corpus of blocks per call.
    try pqTopKEncoded(pqEncode(rc, books), rc, rot(queries), books, k,
      rerankFactor).localCheckpoint()
    finally rc.unpersist()
  }

  /** Whitening correctness surfaced as ARITHMETIC: fit a whitened PCA, project
    * the corpus, run the same moments pass over the projections, and emit per
    * projected dimension its mean, variance, and the largest |covariance|
    * against any other dimension — all rounded to 6 decimals. Because the
    * whitening eigendecomposition comes from the SAME population covariance
    * the diagnostics recompute, a correct fit yields EXACTLY (0, 1, 0) per
    * dimension up to float ulps far below the rounding — so the driver's
    * hash compare against the constant oracle is a real gate on the whole
    * fit→eigensolve→project chain (requires a non-degenerate corpus:
    * λ_outDim ≫ the 1e-12 whitening guard, which any real embedding table
    * satisfies). */
  def pcaWhitenDiagnostics(corpus: DataFrame, dim: Int, outDim: Int): DataFrame = {
    val spark = corpus.sparkSession
    val model = fitPca(corpus, dim, outDim, whiten = true)
    val (n, sums, gram, pivot) = momentsPass(pcaProject(corpus, model), "pca", outDim)
    val meanShift = sums.map(_ / n)
    def covAt(i: Int, j: Int): Double = {
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      // packed upper-triangular offset: row lo starts after lo rows of
      // decreasing length (outDim, outDim-1, ...); shifted moments, so the
      // subtraction never cancels (the momentsPass pivot contract)
      val base = lo * outDim - lo * (lo - 1) / 2
      gram(base + (hi - lo)) / n - meanShift(i) * meanShift(j)
    }
    def r6(x: Double): Double = {
      val y = math.rint(x * 1e6) / 1e6
      if (y == 0.0) 0.0 else y // never emit -0.0: the oracle compares reprs
    }
    val rows = (0 until outDim).map { j =>
      val maxOff = (0 until outDim).filter(_ != j)
        .map(i => math.abs(covAt(i, j))).max
      (j, r6(meanShift(j) + pivot(j)), r6(covAt(j, j)), r6(maxOff))
    }
    import spark.implicits._
    rows.toDF("dim_idx", "mean_r", "variance_r", "max_abs_cov_r")
  }

  /** LSH-bucketed ANN: tag every vector with `tables` independent hyperplane
    * buckets, equi-join queries to corpus on (table, bucket), exact re-rank, top-k.
    * Recall < 1 by construction; `tables` trades recall for candidate count.
    * Size `nbits` to the corpus: ~log2(corpusRows / targetBucketSize) — buckets
    * much finer than the corpus (2^nbits >> rows) leave most queries with no
    * candidates at all. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nbits: Int = 8, tables: Int = 4): DataFrame = {
    def tagged(df: DataFrame, idAs: String, embAs: String): DataFrame =
      df.select((0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            VectorFns.hyperplaneBucket(col("embedding"), dim, nbits, seed = t)
              .as("bucket")).as(s"b$t")
        } :+ col("vec_id").as(idAs) :+ col("embedding").as(embAs): _*)
        .withColumn("bb", explode(array((0 until tables).map(t => col(s"b$t")): _*)))
        .select(col(idAs), col(embAs), col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"))
    val c = tagged(corpus, "vec_id", "embedding")
    val q = tagged(queries, "query_id", "q_emb")
    val cand = q.join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("q_emb"), col("embedding"))
      .dropDuplicates("query_id", "vec_id")
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_emb"), col("embedding"))).as("cosine"))
    heapTopK(cand, k)
  }
}
