package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VectorFns}

/** Trained model-based filtering — the classifier step of a curation pipeline
  * (CCNet / fastText-style language-and-quality routing; the reference has no
  * model layer at all, so this is part of the training-data extension the
  * brief demands). Both models here are deliberately CLOSED-FORM: training is
  * one aggregation pass (no iterative fit, no driver-side optimizer state),
  * so the whole train+score graph is a single Catalyst plan that scales like
  * any other agg+join — and is exactly reproducible in the DuckDB oracle,
  * which an SGD fit would not be.
  *
  * Scale shapes (both):
  *  - the trained MODEL is class-bounded (|vocab|·|classes| rows for NB,
  *    |classes| centroid rows), never corpus-sized → it rides broadcast
  *    joins; the corpus-scale stream pays one equi-join (NB) or one
  *    broadcast nested-loop over |classes| rows (centroid).
  *  - scoring is a hash aggregation keyed on (doc, class) — partial
  *    aggregation applies, and the per-item argmax is bounded by |classes|
  *    candidate rows (a constant-width window for NB, a one-row-per-vec
  *    ArgMaxAgg for the centroid form): no skew surface anywhere.
  */
object Classify {

  /** Multinomial Naive Bayes with add-one smoothing, self-trained on a label
    * column and self-scored (the in-corpus evaluation shape;
    * [[naiveBayesTransfer]] is the frozen-model train/apply split).
    *
    * P(class | doc) ∝ log P(class) + Σ_tokens log((c_ct + 1) / (c_c + |V|)).
    * Every (term, class) pair gets a DENSE model row (vocab × classes,
    * smoothed zeros included), so scoring is ONE equi-join on the term —
    * missing-term smoothing never needs a second pass.
    *
    * Output: (doc_id, lang, pred_lang, nb_score, correct), one row per doc
    * that has ≥1 token. Scores rounded to 6 before the argmax so the
    * prediction is stable across summation orders and engines; ties break to
    * the lexicographically smallest class.
    *
    * Like [[Curation.lmScore]], the corpus tokenizes twice (model pass +
    * scoring pass) — both scans are map-side-partial aggregations, and
    * caching the token stream at 100 TB would cost more than the re-scan. */
  def naiveBayesSelf(docs: DataFrame, labelCol: String = "lang"): DataFrame = {
    val toks = nbTokens(docs, labelCol)
    val (model, priors) = nbModel(docs, toks, labelCol)
    nbPredict(toks, model, priors)
  }

  /** The train/apply split: fit on `train`, score `test` (held-out or newly
    * crawled docs — the shape a production quality/language router runs).
    * Test-corpus terms outside the trained vocabulary are DROPPED by the
    * scoring join (standard multinomial-NB OOV handling), so a test doc with
    * no in-vocabulary token yields no row. Output schema = [[naiveBayesSelf]]
    * (`correct` evaluates the frozen model's held-out accuracy). */
  def naiveBayesTransfer(train: DataFrame, test: DataFrame,
                         labelCol: String = "lang"): DataFrame = {
    val (model, priors) = nbModel(train, nbTokens(train, labelCol), labelCol)
    nbPredict(nbTokens(test, labelCol), model, priors)
  }

  /** (doc_id, true label, term) token stream — the shared tokenize kernel. */
  private def nbTokens(docs: DataFrame, labelCol: String): DataFrame = docs
    .select(col("doc_id"), col(labelCol).as("lang"),
      explode(TextFns.tokens(col("text"))).as("term"))
    .filter(length(col("term")) > 0)

  /** Closed-form NB fit: dense smoothed per-term model (vocab × classes —
    * every (term, class) row exists, zeros included, so scoring never needs
    * a second smoothing pass) + per-class log priors from DOCUMENT counts. */
  private def nbModel(docs: DataFrame, toks: DataFrame,
                      labelCol: String): (DataFrame, DataFrame) = {
    // class-conditional counts: |vocab|·|classes| upper bound, vocab-sized.
    // CHECKPOINT once (the KN-family one-scan discipline): the class
    // totals, the vocab distinct, the vocab size AND the dense model join
    // are four references — an unmaterialized plan re-ran the corpus
    // explode+aggregate per reference.
    val classTerm = toks.groupBy(col("lang").as("cand"), col("term"))
      .agg(count(lit(1)).as("c_ct"))
      .localCheckpoint(true)
    val classTotals = classTerm.groupBy("cand").agg(sum(col("c_ct")).as("c_c"))
    val vocab = classTerm.select("term").distinct()
    val vocabSize = vocab.agg(count(lit(1)).cast("double").as("vsz"))

    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // |classes| rows; checkpointed because the model assembly and the
    // prediction argmax both read it, and its lineage is a corpus count
    val priors = docs.groupBy(col(labelCol).as("cand"))
      .agg(count(lit(1)).cast("double").as("c_docs"))
      .crossJoin(nDocs)
      .select(col("cand"), log(col("c_docs") / col("n_docs")).as("logprior"))
      .localCheckpoint(true)

    val model = vocab.crossJoin(priors.select("cand"))
      .join(classTerm, Seq("term", "cand"), "left")
      .join(classTotals, "cand")
      .crossJoin(vocabSize)
      .select(col("term"), col("cand"),
        log((coalesce(col("c_ct"), lit(0L)).cast("double") + 1d) /
          (col("c_c").cast("double") + col("vsz"))).as("logp"))
    (model, priors)
  }

  private def nbScores(toks: DataFrame, model: DataFrame,
                       priors: DataFrame): DataFrame =
    // scoring: one corpus-stream equi-join on term; (doc, cand) hash agg.
    // The true label rides the grouping key — functionally dependent on
    // doc_id, so it adds nothing to the key's cardinality but saves a
    // corpus-sized re-join to recover it (the bm25TopKBatch `dl` trick)
    toks
      .join(model, "term")
      .groupBy(col("doc_id"), col("lang"), col("cand"))
      .agg(sum(col("logp")).as("loglik"))
      .join(priors, "cand")
      .select(col("doc_id"), col("lang"), col("cand"),
        round(col("loglik") + col("logprior"), 6).as("nb_score"))

  /** The full per-class score frame `(doc_id, lang, cand, nb_score)` —
    * [[naiveBayesSelf]] before the argmax, for consumers that need every
    * class's score (calibration, top-2 margins, abstention thresholds). */
  def naiveBayesScoresSelf(docs: DataFrame, labelCol: String = "lang"): DataFrame = {
    val toks = nbTokens(docs, labelCol)
    val (model, priors) = nbModel(docs, toks, labelCol)
    nbScores(toks, model, priors)
  }

  private def nbPredict(toks: DataFrame, model: DataFrame,
                        priors: DataFrame): DataFrame = {
    val scored = nbScores(toks, model, priors)

    // per-doc argmax as a window, not ArgMaxAgg: the tie-break is ASCENDING
    // on a string class while the score is descending — and the window key
    // holds ≤|classes| rows, so the per-key sort is constant-bounded (no
    // skew surface; the aggregation form's shuffle saving is |classes|x,
    // also a constant)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("nb_score").desc, col("cand").asc)
    scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang"), col("cand").as("pred_lang"),
        col("nb_score"), (col("cand") === col("lang")).as("correct"))
  }

  /** k-NN majority-vote self-classification over an embedding column — the
    * instance-based family (label propagation / weak supervision: push known
    * labels onto neighbors), completing the parametric ([[naiveBayesSelf]])
    * and prototype ([[centroidClassify]]) classifiers. Each vector's k exact
    * nearest neighbors (self excluded) vote with their labels; the majority
    * wins, ties break (votes DESC, closest-neighbor rank ASC, label ASC) —
    * fully deterministic, so the whole output hash-oracles.
    *
    * Built on [[Similarity.bruteForceTopK]]'s heap-bounded top-k (each map
    * task ships ≤k candidates per query); the vote aggregation and argmax
    * add only (n·k)-row work. At 100 TB swap the exact top-k for the IVF
    * probe — the vote layer is neighbor-source-agnostic.
    *
    * Output: (vec_id, label, pred_label, votes, correct). NOTE: on the
    * testdata fixture self-kNN accuracy sits at chance — individual vectors
    * are near-orthogonal (max pairwise cosine 0.48); class structure lives in
    * the MEANS, which is exactly what [[centroidClassify]]'s 0.37-vs-0.10
    * gate shows. ClassifySpec proves the semantics on planted clusters.
    * `queries` restricts WHICH vectors get classified (neighbors still come
    * from the full labeled corpus) — the shape of a production scorer
    * labeling a new batch against the reference set, and of a sampled
    * agreement gate. */
  def knnClassify(embeddings: DataFrame, k: Int = 5,
                  queries: Option[DataFrame] = None): DataFrame =
    voteOnNeighbors(
      Similarity.bruteForceTopK(embeddings, queries.getOrElse(embeddings), k),
      embeddings.select(col("vec_id"), col("label")))

  /** [[knnClassify]]'s scale twin: neighbors come from the trained IVF probe
    * instead of the exact all-pairs scan — per-query work drops from |corpus|
    * to the nprobe-cell candidate set, the vote layer is unchanged. Rows-only
    * under the oracle (trained cells); agreement with the exact form is the
    * measured quality gate (ClassifySpec).
    *
    * Batch-kNN shape, NOT the serving shape `ivfTopK` wires: the query set
    * here IS the corpus, so the probe side must never broadcast
    * (corpus × nprobe rows through the driver) — probes shuffle on `cell`
    * against the assignment (`broadcastProbes = false`, the exact case its
    * scaladoc prescribes), and the centroid fit is the ONE-collect sampled
    * form rather than `1 + iters` full-corpus jobs (identical centroids
    * whenever the corpus fits the sample cap, as on every fixture). */
  def knnClassifyIvf(embeddings: DataFrame, k: Int = 5,
                     nlist: Int = 8, nprobe: Int = 5,
                     queries: Option[DataFrame] = None): DataFrame = {
    val cents = Similarity.trainCentroidsSampled(embeddings, nlist)
    val nn = Similarity.ivfProbeAssigned(
      Similarity.ivfAssignments(embeddings, cents), cents,
      queries.getOrElse(embeddings), k, nprobe,
      broadcastProbes = false)
    voteOnNeighbors(nn, embeddings.select(col("vec_id"), col("label")))
  }

  /** Hard-negative mining for contrastive training — the embedding-side
    * training-data op (DPR, Karpukhin et al. 2020; triplet mining, Schroff et
    * al. 2015): for each anchor vector, the k highest-cosine vectors carrying
    * a DIFFERENT label. In-batch random negatives are mostly easy; the
    * close-but-wrong-label ones are what InfoNCE/triplet losses need, and
    * mining them is a corpus-scale join problem — this engine's job.
    * Returns (query_id, vec_id, cosine, rank), rank 1 = hardest.
    *
    * Exact all-pairs form (anchor side BROADCASTS — the `bruteForceTopK`
    * contract): the recall oracle for [[hardNegativesIvf]], the 100 TB path.
    * `queries` is deliberately non-defaulted: the anchor side is broadcast,
    * so it must be a BOUNDED set the caller chose — a `queries = None`
    * default would let a corpus-sized `embeddings` table silently become the
    * broadcast side. Passing `None` mines every vector as an anchor (the
    * small-fixture / oracle-twin use) and additionally requires
    * `exactOracleOk = true`, so an explicit `None` on a corpus-sized table
    * cannot silently broadcast the corpus either: the flag is the caller's
    * written acknowledgement that `embeddings` itself is small enough to
    * broadcast.
    * Negatives always come from the full labeled corpus. */
  def hardNegatives(embeddings: DataFrame, k: Int = 5,
                    queries: Option[DataFrame],
                    exactOracleOk: Boolean = false): DataFrame = {
    import graft.functions.VectorFns
    require(queries.nonEmpty || exactOracleOk,
      "hardNegatives(queries = None) broadcasts the ENTIRE embeddings table " +
        "as the anchor side — pass a bounded anchor set, or opt in with " +
        "exactOracleOk = true for a fixture-/oracle-scale corpus " +
        "(the 100 TB path is hardNegativesIvf)")
    val q = queries.getOrElse(embeddings)
      .select(col("vec_id").as("query_id"), col("label").as("__q_label"),
        VectorFns.toDoubleArray(col("embedding")).as("q_emb"))
    val c = Similarity.fanOut(
      embeddings.select(col("vec_id"), col("label").as("__n_label"),
        VectorFns.toDoubleArray(col("embedding")).as("emb")), "vec_id")
    val scored = broadcast(q).join(c,
        col("query_id") =!= col("vec_id") && col("__q_label") =!= col("__n_label"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_emb"), col("emb"))).as("cosine"))
    Similarity.heapTopK(scored, k)
  }

  /** [[hardNegatives]]' scale twin: candidates come from the IVF probe's
    * nprobe cells instead of the all-pairs scan (label filter applied BEFORE
    * the heap, so the k kept are genuinely wrong-label). Batch-kNN shape like
    * [[knnClassifyIvf]]: probes shuffle on cell (never broadcast a
    * corpus-sized anchor set), sampled one-collect centroid fit. Recall vs
    * the exact form is the driver-gated quality bound. */
  def hardNegativesIvf(embeddings: DataFrame, k: Int = 5,
                       nlist: Int = 8, nprobe: Int = 5,
                       queries: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorFns
    val cents = Similarity.trainCentroidsSampled(embeddings, nlist)
    val assigned = Similarity.ivfAssignments(embeddings, cents)
      .join(embeddings.select(col("vec_id"), col("label").as("__n_label")), "vec_id")
    val probed = queries.getOrElse(embeddings)
      .select(col("vec_id").as("query_id"), col("label").as("__q_label"),
        VectorFns.toDoubleArray(col("embedding")).as("q_emb"))
      .withColumn("cell", explode(Similarity.nearestCells(col("q_emb"), cents, nprobe)))
    val cand = probed.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id") && col("__q_label") =!= col("__n_label"))
      .select(col("query_id"), col("vec_id"),
        VectorFns.simKey(VectorFns.dot(col("q_emb"), col("emb"))).as("cosine"))
    Similarity.heapTopK(cand, k)
  }

  /** Majority vote over a (query_id, vec_id, rank) neighbor list — the
    * neighbor-source-agnostic half of k-NN classification. */
  private def voteOnNeighbors(nn: DataFrame, labels: DataFrame): DataFrame = {
    val votes = nn
      .join(labels.select(col("vec_id"), col("label").as("n_label")), "vec_id")
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"), min(col("rank")).as("best_rank"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("best_rank").asc, col("n_label").asc)
    votes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id").as("vec_id"), col("n_label").as("pred_label"),
        col("votes"))
      .join(labels, "vec_id")
      .select(col("vec_id"), col("label"), col("pred_label"), col("votes"),
        (col("pred_label") === col("label")).as("correct"))
  }

  /** Nearest-class-centroid classifier over an embedding column (Rocchio /
    * nearest-class-mean): train = ONE per-(class, dim) average, score = cosine
    * to each of the |classes| centroids, predict the closest. The linear
    * classifier an embedding-quality router actually runs when a full k-NN is
    * too expensive — and the sanity check for embedding spaces (class means
    * should separate; accuracy here gates that).
    *
    * Centroids are |classes|·dim values — broadcast by construction; the
    * corpus side is a map-only broadcast nested-loop over |classes| rows, then
    * a bounded per-vec argmax. Cosine (not dot): centroids of unit vectors are
    * NOT unit themselves, so the norm division matters.
    *
    * Output: (vec_id, label, pred_label, centroid_cos, correct). Cosine
    * rounded to 6 before the argmax; ties break to the smallest label. */
  def centroidClassify(embeddings: DataFrame): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), col("label"),
      VectorFns.toDoubleArray(col("embedding")).as("v"))

    // per-class mean vector: (class, dim) hash agg, reassembled in dim order
    val centroids = vecs
      .select(col("label").as("cand"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cand", "dim").agg(avg(col("x")).as("m"))
      .groupBy("cand")
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("cand"), transform(col("pairs"), p => p.getField("m")).as("c"))

    // per-vec argmax via the native hash-aggregatable ArgMaxAgg (not a
    // window): partial aggregation reduces the |classes|-per-vec candidate
    // rows map-side, so the exchange carries one row per vec, and nothing
    // sorts. ord = (cos, -label): greatest-struct semantics give the highest
    // cosine with ties to the SMALLEST label (int negates cleanly — the NB
    // twin's string class can't, so it keeps the window form)
    val cos = round(VectorFns.cosine(col("v"), col("c")), 6)
    vecs
      .join(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("cand"), cos.as("centroid_cos"))
      .groupBy("vec_id")
      .agg(graft.functions.ArgMaxAgg.argMax(
        struct(col("centroid_cos"), -col("cand")),
        struct(col("label"), col("cand"), col("centroid_cos"))).as("best"))
      .select(col("vec_id"), col("best.label").as("label"),
        col("best.cand").as("pred_label"),
        col("best.centroid_cos").as("centroid_cos"),
        (col("best.cand") === col("best.label")).as("correct"))
  }

  /** Calibration (reliability-diagram) bins over a per-class score frame
    * ([[naiveBayesScoresSelf]]'s shape): per doc, softmax the class scores
    * (max-subtracted — log-likelihoods are far too negative for a naive exp),
    * take the winning class's confidence, and bin confidences into `bins`
    * equal-width buckets with per-bin mean confidence and accuracy — the
    * table a curation team reads before trusting a classifier's scores as
    * gates (ECE = Σ n/N·|avg_conf − accuracy| falls out of it).
    *
    * Determinism: the confidence quantizes to integer MICRO-UNITS right after
    * the softmax, so binning is pure integer arithmetic and the per-bin means
    * are single divisions of exact integer sums — no float accumulation
    * order can move a doc across bins or a mean across a rounding boundary.
    * Scale shape: the windows run over ≤|classes|-row doc partitions; the
    * only corpus-sized exchange is the bin aggregate (map-side combined). */
  def calibrationBins(scores: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val byDoc = Window.partitionBy("doc_id")
    val top = scores
      .withColumn("__e", exp(col("nb_score") - max(col("nb_score")).over(byDoc)))
      .withColumn("__z", sum(col("__e")).over(byDoc))
      .withColumn("__rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("nb_score").desc, col("cand").asc)))
      .filter(col("__rn") === 1)
      .select((col("cand") === col("lang")).as("correct"),
        round(col("__e") / col("__z") * 1000000).cast("long").as("__cm"))
    top
      .select(col("correct"), col("__cm"),
        least(expr(s"CAST((__cm * $bins) DIV 1000000 AS INT)"), lit(bins - 1)).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("correct").cast("long")).as("__nc"),
        sum(col("__cm")).as("__sc"))
      .select(col("bin"), col("n"),
        round(col("__sc").cast("double") / (col("n") * 1000000.0), 6).as("avg_conf"),
        round(col("__nc").cast("double") / col("n"), 6).as("accuracy"))
  }

  /** Per-class precision / recall / F1 + support over (label, prediction)
    * pairs — the evaluation table every model-based curation filter ships
    * with before it gates a corpus. Classes with no predictions score
    * precision 0 (the sklearn zero-division convention); F1 derives from the
    * 6-rounded precision/recall so the table is bit-reproducible across
    * engines.
    *
    * Scale shape: ONE (label, pred) count aggregate reduces the scored corpus
    * to ≤ classes² rows; every later step (per-class totals, the metric
    * arithmetic) runs on that classes²-bounded frame. */
  def classificationMetrics(scored: DataFrame, labelCol: String = "lang",
                            predCol: String = "pred_lang"): DataFrame = {
    val conf = scored.groupBy(col(labelCol).as("clazz"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))
    val byTrue = conf.groupBy("clazz").agg(sum(col("n")).as("support"))
    val byPred = conf.groupBy(col("pred").as("clazz")).agg(sum(col("n")).as("n_pred"))
    val tp = conf.filter(col("clazz") === col("pred"))
      .select(col("clazz"), col("n").as("tp"))
    byTrue
      .join(byPred, Seq("clazz"), "left")
      .join(tp, Seq("clazz"), "left")
      .select(col("clazz"), col("support"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("clazz"), col("support"), col("n_pred"), col("tp"),
        when(col("n_pred") > 0,
          round(col("tp").cast("double") / col("n_pred"), 6)).otherwise(0.0)
          .as("precision"),
        round(col("tp").cast("double") / col("support"), 6).as("recall"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          round(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall")), 6)).otherwise(0.0))
  }
}
