package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Search}

/** Search/retrieval layer + corpus-governance operators (decontamination,
  * domain cap, mixture sampling, incremental dedup). */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "spark join hash join merge join", "web", 31L),
    (2L, "vector vector vector search index", "web", 33L),
    (3L, "stream stream processing with state", "web", 35L),
    (4L, "the quick brown fox jumps over dogs", "books", 35L),
    (5L, "join the stream of vector data now", "books", 34L),
    (6L, "unrelated words entirely here today", "books", 34L)
  ).toDF("doc_id", "text", "source", "n_chars")

  // ---- BM25 -----------------------------------------------------------------

  test("bm25: docs with more query-term mass rank higher; zero-hit docs absent") {
    val r = rowList(Search.bm25TopK(docs, Seq("vector", "join"), k = 10))
    val ids = r.map(_.head.asInstanceOf[Long])
    // docs 3, 4, 6 contain neither term -> filtered out
    assert(ids.toSet === Set(1L, 2L, 5L), s"unexpected result ids: $ids")
  }

  test("bm25: scores ordered descending with doc_id tie-break, all positive") {
    val r = rowList(Search.bm25TopK(docs, Seq("vector", "join", "stream"), k = 10))
    val scores = r.map(_(1).asInstanceOf[Double])
    assert(scores === scores.sorted.reverse, "not sorted by score desc")
    assert(scores.forall(_ > 0))
    // term-frequency saturation: doc 2 (3x vector) must beat doc 5 (1x of each
    // term? no - doc 5 has all three terms, so it wins on coverage)
    val ids = r.map(_.head.asInstanceOf[Long])
    assert(ids.head === 5L, s"doc 5 covers all 3 terms, must rank first; got $ids")
  }

  test("hybrid RRF: both-channel docs outrank single-channel docs at equal ranks") {
    // embeddings aligned with doc ids: doc 2 is the vector-channel winner
    // (identical to the query vec modulo id), doc 6 is lexically absent but
    // vector-near, docs 1/3/5 are lexical-only (orthogonal vectors)
    val qv = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val emb = Seq(
      (1L, Array(0f, 1f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(0f, 0f, 0f, 1f)),
      (5L, Array(0f, 0.6f, 0.8f, 0f)), (6L, Array(0.9f, 0f, 0.1f, 0f))
    ).toDF("vec_id", "embedding").unionAll(qv)
    val r = rowList(Search.hybridTopK(docs, emb,
      Seq("vector", "join", "stream"), qv, k = 5, kRetrieval = 5))
    val ids = r.map(_.head.asInstanceOf[Long])
    // doc 2: lexical hit AND top vector hit -> two 1/(60+r) contributions;
    // every other doc scores in at most one channel, so doc 2 must lead
    assert(ids.head === 2L, s"two-channel doc must fuse to the top; got $ids")
    // doc 6 has no query term but is vector-near: present via the vector channel
    assert(ids.contains(6L), s"vector-only doc missing from fusion: $ids")
    // rrf scores are descending and deterministic
    val scores = r.map(_(1).asInstanceOf[Double])
    assert(scores === scores.sorted.reverse)
    // channel ranks surface for interpretability: doc 2 carries both ranks
    val d2 = r.find(_.head == 2L).get
    assert(d2(2) != null && d2(3) != null, s"doc 2 must carry lex AND vec ranks: $d2")
  }

  test("hybrid RRF: multi-vector query yields one row per doc (best rank across vectors)") {
    // two query vectors pointing at different docs: the vec channel must
    // contribute each doc's BEST rank, never duplicate doc_id rows in the
    // fusion output (the single-query contract in the scaladoc)
    val qv = Seq((100L, Array(1f, 0f, 0f, 0f)), (101L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val emb = Seq(
      (1L, Array(0f, 1f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (5L, Array(0f, 0.6f, 0.8f, 0f))
    ).toDF("vec_id", "embedding").unionAll(qv)
    val r = rowList(Search.hybridTopK(docs, emb,
      Seq("vector", "join"), qv, k = 10, kRetrieval = 10))
    val ids = r.map(_.head.asInstanceOf[Long])
    assert(ids.distinct.size === ids.size, s"duplicate doc_id rows after fusion: $ids")
    // doc 2 is rank 1 for qv 100; doc 1 is rank 1 for qv 101 — both must carry
    // vec_rank 1 (min across the two query vectors), not a mixed-in rank 2+
    val vecRank = r.filter(row => row.head == 1L || row.head == 2L)
      .map(row => row.head -> row(3)).toMap
    assert(vecRank.values.forall(_ == 1L), s"best-rank aggregation broken: $vecRank")
  }

  test("hybrid RRF batch: per-query fusion equals independent single-query calls") {
    // two logical queries: q1 single-vector, q2 multi-vector (best-rank) —
    // every rank keyed on query_id, so the batch must reproduce each
    // single-query fusion row-for-row with no cross-query mixing
    val qv1 = Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val qv2 = Seq((101L, Array(0f, 1f, 0f, 0f)), (102L, Array(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val emb = Seq(
      (1L, Array(0f, 1f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f)), (4L, Array(0f, 0f, 0f, 1f)),
      (5L, Array(0f, 0.6f, 0.8f, 0f)), (6L, Array(0.9f, 0f, 0.1f, 0f))
    ).toDF("vec_id", "embedding").unionAll(qv1).unionAll(qv2)
    val queries = Seq((1L, "vector join stream"), (2L, "quick brown fox"))
      .toDF("query_id", "qtext")
    val qvAll = qv1.withColumn("query_id", lit(1L))
      .unionAll(qv2.withColumn("query_id", lit(2L)))
    val batch = rowList(Search.hybridTopKBatch(docs, emb, queries, qvAll,
      k = 5, kRetrieval = 5)
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id")))
    val s1 = rowList(Search.hybridTopK(docs, emb, Seq("vector", "join", "stream"),
      qv1, k = 5, kRetrieval = 5))
    val s2 = rowList(Search.hybridTopK(docs, emb, Seq("quick", "brown", "fox"),
      qv2, k = 5, kRetrieval = 5))
    val expected = s1.map(1L +: _) ++ s2.map(2L +: _)
    assert(batch === expected, s"batch fusion diverged:\n$batch\nvs\n$expected")
  }

  // ---- weighted sampling ----------------------------------------------------

  test("weightedSample: deterministic, weight-monotone, positive weights only") {
    val docs = Seq(
      (1L, "alpha beta gamma", 10L), (2L, "alpha beta gamma", 1L),
      (3L, "delta epsilon zeta", 0L), (4L, "zeta eta theta", -5L)
    ).toDF("doc_id", "text", "n_chars")
    val r = rowList(Curation.weightedSample(docs, k = 10))
      .map(row => (row(0).asInstanceOf[Long], row(2).asInstanceOf[Double]))
    assert(r.map(_._1).toSet === Set(1L, 2L), s"non-positive weights must drop: $r")
    // identical content -> same u; the 10x weight pulls ln(u)/w toward 0, so
    // doc 1 must outrank doc 2 (the Efraimidis-Spirakis monotonicity)
    assert(r.head._1 === 1L && r.head._2 > r.last._2, s"weight monotonicity broken: $r")
    val again = rowList(Curation.weightedSample(docs, k = 10))
      .map(row => (row(0).asInstanceOf[Long], row(2).asInstanceOf[Double]))
    assert(again === r, "sample must be deterministic across runs")
  }

  test("weightedSample overrepresents heavy docs") {
    val fixture = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpusMean = fixture.agg(avg(col("n_chars"))).head().getDouble(0)
    val sampleMean = Curation.weightedSample(fixture, k = 100)
      .agg(avg(col("weight"))).head().getDouble(0)
    info(f"corpus mean n_chars = $corpusMean%.1f, ES-sample mean = $sampleMean%.1f")
    assert(sampleMean > corpusMean,
      f"length-weighted sample must skew long: $sampleMean%.1f <= $corpusMean%.1f")
  }

  // ---- PMI collocations -----------------------------------------------------

  test("cooccurrencePmi: hand-computed scores, deterministic tie-break, minCount floor") {
    val corpus = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "alpha beta"),
      (4L, "alpha gamma"), (5L, "delta beta")
    ).toDF("doc_id", "text")
    // N=10; c(alpha)=4, c(beta)=4, c(gamma)=1, c(delta)=1
    // PMI(alpha,beta)=ln(3*10/16)=0.628609; PMI(alpha,gamma)=PMI(delta,beta)=ln(10/4)=0.916291
    val r = rowList(Curation.cooccurrencePmi(corpus, minCount = 1, topN = 10))
      .map(row => (row(0).asInstanceOf[String], row(1).asInstanceOf[String],
        row(5).asInstanceOf[Double]))
    assert(r === Seq(
      ("alpha", "gamma", 0.916291), ("delta", "beta", 0.916291),
      ("alpha", "beta", 0.628609)), s"PMI table wrong: $r")
    // the hapax-pair bias above is exactly why the floor exists: at
    // minCount=2 only the 3x-observed collocation survives
    val floored = rowList(Curation.cooccurrencePmi(corpus, minCount = 2, topN = 10))
      .map(row => (row(0).asInstanceOf[String], row(1).asInstanceOf[String]))
    assert(floored === Seq(("alpha", "beta")), s"minCount floor broken: $floored")
  }

  // ---- TF-IDF ---------------------------------------------------------------

  test("tfidf weights: tf, df, and smooth idf are exact on a hand-computed fixture") {
    val r = rowList(Search.tfidfWeights(docs))
    val byKey = r.map(row => (row(0).asInstanceOf[String], row(1).asInstanceOf[Long]) ->
      ((row(2).asInstanceOf[Double], row(3).asInstanceOf[Double],
        row(4).asInstanceOf[Double]))).toMap
    // 'join': tf 3 in doc 1, df 2 (docs 1, 5), N = 6 -> w = 3 * (ln(7/3) + 1)
    val (tf, df, w) = byKey(("join", 1L))
    assert(tf === 3.0 && df === 2.0)
    assert(math.abs(w - 3.0 * (math.log(7.0 / 3.0) + 1.0)) < 1e-12, s"w was $w")
    // singleton term: df 1 -> idf = ln(7/2) + 1
    val (_, dfSpark, wSpark) = byKey(("spark", 1L))
    assert(dfSpark === 1.0)
    assert(math.abs(wSpark - (math.log(3.5) + 1.0)) < 1e-12)
  }

  test("tfidf cosine: exact duplicate scores 1.0, disjoint-vocabulary docs absent") {
    val dup = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta"), (4L, "alpha delta theta")
    ).toDF("doc_id", "text")
    val r = rowList(Search.tfidfCosineTopK(Search.tfidfWeights(dup), 1L, k = 10))
    val byId = r.map(row => row(0).asInstanceOf[Long] -> row(1).asInstanceOf[Double]).toMap
    assert(byId(2L) === 1.0, s"identical doc must score exactly 1.0: $byId")
    // doc 3 shares no term with doc 1 -> cos 0 -> filtered out entirely
    assert(!byId.contains(3L), s"disjoint doc must be absent: $byId")
    assert(!byId.contains(1L), "query doc must be excluded")
    assert(byId(2L) > byId(4L), "full duplicate must outrank partial overlap")
  }

  test("tfidf cosine: sharing a rare term outranks sharing a stop-word at equal tf") {
    // 'the' is in every doc (df 5 -> idf floor); 'xylo' only in docs 1 and 2.
    // Docs 2 and 3 have identical shape: 'the' + one extra term + one query
    // overlap candidate — doc 2 overlaps via rare 'xylo', doc 3 via 'the' only.
    val corpus = Seq(
      (1L, "the xylo query"), (2L, "the xylo pad"), (3L, "the brown pad"),
      (4L, "the green field"), (5L, "the blue field")
    ).toDF("doc_id", "text")
    val r = rowList(Search.tfidfCosineTopK(Search.tfidfWeights(corpus), 1L, k = 10))
    val ids = r.map(_.head.asInstanceOf[Long])
    assert(ids.head === 2L, s"rare-term overlap must rank first, got $ids")
  }

  test("domainKeywords: domain-specific terms outrank cross-domain vocabulary") {
    val corpus = Seq(
      (1L, "kernel scheduler kernel interrupt the", "linux"),
      (2L, "kernel driver the", "linux"),
      (3L, "sourdough starter sourdough crumb the", "baking"),
      (4L, "sourdough oven the", "baking")
    ).toDF("doc_id", "text", "source")
    val r = rowList(Search.domainKeywords(corpus, k = 3))
      .map(row => (row(0).asInstanceOf[String], row(1).asInstanceOf[String],
        row(5).asInstanceOf[Long]))
    val top = r.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    // 'the' appears in both domains (df 2 -> idf floor); the domain-exclusive
    // high-tf terms must take rank 1
    assert(top === Map("linux" -> "kernel", "baking" -> "sourdough"),
      s"rank-1 keywords wrong: $r")
    // every domain returns at most k rows, ranks contiguous from 1
    val byDomain = r.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
    assert(byDomain.values.forall(rs => rs == (1L to rs.size)), s"ranks broken: $byDomain")
  }

  test("bm25: rarer term contributes higher idf") {
    // 'quick' appears in 1 doc, 'join' in 2 -> for equal tf and dl, the
    // quick-doc's single-term score must exceed a join-doc's single-term score
    val quick = Search.bm25TopK(docs, Seq("quick"), k = 10).collect()
    val join = Search.bm25TopK(docs, Seq("join"), k = 10).collect()
    assert(quick.length === 1 && quick.head.getLong(0) === 4L)
    assert(join.map(_.getLong(0)).toSet === Set(1L, 5L))
    // doc 4 ('quick', tf=1, dl=7) vs doc 5 ('join', tf=1, dl=7): identical tf
    // and length, so the score ratio is pure idf — the rarer term must win.
    // (doc 1 has tf=3, where tf saturation may outweigh idf; excluded.)
    val joinTf1 = join.find(_.getLong(0) == 5L).get.getDouble(1)
    assert(quick.head.getDouble(1) > joinTf1,
      "idf of the rarer term must dominate at equal tf and dl")
  }

  test("bm25 batch: agrees with per-query bm25TopK row for row") {
    val qs = Seq((1L, "vector join"), (2L, "quick brown stream"), (3L, "absentterm"))
      .toDF("query_id", "qtext")
    val batch = Search.bm25TopKBatch(docs, qs, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = Seq(
      1L -> Seq("vector", "join"), 2L -> Seq("quick", "brown", "stream"),
      3L -> Seq("absentterm")).flatMap { case (qid, terms) =>
      Search.bm25TopK(docs, terms, k = 4).collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batch === single, s"batch=$batch single=$single")
    // the all-absent query contributes no rows in either form
    assert(!batch.exists(_._1 == 3L))
  }

  test("bm25 batch: duplicate and uppercase query words dedup/normalize like literals") {
    val qs = Seq((7L, "Vector VECTOR vector")).toDF("query_id", "qtext")
    val batch = Search.bm25TopKBatch(docs, qs, k = 10).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSet
    val single = Search.bm25TopK(docs, Seq("vector"), k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(batch === single)
  }

  // ---- inverted index -------------------------------------------------------

  test("inverted index: postings sorted, df counts distinct docs, minDf bounds") {
    val idx = Search.invertedIndex(docs, minDf = 2)
    val byTerm = idx.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(byTerm("join") === (2L, Seq(1L, 5L)), "join: df=2 despite tf=3 in doc 1")
    assert(byTerm("vector") === (2L, Seq(2L, 5L)))
    assert(byTerm("stream") === (2L, Seq(3L, 5L)))
    assert(!byTerm.contains("quick"), "df=1 term must be filtered by minDf=2")
  }

  test("inverted index: bounded two-phase build equals the unbounded build inside [minDf, maxDf]") {
    val unbounded = Search.invertedIndex(docs, minDf = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val bounded = Search.invertedIndex(docs, minDf = 2, maxDf = 100).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(bounded === unbounded, "maxDf above every df must change nothing")
    // tight bound excludes exactly the hot terms
    val tight = Search.invertedIndex(docs, minDf = 1, maxDf = 1).collect()
      .map(_.getLong(1)).toSet
    assert(tight === Set(1L), "maxDf=1 must keep only df=1 terms")
  }

  test("sharded index: hot terms split by pmod, shard reassembly equals the unbounded build") {
    // 8 docs sharing the token 'hot' (df=8 > maxDf=2) + the base fixture
    val hot = (101L to 108L).map(i => (i, s"hot filler$i", "web", 10L))
      .toDF("doc_id", "text", "source", "n_chars")
    val corpus = docs.union(hot)
    val sharded = Search.invertedIndexSharded(corpus, minDf = 1, maxDf = 2, shards = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getSeq[Long](3)))
    // cold terms all land in shard 0
    assert(sharded.filter(_._3 <= 2).forall(_._2 === 0))
    // the hot term spans >1 shard, each row repeats total df, and no shard
    // buffer exceeds ceil(df/shards) here (uniform ids 101..108 -> exactly 2)
    val hotRows = sharded.filter(_._1 == "hot")
    assert(hotRows.length === 4 && hotRows.forall(_._3 === 8L), s"got ${hotRows.toSeq}")
    assert(hotRows.forall(_._4.length === 2), s"got ${hotRows.toSeq}")
    assert(hotRows.forall { case (_, shard, _, ids) =>
      ids.forall(id => (id % 4) == shard) && ids == ids.sorted })
    // reassembly: union of shard postings per term == unbounded postings
    val reassembled = sharded.groupBy(_._1).map { case (term, rows) =>
      (term, rows.head._3, rows.flatMap(_._4).sorted.toSeq) }.toSet
    val unbounded = Search.invertedIndex(corpus, minDf = 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(reassembled === unbounded)
  }

  // ---- decontamination ------------------------------------------------------

  test("decontaminate: flags exactly the docs sharing an n-gram with the benchmark") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"), // shares 'alpha beta gamma' with bench
      (11L, "zeta eta theta iota kappa"),      // disjoint
      (12L, "one two")                         // too short for a 3-gram
    ).toDF("doc_id", "text")
    val bench = Seq((90L, "prefix words alpha beta gamma suffix")).toDF("doc_id", "text")
    val r = rowSet(Curation.decontaminate(corpus, bench, n = 3))
    // bench trigrams: {prefix words alpha, words alpha beta, alpha beta gamma,
    // beta gamma suffix}; doc 10 shares exactly one ('alpha beta gamma');
    // doc 12 is sub-n-token and must still appear, clean
    assert(r === Set(
      Seq(10L, 1L, true), Seq(11L, 0L, false), Seq(12L, 0L, false)), s"got $r")
  }

  test("decontaminate: clean corpus filter removes only contaminated docs") {
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "x y z w v"), (3L, "c d e f g")).toDF("doc_id", "text")
    val bench = Seq((9L, "c d e")).toDF("doc_id", "text")
    val clean = Curation.decontaminate(corpus, bench, n = 3)
      .filter(!col("contaminated")).select("doc_id")
    assert(rowSet(clean) === Set(Seq(2L)))
  }

  test("decontaminateBatch: per-(doc, bench) exact overlap counts in one corpus pass") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"), // hits bench 0 only
      (11L, "zeta eta theta iota kappa"),      // hits bench 1 only
      (12L, "alpha beta gamma zeta eta theta iota"), // hits BOTH benchmarks
      (13L, "one two three four five")         // clean -> absent from the report
    ).toDF("doc_id", "text")
    val benches = Seq(
      (0L, "prefix alpha beta gamma delta"),   // grams incl. 2 shared with doc 10/12's head
      (1L, "zeta eta theta iota tail")         // grams incl. shared with doc 11/12
    ).toDF("bench_id", "text")
    val r = rowSet(Curation.decontaminateBatch(corpus, benches, n = 3))
    // bench 0 trigrams: {prefix alpha beta, alpha beta gamma, beta gamma delta};
    //   doc 10 shares {alpha beta gamma, beta gamma delta} -> 2; doc 12 shares 1
    // bench 1 trigrams: {zeta eta theta, eta theta iota, theta iota tail};
    //   doc 11 shares 2; doc 12 shares 2
    assert(r === Set(
      Seq(10L, 0L, 2L), Seq(12L, 0L, 1L),
      Seq(11L, 1L, 2L), Seq(12L, 1L, 2L)), s"got $r")
  }

  test("decontaminateBatch with one benchmark equals decontaminate's contaminated rows") {
    val corpus = Seq(
      (1L, "a b c d e"), (2L, "x y z w v"), (3L, "c d e f g")).toDF("doc_id", "text")
    val bench = Seq((9L, "c d e")).toDF("doc_id", "text")
    val single = rowSet(Curation.decontaminateBatch(
        corpus, bench.withColumn("bench_id", lit(7L)), n = 3))
      .map(r => Seq(r(0), r(2)))
    val exact = rowSet(Curation.decontaminate(corpus, bench, n = 3))
      .collect { case Seq(id, m, true) => Seq(id, m) }
    assert(single === exact)
  }

  test("decontaminateBatchStateless equals the join form pair-for-pair") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "zeta eta theta iota kappa"),
      (12L, "alpha beta gamma zeta eta theta iota"),
      (13L, "one two three four five")
    ).toDF("doc_id", "text")
    val benches = Seq(
      (0L, "prefix alpha beta gamma delta"),
      (1L, "zeta eta theta iota tail")
    ).toDF("bench_id", "text")
    val models = Curation.benchmarkGramHashSets(benches, n = 3)
    assert(models.map(_._1) === Seq(0L, 1L))
    assert(models.forall(_._2.length === 3), "each bench has 3 distinct trigrams")
    assert(rowSet(Curation.decontaminateBatchStateless(corpus, models, n = 3)) ===
      rowSet(Curation.decontaminateBatch(corpus, benches, n = 3)))
  }

  test("decontaminateAgainstHashes (stateless form) equals the join form verdict-for-verdict") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "zeta eta theta iota kappa"),
      (12L, "one two")
    ).toDF("doc_id", "text")
    val bench = Seq((90L, "prefix words alpha beta gamma suffix")).toDF("doc_id", "text")
    val hashes = Curation.benchmarkGramHashes(bench, n = 3)
    assert(rowSet(Curation.decontaminateAgainstHashes(corpus, hashes, n = 3)) ===
      rowSet(Curation.decontaminate(corpus, bench, n = 3)))
  }

  test("decontaminateBloom: superset of the exact verdicts, FP rate within the sized bound") {
    // the fixture documents table gives a real vocabulary; bench = every 20th doc
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 20 =!= 0)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val exact = Curation.decontaminate(corpus, bench, n = 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val bloom = Curation.decontaminateBloom(corpus, bench, n = 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(exact.keySet === bloom.keySet, "row universes differ")
    // no false negatives, ever: every exact-contaminated doc must flag
    val missed = exact.collect { case (id, true) if !bloom(id) => id }
    assert(missed.isEmpty, s"Bloom missed contaminated docs: $missed")
    // false positives bounded: at 8M bits for this tiny gram set the filter
    // is effectively exact; allow a generous 5% of the clean docs regardless
    val cleanExact = exact.count(!_._2)
    val falsePos = exact.collect { case (id, false) if bloom(id) => id }.size
    assert(cleanExact == 0 || falsePos <= math.max(1, cleanExact / 20),
      s"Bloom FP rate too high: $falsePos of $cleanExact clean docs flagged")
  }

  // ---- domain cap -----------------------------------------------------------

  test("capPerDomain keeps the N longest per domain with deterministic ranks") {
    val r = rowSet(Curation.capPerDomain(docs, maxPerDomain = 2))
    // web: 3 (35) > 2 (33) > 1 (31) -> keep 3, 2; books: 4/5/6 lengths 35,34,34
    // -> keep 4 (35), then tie 34 broken by doc_id -> 5
    assert(r === Set(
      Seq(3L, "web", 35L, 1L), Seq(2L, "web", 33L, 2L),
      Seq(4L, "books", 35L, 1L), Seq(5L, "books", 34L, 2L)))
  }

  // ---- mixture sampling -----------------------------------------------------

  test("mixtureSample: weight 1 keeps all, weight 0 keeps none, deterministic") {
    val all = Curation.mixtureSample(docs, Map("web" -> 1.0, "books" -> 0.0))
    assert(rowSet(all.select("doc_id")) === Set(Seq(1L), Seq(2L), Seq(3L)))
    // pure function of content: re-running yields the identical sample
    val again = Curation.mixtureSample(docs, Map("web" -> 1.0, "books" -> 0.0))
    assert(rowSet(all) === rowSet(again))
    val none = Curation.mixtureSample(docs, Map("web" -> 0.0), defaultWeight = 0.0)
    assert(none.count() === 0L)
  }

  test("mixtureUpsample: integer epochs copy exactly, fractional epochs are hash-consistent") {
    val two = Curation.mixtureUpsample(docs, Map("web" -> 2.0, "books" -> 0.0))
    // every web doc appears exactly twice with copy ids 0 and 1
    assert(rowSet(two) === Set(
      Seq(1L, "web", 0L), Seq(1L, "web", 1L),
      Seq(2L, "web", 0L), Seq(2L, "web", 1L),
      Seq(3L, "web", 0L), Seq(3L, "web", 1L)))
    // fractional part: copies per doc is floor(w) or floor(w)+1, and the
    // same docs carry the extra epoch on every run
    val frac1 = Curation.mixtureUpsample(docs, Map("web" -> 1.5, "books" -> 1.5))
    val frac2 = Curation.mixtureUpsample(docs, Map("web" -> 1.5, "books" -> 1.5))
    assert(rowSet(frac1) === rowSet(frac2))
    val perDoc = frac1.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perDoc.size === 6 && perDoc.values.forall(c => c == 1L || c == 2L))
  }

  test("mixtureTemperature: tau=1 keeps every domain at the flat budget rate") {
    // q_d = p_d at tau=1, so rate_d = budget regardless of skew — the keep
    // set must equal mixtureSample with a uniform defaultWeight = budget
    val t = Curation.mixtureTemperature(docs, tau = 1.0, budget = 0.5)
    val flat = Curation.mixtureSample(docs, Map.empty, defaultWeight = 0.5)
    assert(rowSet(t.select("doc_id")) === rowSet(flat.select("doc_id")))
  }

  test("mixtureTemperature flattens: rare domains keep a higher fraction, totals near budget") {
    import spark.implicits._
    // 800/150/50 skew over 1000 deterministic docs; tau=2, budget=0.5
    val corpus = (1 to 1000).map { i =>
      val dom = if (i <= 800) "web" else if (i <= 950) "books" else "code"
      (i.toLong, s"document body number $i with some shared tokens", dom)
    }.toDF("doc_id", "text", "source")
    val kept = Curation.mixtureTemperature(corpus, tau = 2.0, budget = 0.5)
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected rates: p = .8/.15/.05, w = sqrt(p), z = sum(w);
    // rate_d = min(1, .5 * (w_d/z) / p_d)
    val p = Map("web" -> 0.8, "books" -> 0.15, "code" -> 0.05)
    val z = p.values.map(math.sqrt).sum
    val rate = p.map { case (d, pd) => d -> math.min(1.0, 0.5 * (math.sqrt(pd) / z) / pd) }
    val n = Map("web" -> 800.0, "books" -> 150.0, "code" -> 50.0)
    rate.foreach { case (d, r) =>
      val realized = kept.getOrElse(d, 0L) / n(d)
      assert(math.abs(realized - r) <= 0.12,
        f"$d realized $realized%.3f vs expected rate $r%.3f")
    }
    // the flattening direction itself: code keeps a strictly higher fraction
    assert(kept("code") / n("code") > kept("web") / n("web"))
    // determinism: same content, same sample
    val again = Curation.mixtureTemperature(corpus, tau = 2.0, budget = 0.5)
    assert(again.count() === kept.values.sum)
  }

  test("assignSplit: total, deterministic, and leak-proof under re-crawled duplicates") {
    val split = Curation.assignSplit(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // total: every doc gets exactly one split from the declared names
    assert(split.keySet === (1L to 6L).toSet)
    assert(split.values.toSet.subsetOf(Set("train", "val", "test")))
    // deterministic across invocations
    val again = Curation.assignSplit(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(split === again)
    // content-keyed: a re-crawled duplicate (same text, new id) lands in the
    // SAME split — the no-leakage property a random split loses
    val recrawled = docs.withColumn("doc_id", col("doc_id") + 100)
    val both = Curation.assignSplit(docs.union(recrawled)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    (1L to 6L).foreach(id => assert(both(id) === both(id + 100),
      s"duplicate of doc $id leaked across splits"))
    // fractions sum above 1 rejected
    intercept[IllegalArgumentException] {
      Curation.assignSplit(docs, Seq("a" -> 0.9, "b" -> 0.2))
    }
  }

  test("mixture thresholds round like the oracle's CAST, never truncate (0.29 -> fp < 2900)") {
    import graft.functions.TextFns
    // 0.29 * 10000 = 2899.9999999999995 in doubles: truncation would test
    // fp < 2899 while DuckDB's CAST(x AS BIGINT) — the oracle form — rounds
    val expected = docs
      .select($"doc_id", pmod(TextFns.fingerprint($"text"), lit(10000L)).as("fp"))
      .filter($"fp" < 2900).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val sampled = Curation.mixtureSample(docs, Map.empty, defaultWeight = 0.29)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled === expected)
    // upsample's fractional epoch obeys the same boundary: weight 1.29 gives
    // 1 full copy everywhere + the fractional copy on exactly the same docs
    val up = Curation.mixtureUpsample(docs, Map.empty, defaultWeight = 1.29)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(up.filter(_._2 == 2L).keySet === expected)
    assert(up.values.forall(n => n == 1L || n == 2L))
  }

  test("shuffleOrder: deterministic, seed-sensitive, content-keyed") {
    def order(seed: Long): Seq[Long] =
      Curation.shuffleOrder(docs, seed).orderBy($"shuffle_key", $"doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    // deterministic across invocations
    assert(order(7L) === order(7L))
    // a new seed is a new order; neither is the identity order
    assert(order(7L) !== order(8L))
    assert(Seq(order(7L), order(8L)).exists(_ !== (1L to 6L).toSeq),
      "shuffled order should not equal insertion order for both seeds")
    // content-identical docs share a key (the documented adjacency caveat)
    val dup = docs.withColumn("doc_id", $"doc_id" + 100)
    val keys = Curation.shuffleOrder(docs.union(dup), 7L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 6L).foreach(id => assert(keys(id) === keys(id + 100)))
  }

  test("mixtureSample rejects out-of-range weights") {
    intercept[IllegalArgumentException] {
      Curation.mixtureSample(docs, Map("web" -> 1.5))
    }
  }

  // ---- token-distribution drift ---------------------------------------------

  private def corpus(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("tokenDistributionDrift: identical corpora diverge 0, disjoint diverge 1") {
    val a = corpus("a b c", "a a b")
    val same = Curation.tokenDistributionDrift(a, corpus("a b c", "a a b")).collect()
    assert(same.forall(_.getAs[Double]("js_total") === 0.0))
    assert(same.forall(_.getAs[Double]("js_contrib") === 0.0))
    val disjoint = Curation.tokenDistributionDrift(a, corpus("x y z", "x x y")).collect()
    assert(disjoint.head.getAs[Double]("js_total") === 1.0,
      "JS (log2) of disjoint distributions is exactly 1 bit")
  }

  test("tokenDistributionDrift: hand-computed contributions and symmetry") {
    // A = {a: 1/2, b: 1/2}, B = {a: 1/2, c: 1/2}: contrib(a) = 0 (same mass),
    // contrib(b) = 0.5*0.5*log2(0.5/0.25) = 0.25 = contrib(c) -> total 0.5
    val a = corpus("a b")
    val b = corpus("a c")
    val out = Curation.tokenDistributionDrift(a, b).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("js_contrib")).toMap
    assert(out === Map("a" -> 0.0, "b" -> 0.25, "c" -> 0.25))
    val ab = Curation.tokenDistributionDrift(a, b).head().getAs[Double]("js_total")
    val ba = Curation.tokenDistributionDrift(b, a).head().getAs[Double]("js_total")
    assert(ab === 0.5 && ba === 0.5, "JS divergence is symmetric")
  }

  test("tokenDistributionDrift: topN truncates by contribution with smallest-token ties") {
    val out = Curation.tokenDistributionDrift(corpus("a b"), corpus("a c"), topN = 1).collect()
    assert(out.length === 1)
    // b and c tie at 0.25; the smallest token wins the deterministic rank
    assert(out.head.getString(0) === "b")
  }

  // ---- Zipf fit -------------------------------------------------------------

  test("zipfFit: exact power-law corpus fits slope -1 with r2 = 1") {
    // counts 12/6/4/3 = K/rank for K = 12: log2(c) = log2(12) - log2(rank)
    val texts = Seq.fill(12)("t1") ++ Seq.fill(6)("t2") ++ Seq.fill(4)("t3") ++
      Seq.fill(3)("t4")
    val r = Curation.zipfFit(corpus(texts.mkString(" "))).head()
    assert(r.getLong(0) === 4L && r.getLong(1) === 25L)
    assert(r.getDouble(2) === -1.0, s"slope ${r.getDouble(2)}")
    assert(r.getDouble(3) === 1.0, s"r2 ${r.getDouble(3)}")
  }

  test("zipfFit: flat and degenerate corpora report slope 0, r2 1") {
    val flat = Curation.zipfFit(corpus("a b c")).head()
    assert(flat.getLong(0) === 3L && flat.getDouble(2) === 0.0 && flat.getDouble(3) === 1.0)
    val single = Curation.zipfFit(corpus("a a a")).head()
    assert(single.getLong(0) === 1L && single.getLong(1) === 3L)
    assert(single.getDouble(2) === 0.0 && single.getDouble(3) === 1.0)
  }

  test("zipfFit: template flood flattens the slope vs natural-ish text") {
    // natural-ish: steep head; flooded: the same types forced near-uniform
    val natural = corpus(("the " * 16) + ("of " * 8) + ("cat " * 4) + ("dog " * 2) + "zz")
    val flooded = corpus("the of cat dog zz " * 8)
    val sN = Curation.zipfFit(natural).head().getDouble(2)
    val sF = Curation.zipfFit(flooded).head().getDouble(2)
    assert(sN < -0.8, s"natural-ish slope $sN should be steep")
    assert(sF === 0.0, s"flooded slope $sF should be flat")
    assert(sF > sN + 0.5, "flooding must flatten the slope materially")
  }

  // ---- LM quality score -----------------------------------------------------

  test("lmScore: hand-computed bigram log-probabilities, sub-2-token docs absent") {
    val corpus = Seq(
      (1L, "a b a b"), // bigrams: "a b","b a","a b"
      (2L, "a b c"),   // bigrams: "a b","b c"
      (3L, "solo")     // no bigrams -> absent
    ).toDF("doc_id", "text")
    // counts: C(a b)=3, C(b a)=1, C(b c)=1; prefixes: C(a .)=3, C(b .)=2
    // doc1: avg(ln(3/3), ln(1/2), ln(3/3)) = ln(.5)/3; doc2: avg(0, ln(1/2)) = ln(.5)/2
    val r = rowSet(Curation.lmScore(corpus))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r === Set(
      Seq(1L, 3L, r6(math.log(0.5) / 3)),
      Seq(2L, 2L, r6(math.log(0.5) / 2))), s"got $r")
  }

  test("lmScore ranks corpus-typical text above token soup") {
    val template = (1L to 8L).map(i => (i, "the quick brown fox jumps over the fence"))
    val soup = Seq((99L, "fence brown the over quick jumps fox the"))
    val r = Curation.lmScore((template ++ soup).toDF("doc_id", "text")).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(1L) > r(99L), s"templated doc must outscore shuffled soup: $r")
  }

  test("lmScoreKneserNey: hand-computed interpolated-KN probabilities") {
    val corpus = Seq(
      (1L, "a b a b"), // bigrams: "a b","b a","a b"
      (2L, "a b c"),   // bigrams: "a b","b c"
      (3L, "solo")     // no bigrams -> absent
    ).toDF("doc_id", "text")
    // counts: C(a b)=3, C(b a)=1, C(b c)=1; c(a.)=3 n1p(a.)=1; c(b.)=2
    // n1p(b.)=2; continuation types: n1p(.b)=n1p(.a)=n1p(.c)=1 of 3 total.
    // P(b|a) = (3-.75)/3 + .75*1/3*(1/3) = 5/6
    // P(a|b) = P(c|b) = (1-.75)/2 + .75*2/2*(1/3) = 3/8
    val pAB = (3 - 0.75) / 3 + 0.75 * 1 / 3.0 * (1 / 3.0)
    val pBA = (1 - 0.75) / 2 + 0.75 * 2 / 2.0 * (1 / 3.0)
    assert(math.abs(pAB - 5.0 / 6) < 1e-12 && math.abs(pBA - 0.375) < 1e-12)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = rowSet(Curation.lmScoreKneserNey(corpus))
    assert(r === Set(
      Seq(1L, 3L, r6((2 * math.log(pAB) + math.log(pBA)) / 3)),
      Seq(2L, 2L, r6((math.log(pAB) + math.log(pBA)) / 2))), s"got $r")
  }

  test("lmScoreKneserNey: per-context probability mass stays under 1 (proper discounting)") {
    // one doc per bigram OCCURRENCE, so exp(kn_score) of each doc IS that
    // bigram's P_kn — summing exp over the distinct bigrams of a context
    // recovers the context's observed probability mass, which interpolated
    // KN must keep at or under 1 (the discount withheld for unseen pairs)
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"),
      (4L, "b a"), (5L, "b c")).toDF("doc_id", "text")
    for (d <- Seq(0.25, 0.75)) {
      val scored = Curation.lmScoreKneserNey(corpus, d).collect()
        .map(r => r.getLong(0) -> math.exp(r.getDouble(2))).toMap
      val massA = scored(1L) // distinct bigrams of context a: just "a b"
      val massB = scored(4L) + scored(5L)
      assert(massA <= 1 + 1e-9 && massB <= 1 + 1e-9,
        s"D=$d: context masses a=$massA b=$massB must stay <= 1")
      // the discount is withheld, not lost: mass strictly below 1 where a
      // context has unseen continuations (both do here)
      assert(massA < 1 && massB < 1)
    }
    // ranking parity with the MLE form on the template-vs-soup fixture
    val template = (1L to 8L).map(i => (i, "the quick brown fox jumps over the fence"))
    val soup = Seq((99L, "fence brown the over quick jumps fox the"))
    val kn = Curation.lmScoreKneserNey((template ++ soup).toDF("doc_id", "text"))
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(kn(1L) > kn(99L), s"templated doc must outscore shuffled soup: $kn")
    intercept[IllegalArgumentException] { Curation.lmScoreKneserNey(docs, 1.0) }
  }

  test("lmScoreKneserNeyTransfer: all four backoff cases hand-computed") {
    // frozen model from the KN hand fixture: C(a b)=3, C(b a)=1, C(b c)=1;
    // c(a.)=3 n1p(a.)=1; c(b.)=2 n1p(b.)=2; pcont(a)=pcont(b)=pcont(c)=1/3;
    // unseen w2 -> pcont = 1/3 (one pseudo-type over n_types=3)
    val train = Seq((2L, "a b a b"), (4L, "a b c")).toDF("doc_id", "text")
    val sc = Seq(
      (1L, "a b"), // seen bigram:        P = 5/6
      (3L, "a c"), // unseen, w1 seen:    P = 0.75*1/3 * 1/3 = 1/12
      (5L, "z b"), // unseen w1:          P = pcont(b) = 1/3
      (7L, "b z")  // unseen w2, w1 seen: P = 0.75*2/2 * 1/3 = 1/4
    ).toDF("doc_id", "text")
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = rowSet(Curation.lmScoreKneserNeyTransfer(train, sc))
    assert(r === Set(
      Seq(1L, 1L, 0L, r6(math.log(5.0 / 6))),
      Seq(3L, 1L, 1L, r6(math.log(1.0 / 12))),
      Seq(5L, 1L, 1L, r6(math.log(1.0 / 3))),
      Seq(7L, 1L, 1L, r6(math.log(0.25)))), s"got $r")
    // in-domain text outscores out-of-domain under the frozen model
    val inD = Curation.lmScoreKneserNeyTransfer(train,
      Seq((11L, "a b c"), (13L, "x y z")).toDF("doc_id", "text"))
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(inD(11L) > inD(13L), s"in-domain must outscore OOV soup: $inD")
  }

  test("perplexityBuckets: head/middle/tail by score tertile, tie-grouped") {
    // three groups of identical docs -> three identical-score plateaus;
    // interpolated tertile thresholds land STRICTLY between plateaus, so
    // each group maps to exactly one bucket, best score = bucket 1 (head)
    val corpus = (
      (1L to 3L).map(i => (i, "the quick brown fox jumps over the fence")) ++
      (4L to 6L).map(i => (i, "the quick brown fox sees another brown fox")) ++
      (7L to 9L).map(i => (i, "fence brown the over quick jumps fox the"))
    ).toDF("doc_id", "text")
    val r = Curation.perplexityBuckets(corpus).collect()
      .map(x => (x.getLong(0), x.getDouble(2), x.getLong(3)))
    assert(r.map(_._3).toSet.subsetOf(Set(1L, 2L, 3L)))
    (1L to 3L).foreach(b => assert(r.count(_._3 == b) == 3,
      s"each tertile must hold one 3-doc plateau: ${r.toSeq}"))
    // bucket assignment must be monotone in score: better score, never a
    // worse (higher) bucket
    for ((_, sa, ba) <- r; (_, sb, bb) <- r if sa > sb)
      assert(ba <= bb, s"monotonicity violated: ($sa,$ba) vs ($sb,$bb)")
    // identical docs share a bucket (plateaus never split)
    r.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).distinct.length == 1, s"score plateau split: ${g.toSeq}")
    }
    // deterministic across runs
    val again = Curation.perplexityBuckets(corpus).collect()
      .map(x => (x.getLong(0), x.getDouble(2), x.getLong(3)))
    assert(r.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    intercept[IllegalArgumentException] { Curation.perplexityBuckets(docs, 1) }
  }

  // ---- per-language quantile gate -------------------------------------------

  test("curriculumOrder: bucket-major easy-first key, md5 shuffle within buckets") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val r = graft.operators.Curation.curriculumOrder(docs).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.length === 500)
    // bucket-major: every bucket-b key sorts before every bucket-(b+1) key
    val byBucket = r.groupBy(_._2).view.mapValues(_.map(_._3))
    for (b <- byBucket.keys if byBucket.contains(b + 1))
      assert(byBucket(b).max < byBucket(b + 1).min, s"bucket $b overlaps ${b + 1}")
    // within a bucket the order is the 52-bit md5 of doc_id — spot-check one
    val md = java.security.MessageDigest.getInstance("MD5")
    def h52(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(13), 16)
    }
    r.foreach { case (id, b, k) => assert(k === b * (1L << 52) + h52(id), s"doc $id") }
    // deterministic across invocations
    assert(graft.operators.Curation.curriculumOrder(docs).collect()
      .map(_.getLong(2)).sorted.toSeq === r.map(_._3).sorted.toSeq)
  }

  test("vocabCoverage: OOV counts against a frozen vocab, empty-vocab edge") {
    val ref = Seq((1L, "the cat sat"), (2L, "the dog sat")).toDF("doc_id", "text")
    // top-3 by (count desc, token asc): the(2), sat(2), cat(1) — 'cat' beats
    // 'dog' on the token tie-break
    val vocab = graft.operators.Curation.frequentTokenVocab(ref, topN = 3)
    assert(vocab.length === 3)
    val target = Seq(
      (10L, "the cat sat again"),   // 'again' OOV -> 1/4
      (11L, "dog dog unknown"),     // all three OOV ('dog' missed the topN) -> 3/3
      (12L, "the the the")          // fully covered -> 0/3
    ).toDF("doc_id", "text")
    val r = rowSet(graft.operators.Curation.vocabCoverage(target, vocab))
    assert(r === Set(
      Seq(10L, 4L, 1L, 0.25),
      Seq(11L, 3L, 3L, 1.0),
      Seq(12L, 3L, 0L, 0.0)))
    // empty vocab: everything is OOV
    val all = rowSet(graft.operators.Curation.vocabCoverage(target, Array.empty[Long]))
    assert(all.forall(row => row(1) == row(2)), s"empty vocab must flag all: $all")
    // blank rows monitor as the empty document — split("", " ") yields [""],
    // which must NOT count as one OOV token (advisor finding, round 11)
    val blanks = Seq((20L, ""), (21L, null.asInstanceOf[String]), (22L, "   "))
      .toDF("doc_id", "text")
    assert(rowSet(graft.operators.Curation.vocabCoverage(blanks, vocab)) === Set(
      Seq(20L, 0L, 0L, 0.0), Seq(21L, 0L, 0L, 0.0), Seq(22L, 0L, 0L, 0.0)))
  }

  test("qualityQuantileFilter keeps each language's docs at or above its own median") {
    val corpus = Seq(
      (1L, "one two three four", "en"),      // 4 tokens
      (2L, "one two", "en"),                 // 2 tokens
      (3L, "one two three", "en"),           // 3 tokens -> en median = 3
      (4L, "ein zwei", "de"),                // 2 tokens -> de median = 2
      (5L, "ein", "de")                      // 1 token
    ).toDF("doc_id", "text", "lang")
    val kept = Curation.qualityQuantileFilter(corpus, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // en median 3 keeps 1, 3 (a global median of 2 would wrongly keep doc 2);
    // de median 2 keeps 4 — the group-relative point
    assert(kept === Set(1L, 3L, 4L))
  }

  test("null-tolerant governance: null lang folds to 'und', null text counts in dup_rate") {
    val corpus = Seq(
      (1L, "one two three four", Option("en"), "web", 18L),
      (2L, "one two", Option("en"), "web", 7L),
      (3L, "some words here now", Option.empty[String], "web", 19L),
      (4L, "other words entirely", Option.empty[String], "web", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // null-lang docs gate against their own 'und' group, not vanish
    val kept = Curation.qualityQuantileFilter(corpus, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.intersect(Set(3L, 4L)).nonEmpty,
      "null-lang docs must be gated within their own group, not dropped")
    // dataCard: a group with NO duplicates reports dup_rate 0 even with null text
    val withNull = Seq(
      (1L, Option("a b c"), "s", "en", 5L), (2L, Option.empty[String], "s", "en", 0L)
    ).toDF("doc_id", "text", "source", "lang", "n_chars")
    val card = Curation.dataCard(withNull).collect()
    assert(card.length === 1 && card.head.getAs[Double]("dup_rate") === 0.0,
      s"null text must count as a distinct (empty) doc: ${card.toSeq}")
  }

  // ---- edit-distance near-dup -----------------------------------------------

  test("editDistancePairs finds typo variants within the block, abandons past maxDist") {
    val prefix = "this shared prefix is long enough to block on"
    val corpus = Seq(
      (1L, prefix + " and the tail text here"),
      (2L, prefix + " and the tail texx here"),   // 1 edit from 1
      (3L, prefix + " with a completely different much longer ending altogether"),
      (4L, "unrelated block entirely different text")
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.editDistancePairs(corpus, maxDist = 5)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 2L, 1)), s"got $got")
  }

  // ---- incremental dedup ----------------------------------------------------

  test("incrementalDedup: batch self-dedups, then drops docs already in base") {
    val base = Seq((1L, "seen before text one"), (2L, "seen before text two")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "seen  BEFORE text one"),   // = base doc 1 after normalize -> dropped
      (11L, "brand new document"),      // survives
      (12L, "brand new document"),      // in-batch dup of 11 -> folded into it
      (13L, "another fresh one")        // survives
    ).toDF("doc_id", "text")
    val r = rowSet(Dedup.incrementalDedup(batch, base))
    assert(r === Set(Seq(11L, 2L), Seq(13L, 1L)))
  }

  // ---- positional search ----------------------------------------------------

  private def posDocs = Seq(
    (1L, "alpha beta gamma alpha beta"),   // "alpha beta" twice
    (2L, "beta alpha gamma"),              // reversed order only
    (3L, "alpha gamma beta"),              // terms present, not adjacent
    (4L, "alpha beta alpha beta alpha"),   // overlapping: "alpha beta alpha" twice
    (5L, "gamma gamma gamma")              // no query terms
  ).toDF("doc_id", "text")

  test("phraseSearch: contiguous order only, counts every occurrence") {
    val r = rowSet(Search.phraseSearch(posDocs, Seq("alpha", "beta")))
    assert(r === Set(Seq(1L, 2L), Seq(4L, 2L)), s"got $r")
  }

  test("phraseSearch: repeated-term phrase matches overlapping occurrences") {
    val r = rowSet(Search.phraseSearch(posDocs, Seq("alpha", "beta", "alpha")))
    assert(r === Set(Seq(4L, 2L)), s"got $r")
  }

  test("phraseSearch: single-term phrase degenerates to term frequency") {
    val r = rowSet(Search.phraseSearch(posDocs, Seq("gamma")))
    assert(r === Set(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(5L, 3L)))
  }

  test("proximitySearch: min distance computed, window excludes far pairs") {
    // doc 1: alpha@0,3 gamma@2 -> min dist 1; doc 3: alpha@0 gamma@1 -> 1
    val near = rowSet(Search.proximitySearch(posDocs, "alpha", "gamma", window = 1))
    assert(near === Set(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L)), s"got $near")
    // window 0 impossible for distinct positions -> empty
    assert(Search.proximitySearch(posDocs, "alpha", "beta", window = 5)
      .filter(col("doc_id") === 5L).isEmpty, "doc 5 has neither term")
  }
}
