package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today"
  private def docs = Seq(
    (1L, base),
    (2L, "  THE   quick brown fox jumps over the lazy dog and runs far away today "), // = 1 after normalize
    (3L, base + " extra tail words here"),                                            // near-dup of 1
    (4L, "completely different content about spark query engines and distributed systems"),
    (5L, "completely different content about spark query engines and distributed systems")
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized text, keeps min id and group size") {
    val r = rowSet(Dedup.exactDedup(docs))
    assert(r === Set(Seq(1L, 2L), Seq(3L, 1L), Seq(4L, 2L)))
  }

  test("canonical exact dedup keeps the preferred duplicate, not the smallest id") {
    import org.apache.spark.sql.functions._
    val r = rowSet(Dedup.exactDedupCanonical(docs, length(col("text")).cast("long")))
    // group {1,2}: doc 2's RAW text is longer (un-collapsed whitespace), so the
    // longest-version rule picks 2 where exactDedup picked 1
    // group {4,5}: identical raw lengths -> tie breaks to the smallest id
    assert(r === Set(Seq(2L, 2L), Seq(3L, 1L), Seq(4L, 2L)))
  }

  test("fingerprint canonical dedup selects the identical survivor set") {
    import org.apache.spark.sql.functions._
    val q = length(col("text")).cast("long")
    val textKeyed = rowSet(Dedup.exactDedupCanonical(docs, q))
    val fpKeyed = rowSet(Dedup.exactDedupCanonicalByFingerprint(docs, q))
    assert(fpKeyed === textKeyed)
    // and on the real fixture corpus (500 docs with planted duplicate groups)
    val fixTxt = rowSet(Dedup.exactDedupCanonical(fixtureDocs, q))
    val fixFp = rowSet(Dedup.exactDedupCanonicalByFingerprint(fixtureDocs, q))
    assert(fixFp === fixTxt)
  }

  test("fingerprint dedup agrees with exact dedup on group structure") {
    // a constant quality ties every group, so the argmax falls to the smallest
    // id: the fingerprint-keyed form must rebuild exactDedup's groups
    val r = rowSet(Dedup.exactDedupCanonicalByFingerprint(docs,
      org.apache.spark.sql.functions.lit(0)))
    assert(r === Set(Seq(1L, 2L), Seq(3L, 1L), Seq(4L, 2L)))
  }

  test("containment: subset doc flags one direction, exact dups flag both") {
    // base = 14 tokens -> 12 grams; doc 3 = base + 4 tail tokens -> 16 grams,
    // containing all 12 of doc 1's. C(1->3) = 12/12 = 1; C(3->1) = 12/16 =
    // 0.75 < 0.8 so the superset is NOT flagged as contained. Exact-dup
    // groups {1,2} and {4,5} flag both directions at 1.0.
    val r = rowSet(Dedup.containmentPairs(docs, n = 3, maxDf = 20, threshold = 0.8))
    assert(r === Set(
      Seq(1L, 2L, 1.0), Seq(2L, 1L, 1.0), Seq(1L, 3L, 1.0), Seq(2L, 3L, 1.0),
      Seq(4L, 5L, 1.0), Seq(5L, 4L, 1.0)))
    // lowering the threshold below 12/16 admits the reverse direction exactly
    val loose = rowSet(Dedup.containmentPairs(docs, n = 3, maxDf = 20, threshold = 0.7))
    assert(loose === r ++ Set(Seq(3L, 1L, 0.75), Seq(3L, 2L, 0.75)))
  }

  test("containment: the df bound drops pairs whose shared grams are all too common") {
    // base grams have df = 3 (docs 1, 2, 3): maxDf = 2 excludes them all, so
    // no pair among {1,2,3} has a candidate gram left; {4,5} share df-2 grams
    // and survive. The miss is the documented boilerplate-only-overlap case.
    val r = rowSet(Dedup.containmentPairs(docs, n = 3, maxDf = 2, threshold = 0.8))
    assert(r === Set(Seq(4L, 5L, 1.0), Seq(5L, 4L, 1.0)))
  }

  test("containment prefix-filter form selects the identical pair set") {
    Seq(0.7, 0.8, 1.0).foreach { t =>
      val b = rowSet(Dedup.containmentPairs(docs, n = 3, maxDf = 20, threshold = t))
      val p = rowSet(Dedup.containmentPairsPrefix(docs, n = 3, maxDf = 20, threshold = t))
      assert(p === b, s"threshold $t")
    }
    // and on the fixture corpus (planted duplicate/superset groups)
    val fixB = rowSet(Dedup.containmentPairs(fixtureDocs, n = 3, maxDf = 20, threshold = 0.8))
    val fixP = rowSet(Dedup.containmentPairsPrefix(fixtureDocs, n = 3, maxDf = 20, threshold = 0.8))
    assert(fixP === fixB)
    assert(fixB.nonEmpty, "fixture must plant containment pairs — equivalence on empty sets is vacuous")
  }

  test("duplicate spans: shared 8-grams merge into maximal spans; unique tails stay out") {
    val spans = rowSet(Dedup.duplicateSpans(docs, n = 8, minDocs = 2))
    // base is 14 tokens; docs 1/2 normalize identical -> grams at pos 0..6,
    // one merged span [0,13] of 7 grams. doc 3 = base + 4 unique tail tokens:
    // only the grams fully inside the base (pos 0..6) are shared, so the span
    // stops at token 13 and the tail is NOT marked. docs 4/5: 10 tokens, 3
    // grams, span [0,9].
    assert(spans === Set(
      Seq(1L, 0L, 13L, 7L), Seq(2L, 0L, 13L, 7L), Seq(3L, 0L, 13L, 7L),
      Seq(4L, 0L, 9L, 3L), Seq(5L, 0L, 9L, 3L)))
    // hashed gram keys select the identical spans as literal gram strings
    val byString = rowSet(Dedup.duplicateSpans(docs, n = 8, minDocs = 2, hashGrams = false))
    assert(byString === spans)
    // and on the fixture corpus
    val fixHash = rowSet(Dedup.duplicateSpans(fixtureDocs, n = 8, minDocs = 2))
    val fixStr = rowSet(Dedup.duplicateSpans(fixtureDocs, n = 8, minDocs = 2, hashGrams = false))
    assert(fixHash === fixStr)
    assert(fixHash.nonEmpty, "fixture plants duplicate groups; spans must exist")
  }

  test("dup-span fraction: full-overlap docs score 1.0, unique-tail doc scores 14/18") {
    val fr = Dedup.dupSpanFraction(docs, n = 8, minDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fr(1) === 1.0 && fr(4) === 1.0 && fr(5) === 1.0)
    assert(fr(3) === math.round(14.0 / 18.0 * 1e6) / 1e6)
    assert(fr.size === 5, "every input doc gets a row")
  }

  test("incremental spans: base overlap marks a batch-unique doc; batch-internal dups still found") {
    import org.apache.spark.sql.functions._
    val batch = Seq(
      (1L, base), // unique WITHIN the batch, but shares all grams with base doc 101
      (2L, "entirely novel content alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "repeated promo block appearing twice in this new crawl batch today"),
      (5L, "repeated promo block appearing twice in this new crawl batch today")
    ).toDF("doc_id", "text")
    val baseCorpus = Seq(
      (101L, base + " with an archival tail"),
      (102L, "old corpus material nothing shared with the incoming batch docs")
    ).toDF("doc_id", "text")
    val spans = rowSet(Dedup.incrementalDuplicateSpans(batch, baseCorpus, n = 8, minDocs = 2))
    // doc 1: plain duplicateSpans on the batch alone finds NOTHING for it
    // (no second batch copy) — the base gram set is what flags it
    assert(rowSet(Dedup.duplicateSpans(batch, n = 8, minDocs = 2))
      .forall(_.head != 1L), "precondition: doc 1 has no in-batch duplicate")
    assert(spans.contains(Seq(1L, 0L, 13L, 7L)), s"base overlap missed: $spans")
    // docs 4/5: in-batch duplication still detected (11 tokens -> 4 grams)
    assert(spans.contains(Seq(4L, 0L, 10L, 4L)) && spans.contains(Seq(5L, 0L, 10L, 4L)), spans.toString)
    // doc 2 is genuinely novel; base docs never appear in the output
    assert(spans.forall(r => r.head != 2L && r.head.asInstanceOf[Long] < 100L), spans.toString)
  }

  test("trim spans removes exactly the duplicated tokens, keeps unique tails") {
    import org.apache.spark.sql.functions._
    val r = Dedup.trimDuplicateSpans(docs, n = 8, minDocs = 2).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2)))).toMap
    // docs 1/2: fully covered -> empty text, 14 tokens removed
    assert(r(1) === (("", 14L)) && r(2) === (("", 14L)))
    // doc 3: base span [0,13] trimmed, the 4 unique tail tokens survive
    assert(r(3) === (("extra tail words here", 14L)))
    // docs 4/5: fully covered 10-token dups
    assert(r(4) === (("", 10L)) && r(5) === (("", 10L)))
    // trimmed output is a fixpoint: no duplicated 8-gram survives the trim
    val again = Dedup.duplicateSpans(
      Dedup.trimDuplicateSpans(docs, n = 8, minDocs = 2)
        .select(col("doc_id"), col("text_trimmed").as("text")),
      n = 8, minDocs = 2)
    assert(again.count() === 0L, "trim must remove every duplicated span")
  }

  test("contaminatedSpans/decontaminateTrim cut exactly the benchmark-covered spans") {
    import org.apache.spark.sql.functions._
    // benchmark: one 4-token "eval question"; corpus doc 1 quotes it verbatim
    // mid-text, doc 2 is clean, doc 3 IS a verbatim benchmark copy
    val bench = Seq((100L, "what is the capital")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words here what is the capital closing words after"),
      (2L, "totally unrelated clean document text"),
      (3L, "what is the capital")
    ).toDF("doc_id", "text")
    val spans = rowSet(Dedup.contaminatedSpans(corpus, bench, n = 4))
    // doc 1: the quote sits at tokens 3..6 -> one span [3,6] of 1 gram;
    // doc 3: fully covered [0,3]; doc 2: nothing
    assert(spans === Set(Seq(1L, 3L, 6L, 1L), Seq(3L, 0L, 3L, 1L)))
    val r = Dedup.decontaminateTrim(corpus, bench, n = 4).collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2)))).toMap
    assert(r(1L) === (("intro words here closing words after", 4L)),
      "only the quoted span must be removed")
    assert(r(2L) === (("totally unrelated clean document text", 0L)),
      "clean docs pass through whole")
    assert(r(3L) === (("", 4L)),
      "a verbatim benchmark copy trims to empty — the whole-doc verdict")
    // the trimmed corpus is decontaminated: a second pass finds nothing
    assert(Dedup.contaminatedSpans(
      Dedup.decontaminateTrim(corpus, bench, n = 4)
        .select(col("doc_id"), col("text_trimmed").as("text")),
      bench, n = 4).count() === 0L)
    // hashed gram keys select identical spans as literal strings
    assert(rowSet(Dedup.contaminatedSpans(corpus, bench, n = 4, hashGrams = false))
      === spans)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated pairs") {
    val pairs = rowSet(Dedup.minhashLshPairs(docs, threshold = 0.3)
      .select("a_id", "b_id"))
    assert(pairs.contains(Seq(1L, 2L)), "identical-after-normalize pair missed")
    assert(pairs.contains(Seq(4L, 5L)), "identical pair missed")
    assert(!pairs.exists(p => p.take(2).toSet == Set(1L, 4L)),
      "unrelated docs must not pair")
    // est_jaccard of an identical pair is exactly 1.0
    val j = Dedup.minhashLshPairs(docs, threshold = 0.3)
      .filter($"a_id" === 4 && $"b_id" === 5)
      .select("est_jaccard").head().getDouble(0)
    assert(j === 1.0)
  }

  // ---- recall gates vs exact twins on the testdata fixture ------------------
  // The documents fixture plants 28 true near-dup pairs (3-gram Jaccard >= 0.5,
  // 27 of them >= 0.9 — the regime near-dup detection is sized for). Fully
  // deterministic pipelines, so the measured recalls are exact.

  private def fixtureDocs =
    graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")

  /** True all-pairs 3-gram Jaccard >= threshold, computed driver-side (500 docs). */
  private def trueJaccardPairs(threshold: Double): Set[(Long, Long)] = {
    val grams = fixtureDocs.select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1)
      r.getLong(0) -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty).sortBy(_._1)
    (for {
      i <- grams.indices.iterator
      j <- (i + 1) until grams.length
      (ia, sa) = grams(i)
      (ib, sb) = grams(j)
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa | sb).size >= threshold
    } yield (ia, ib)).toSet
  }

  test("minhash LSH recall >= 0.8 vs true Jaccard pairs at the query-entry params") {
    val truth = trueJaccardPairs(0.5)
    val got = Dedup.minhashLshPairs(fixtureDocs, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count(truth).toDouble / truth.size
    info(f"minhashLshPairs(16x4 bands, t=0.5) recall = $recall%.3f (${got.size} found / ${truth.size} true)")
    assert(recall >= 0.8, f"minhash recall $recall%.3f below 0.8 floor")
  }

  test("incremental minhash dedup: base copy drops, self near-dup resolves, novel keeps") {
    val base = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"), // = base
      (2L, "completely different content about spark streaming state stores"), // novel
      (3L, "completely different content about spark streaming state stores")  // = doc 2
    ).toDF("doc_id", "text")
    val r = rowList(Dedup.incrementalMinhashDedup(batch, base).orderBy("doc_id"))
      .map(row => (row(0).asInstanceOf[Long], row(1).asInstanceOf[Long],
        row(2).asInstanceOf[Boolean]))
    assert(r === Seq((1L, 1L, false), (2L, 0L, true), (3L, 0L, false)),
      s"verdicts wrong: $r")
  }

  test("incremental minhash pairs recall vs true cross-snapshot Jaccard (fixture)") {
    // truth: planted near-dup pairs that straddle the doc_id % 5 batch/base
    // split, oriented (batch_id, base_id)
    val truth: Set[(Long, Long)] = trueJaccardPairs(0.5).flatMap { case (a, b) =>
      if (a % 5 == 0 && b % 5 != 0) Some((a, b))
      else if (b % 5 == 0 && a % 5 != 0) Some((b, a))
      else None
    }
    assert(truth.nonEmpty, "fixture must plant cross-split near-dup pairs")
    val got = Dedup.incrementalMinhashPairs(
        fixtureDocs.filter($"doc_id" % 5 === 0), fixtureDocs.filter($"doc_id" % 5 =!= 0))
      .select("batch_id", "base_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count(truth).toDouble / truth.size
    info(f"incrementalMinhashPairs(16x4, t=0.5) recall = $recall%.3f (${got.size} found / ${truth.size} true)")
    assert(recall >= 0.8, f"cross-snapshot minhash recall $recall%.3f below 0.8 floor")
  }

  test("simhash pigeonhole blocking is EXACT: equals the all-pairs Hamming twin") {
    val maxHamming = 8
    // all-pairs twin from the exposed signatures, computed driver-side
    val hashes = Dedup.simhashes(fixtureDocs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val truth = (for {
      i <- hashes.indices.iterator
      j <- (i + 1) until hashes.length
      if java.lang.Long.bitCount(hashes(i)._2 ^ hashes(j)._2) <= maxHamming
    } yield (hashes(i)._1, hashes(j)._1)).toSet
    val blocked = Dedup.simhashPairs(fixtureDocs, maxHamming = maxHamming)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"simhash pairs at maxHamming=$maxHamming: ${blocked.size} (truth ${truth.size})")
    assert(blocked === truth,
      "pigeonhole banding must recover EVERY within-budget pair and invent none")
  }

  test("edit-distance blocking recall vs the exhaustive all-pairs twin (fixture)") {
    // driver-side exhaustive truth over the 500-doc fixture, using the SAME
    // banded DP kernel the operator ships (parity with Spark levenshtein is
    // property-tested separately). Gate at the query entry's budget (20) —
    // the near-dup operating point: measured recall there is 1.0. At loose
    // budgets (40 ≈ 13% of doc length) scattered-edit pairs escape ANY
    // blocking scheme (prefix+suffix AND shared-5-gram both measured 28/41)
    // — the trade-off the operator scaladoc states.
    val maxDist = 20
    val norms = fixtureDocs.select("doc_id", "text").collect().map { r =>
      r.getLong(0) -> r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ")
    }.sortBy(_._1)
    val kernel = graft.functions.BandedEditDistanceExpr(
      org.apache.spark.sql.catalyst.expressions.Literal("a"),
      org.apache.spark.sql.catalyst.expressions.Literal("b"), maxDist)
    import org.apache.spark.unsafe.types.UTF8String
    val truth = (for {
      i <- norms.indices.iterator
      j <- (i + 1) until norms.length
      d = kernel.distance(UTF8String.fromString(norms(i)._2),
        UTF8String.fromString(norms(j)._2))
      if d >= 0
    } yield (norms(i)._1, norms(j)._1)).toSet
    val got = Dedup.editDistancePairs(fixtureDocs, maxDist = maxDist)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "blocking must never invent pairs (precision 1)")
    val recall = if (truth.isEmpty) 1.0 else got.count(truth).toDouble / truth.size
    info(f"editDistancePairs(prefix|suffix-40 blocks) recall = $recall%.3f (${got.size}/${truth.size})")
    assert(truth.nonEmpty, "fixture must contain edit-distance near-dups")
    assert(recall >= 0.9, f"blocked recall $recall%.3f below 0.9 floor at the entry budget")
  }

  test("per-row minhash signature is bit-identical to the aggregate form") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFns
    val agg = Dedup.minhashSignatures(fixtureDocs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    // the per-row expression the streaming near-dup gate signs each batch with
    val row = fixtureDocs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        transform(array_distinct(TextFns.shinglesFromTokens(col("toks"), 3)),
          s => xxhash64(s)).as("hs"))
      .select(col("doc_id"),
        graft.functions.MinHashSigExpr.minhashSigRow(col("hs"), 64).as("sig"))
      .filter(col("sig").isNotNull)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(row.keySet === agg.keySet, "same docs must be signed by both forms")
    assert(agg.forall { case (id, sig) => row(id) === sig },
      "map-only signatures must equal the aggregate's exactly (shared splitmix64)")
  }

  test("minhash signature aggregate is partition-independent (merge correctness)") {
    import org.apache.spark.sql.functions._
    val hashed = spark.range(1000).select(col("id"),
      xxhash64(col("id")).as("h"), lit(1L).as("g"))
    def sig(df: org.apache.spark.sql.DataFrame) = df.groupBy("g")
      .agg(graft.functions.MinHashSigAgg.minhashSig(col("h"), 16).as("sig"))
      .head().getSeq[Long](1)
    assert(sig(hashed.repartition(1)) === sig(hashed.repartition(13)),
      "signature must not depend on partitioning (elementwise-min merge)")
  }

  test("simhash pairs: identical docs at hamming 0; unrelated docs don't pair") {
    val r = Dedup.simhashPairs(docs, maxHamming = 8)
    val m = rowList(r.select("a_id", "b_id", "hamming"))
    assert(m.exists(p => p(0) == 1L && p(1) == 2L && p(2) == 0),
      s"identical pair not at hamming 0: $m")
    assert(!m.exists(p => Set(p(0), p(1)) == Set[Any](1L, 4L)))
  }

  test("simhashPairsOf over precomputed hashes equals simhashPairs (r17 shared-truth form)") {
    assert(rowSet(Dedup.simhashPairsOf(Dedup.simhashes(docs), maxHamming = 8)) ===
      rowSet(Dedup.simhashPairs(docs, maxHamming = 8)))
  }

  test("resolveClustersCanonical: longest member survives, not the min id; singletons keep") {
    import spark.implicits._
    val docs = Seq(
      (1L, "short", 5L), (2L, "the much longer canonical version", 33L),
      (3L, "short variant", 13L), (4L, "unrelated singleton", 19L)
    ).toDF("doc_id", "text", "n_chars")
    // chain 1-2, 2-3: one component {1,2,3}; doc 2 is longest -> the keeper
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val r = rowList(Dedup.resolveClustersCanonical(docs, pairs,
        org.apache.spark.sql.functions.col("n_chars")).orderBy("doc_id"))
      .map(row => (row(0).asInstanceOf[Long], row(1).asInstanceOf[Long],
        row(2).asInstanceOf[Boolean]))
    assert(r === Seq((1L, 1L, false), (2L, 1L, true), (3L, 1L, false), (4L, 4L, true)),
      s"canonical cluster verdicts wrong: $r")
    // quality tie breaks to the smallest id
    val tied = Seq((7L, "same size a", 11L), (8L, "same size b", 11L))
      .toDF("doc_id", "text", "n_chars")
    val tr = rowList(Dedup.resolveClustersCanonical(tied,
        Seq((7L, 8L)).toDF("a_id", "b_id"),
        org.apache.spark.sql.functions.col("n_chars")).orderBy("doc_id"))
      .map(row => (row(0).asInstanceOf[Long], row(2).asInstanceOf[Boolean]))
    assert(tr === Seq((7L, true), (8L, false)), s"tie-break wrong: $tr")
  }

  test("resolveClusters: transitive chains merge, representative is min id, singletons keep") {
    val docs6 = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "x"), (5L, "x"), (6L, "x"))
      .toDF("doc_id", "text")
    // chain 1-2-3 (transitive, no direct 1-3 pair), pair 4-5, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val r = rowSet(Dedup.resolveClusters(docs6, pairs))
    assert(r === Set(
      Seq(1L, 1L, true), Seq(2L, 1L, false), Seq(3L, 1L, false),
      Seq(4L, 4L, true), Seq(5L, 4L, false),
      Seq(6L, 6L, true)))
  }

  test("dupNgramStats: cross-document shared-trigram fraction") {
    val d = Seq(
      (1L, "a b c d"),   // grams: "a b c", "b c d"
      (2L, "a b c x"),   // grams: "a b c", "b c x" — shares "a b c" with 1
      (3L, "q r s t"),   // grams: "q r s", "r s t" — shares nothing
      (4L, "a b")        // < 3 tokens: no grams, drops out
    ).toDF("doc_id", "text")
    val expected = Set(
      Seq(1L, 2L, 1L, 0.5),
      Seq(2L, 2L, 1L, 0.5),
      Seq(3L, 2L, 0L, 0.0))
    assert(rowSet(Dedup.dupNgramStats(d, n = 3)
      .select("doc_id", "n_grams", "n_shared", "dup_gram_fraction")) === expected)
  }

  test("ngram jaccard computes the exact set ratio within blocks") {
    val r = Dedup.ngramJaccardPairs(docs, n = 3, prefixLen = 40, threshold = 0.3)
    val m = rowList(r.select("a_id", "b_id", "jaccard"))
    // doc1 vs doc2: identical after normalize -> jaccard 1.0
    assert(m.exists(p => p(0) == 1L && p(1) == 2L && p(2) == 1.0), s"got $m")
    // doc1: 14 tokens -> 12 grams; doc3: 18 tokens -> 16 grams, 12 shared
    // -> |A∩B|/|A∪B| = 12/16
    val j13 = m.find(p => p(0) == 1L && p(1) == 3L).map(_(2)).get
    assert(j13 == 12.0 / 16.0, s"got $j13")
  }

  // ---- corpus-frequent segment removal (the CCNet boilerplate step) ---------

  private def segDocs = Seq(
    (1L, "unique alpha content. subscribe to our newsletter. more alpha words"),
    (2L, "different beta story. subscribe to our newsletter. beta tail"),
    (3L, "gamma text here. subscribe to our newsletter. Subscribe TO our newsletter. gamma end"),
    (4L, "subscribe to our newsletter"), // all boilerplate -> cleans to ""
    (5L, "delta only content with no shared sentence at all")
  ).toDF("doc_id", "text")

  test("segmentFrequencies counts DISTINCT docs per segment (self-repeats don't inflate)") {
    val r = rowSet(Dedup.segmentFrequencies(segDocs, minDf = 2))
    // doc 3 contains the boilerplate twice (case-varied) but counts once
    assert(r === Set(Seq("subscribe to our newsletter", 4L)))
    // df=1 segments never appear even at the floor
    assert(!rowSet(Dedup.segmentFrequencies(segDocs, minDf = 2))
      .exists(_.head == "unique alpha content"))
  }

  test("removeFrequentSegments drops boilerplate in place, keeps order, empties all-boilerplate docs") {
    val r = rowSet(Dedup.removeFrequentSegments(segDocs, minDf = 2))
    assert(r === Set(
      Seq(1L, "unique alpha content. more alpha words", 1L),
      Seq(2L, "different beta story. beta tail", 1L),
      Seq(3L, "gamma text here. gamma end", 2L),
      Seq(4L, "", 1L),
      Seq(5L, "delta only content with no shared sentence at all", 0L)))
  }

  test("stateless frequent-segment removal equals the join form (small + fixture corpus)") {
    val model = Dedup.frequentSegmentModel(segDocs, minDf = 2)
    assert(rowSet(Dedup.removeFrequentSegmentsStateless(segDocs, model)) ===
      rowSet(Dedup.removeFrequentSegments(segDocs, minDf = 2)))
    // and on the fixture corpus with a planted boilerplate tail (the entry's shape)
    import org.apache.spark.sql.functions._
    val aug = fixtureDocs.select(col("doc_id"),
      concat(col("text"), lit(". zq subscribe banner. tail "),
        col("doc_id").cast("string")).as("text"))
    val join = rowSet(Dedup.removeFrequentSegments(aug, minDf = 10))
    val stateless = rowSet(Dedup.removeFrequentSegmentsStateless(
      aug, Dedup.frequentSegmentModel(aug, minDf = 10)))
    assert(stateless === join)
    // non-vacuous: every doc lost exactly the planted banner
    assert(join.forall(_(2) == 1L), "every doc should lose the planted banner")
  }

  // ---- winnowing fingerprints (Schleimer et al. 2003) ------------------------

  /** Brute-force reference: rightmost-min per window, distinct selections. */
  private def winnowRef(hs: Seq[Long], w: Int): Set[(Int, Long)] =
    if (hs.length < w) Set.empty
    else (0 to hs.length - w).map { i =>
      val win = hs.slice(i, i + w)
      val m = win.min
      (i + win.lastIndexOf(m), m)
    }.toSet

  test("WinnowExpr matches the brute-force reference incl. ties, w=1, short arrays") {
    import graft.functions.WinnowExpr
    import org.apache.spark.sql.functions._
    val cases: Seq[Seq[Long]] = Seq(
      Seq(5L, 1L, 2L, 9L, 0L, 7L, 3L, 3L, 3L, 8L, 1L, 1L),
      Seq(1L, 1L, 1L, 1L, 1L),             // all ties -> rightmost per window
      Seq(9L, 8L, 7L, 6L, 5L, 4L),          // strictly decreasing -> new min each window
      Seq(Long.MinValue, 0L, Long.MaxValue, -5L),
      Seq(4L, 2L, 7L),                      // shorter than w=4 -> empty
      Seq.empty[Long])
    for (w <- Seq(1, 2, 4); hs <- cases) {
      val got = Seq(Tuple1(hs)).toDF("hs")
        .select(explode(WinnowExpr.winnow(col("hs"), w)).as("f"))
        .select("f.pos", "f.fp").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(got === winnowRef(hs, w), s"w=$w hs=$hs")
    }
    // null array -> null (not empty)
    val nullRow = Seq(Tuple1(Option.empty[Seq[Long]])).toDF("hs")
      .select(WinnowExpr.winnow(col("hs"), 4).as("f")).collect()
    assert(nullRow.head.isNullAt(0))
  }

  test("winnowing guarantee: a shared run of >= w+k-1 tokens yields a shared fingerprint") {
    val shared = "zq alpha beta gamma delta epsilon zeta eta" // 8 tokens = w+k-1 (k=5, w=4)
    val pair = Seq(
      (1L, "completely unrelated prefix words here " + shared + " one tail"),
      (2L, shared + " other suffix content entirely different from before"),
      (3L, "no overlap with anything at all in this document text")
    ).toDF("doc_id", "text")
    for (md5 <- Seq(false, true)) {
      val fps = Dedup.winnowFingerprints(pair, k = 5, w = 4, md5Keys = md5)
      val byDoc = fps.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet)
      assert((byDoc(1L) & byDoc(2L)).nonEmpty, s"md5=$md5: guarantee violated")
      assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty,
        s"md5=$md5: unrelated docs share a fingerprint")
    }
  }

  test("persisted winnow index: disk probe equals in-memory form; bucketed base joins shuffle-free") {
    val shared = "zq alpha beta gamma delta epsilon zeta eta theta iota"
    val base = Seq(
      (1L, "frozen snapshot document carrying " + shared + " inside it"),
      (2L, "another base document with no overlap to anything else here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "new crawl text then " + shared + " then a fresh long tail"),
      (11L, "novel content entirely about columnar storage layouts today")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow_idx").toString
    try {
      Dedup.writeWinnowIndex(Dedup.winnowFingerprints(base, k = 5, w = 4),
        s"$dir/idx", "graft_t_winnow_idx", buckets = 4)
      val batchFps = Dedup.winnowFingerprints(batch, k = 5, w = 4)
      val persisted = Dedup.winnowPairsAgainstIndex(
        batchFps, spark.table("graft_t_winnow_idx"), minShared = 1L)
      val memory = Dedup.incrementalWinnowPairs(batch, base, k = 5, w = 4, minShared = 1L)
      assert(rowSet(persisted) === rowSet(memory))
      assert(persisted.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((10L, 1L)))
      // the bucketed layout is the point: the SAME probe against a plain
      // (unbucketed) parquet copy of the index must need MORE exchanges —
      // the fp-clustered base side (distinct, df-bound agg, both joins)
      // reads co-located buckets instead of reshuffling
      def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        "Exchange hashpartitioning".r.findAllIn(
          df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head).size
      }
      val plain = spark.read.parquet(s"$dir/idx")
      val nBucketed = exchanges(Dedup.winnowPairsAgainstIndex(
        batchFps, spark.table("graft_t_winnow_idx"), minShared = 1L))
      val nPlain = exchanges(Dedup.winnowPairsAgainstIndex(batchFps, plain, minShared = 1L))
      assert(nBucketed < nPlain,
        s"bucketed probe must save base-side exchanges: bucketed=$nBucketed plain=$nPlain")
    } finally spark.sql("DROP TABLE IF EXISTS graft_t_winnow_idx")
  }

  test("appendWinnowIndex: probe of build+append equals probe of a full rebuild") {
    val shared = "zq alpha beta gamma delta epsilon zeta eta theta iota"
    val half1 = Seq((1L, "first half snapshot carrying " + shared + " inside it")).toDF("doc_id", "text")
    val half2 = Seq((2L, "second half snapshot also quoting " + shared + " verbatim"),
      (3L, "second half noise document with nothing shared at all here")).toDF("doc_id", "text")
    val batch = Seq((10L, "new crawl text then " + shared + " then a fresh tail")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow_app").toString
    try {
      Dedup.writeWinnowIndex(Dedup.winnowFingerprints(half1, k = 5, w = 4),
        s"$dir/app", "graft_t_winnow_app", buckets = 4)
      Dedup.appendWinnowIndex(Dedup.winnowFingerprints(half2, k = 5, w = 4),
        s"$dir/app", "graft_t_winnow_app", buckets = 4)
      Dedup.writeWinnowIndex(Dedup.winnowFingerprints(half1.unionAll(half2), k = 5, w = 4),
        s"$dir/full", "graft_t_winnow_full", buckets = 4)
      val batchFps = Dedup.winnowFingerprints(batch, k = 5, w = 4)
      val viaAppend = rowSet(Dedup.winnowPairsAgainstIndex(
        batchFps, spark.table("graft_t_winnow_app"), minShared = 1L))
      val viaRebuild = rowSet(Dedup.winnowPairsAgainstIndex(
        batchFps, spark.table("graft_t_winnow_full"), minShared = 1L))
      assert(viaAppend === viaRebuild)
      assert(viaAppend.map(r => (r(0), r(1))) === Set((10L, 1L), (10L, 2L)),
        s"both quoting base docs must match: $viaAppend")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_t_winnow_app")
      spark.sql("DROP TABLE IF EXISTS graft_t_winnow_full")
    }
  }

  test("deleteFromWinnowIndex: probe ≡ rebuild over the remainder; no-op safe; bucket ids real") {
    import org.apache.spark.sql.functions._
    val shared = "zq alpha beta gamma delta epsilon zeta eta theta iota"
    val base = Seq(
      (1L, "frozen snapshot document carrying " + shared + " inside it"),
      (2L, "another base document with no overlap to anything else here"),
      (3L, "revoked takedown document also quoting " + shared + " verbatim")
    ).toDF("doc_id", "text")
    val batch = Seq((10L, "new crawl text then " + shared + " then a fresh tail"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow_del").toString
    try {
      Dedup.writeWinnowIndex(Dedup.winnowFingerprints(base, k = 5, w = 4),
        s"$dir/idx", "graft_t_winnow_del", buckets = 4)
      // pin the layout assumption the delete's file pruning rests on: a bucket
      // file holds exactly the rows whose pmod(hash(fp), buckets) names it
      val fs = new org.apache.hadoop.fs.Path(s"$dir/idx")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.sources.Lake.bucketFiles(fs, s"$dir/idx").foreach { case (b, files) =>
        val off = spark.read.parquet(files.map(_.toString): _*)
          .filter(pmod(hash(col("fp")), lit(4)) =!= b).count()
        assert(off === 0L, s"bucket $b holds $off rows hashed to other buckets")
      }
      val batchFps = Dedup.winnowFingerprints(batch, k = 5, w = 4)
      def probe() = rowSet(Dedup.winnowPairsAgainstIndex(
        batchFps, spark.table("graft_t_winnow_del"), minShared = 1L))
      // doc 3 quotes the shared run, so it MUST surface before the delete
      assert(probe().map(r => (r(0), r(1))) === Set((10L, 1L), (10L, 3L)))
      val affected = Dedup.deleteFromWinnowIndex(spark, s"$dir/idx",
        "graft_t_winnow_del", Array(3L), buckets = 4)
      assert(affected >= 1)
      // delete ≡ rebuild over the remainder, and the revoked doc is gone
      Dedup.writeWinnowIndex(
        Dedup.winnowFingerprints(base.filter($"doc_id" =!= 3L), k = 5, w = 4),
        s"$dir/rebuilt", "graft_t_winnow_del_rb", buckets = 4)
      assert(probe() === rowSet(Dedup.winnowPairsAgainstIndex(
        batchFps, spark.table("graft_t_winnow_del_rb"), minShared = 1L)))
      assert(probe().map(r => (r(0), r(1))) === Set((10L, 1L)))
      assert(spark.table("graft_t_winnow_del").filter($"doc_id" === 3L).count() === 0L)
      // absent ids and the empty set are no-ops, never a crash
      val beforeRows = rowSet(spark.table("graft_t_winnow_del"))
      assert(Dedup.deleteFromWinnowIndex(spark, s"$dir/idx", "graft_t_winnow_del",
        Array(999999991L), buckets = 4) === 0)
      assert(Dedup.deleteFromWinnowIndex(spark, s"$dir/idx", "graft_t_winnow_del",
        Array.empty[Long], buckets = 4) === 0)
      assert(rowSet(spark.table("graft_t_winnow_del")) === beforeRows)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_t_winnow_del")
      spark.sql("DROP TABLE IF EXISTS graft_t_winnow_del_rb")
    }
  }

  test("deleteFromWinnowIndex crash-abort: a failed swap start leaves the index byte-identical") {
    val base = Seq(
      (1L, "frozen snapshot document one with some words in it today"),
      (2L, "revoked takedown document two with other words in it now")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow_crash").toString
    try {
      Dedup.writeWinnowIndex(Dedup.winnowFingerprints(base, k = 5, w = 4),
        s"$dir/idx", "graft_t_winnow_crash", buckets = 4)
      val fs = new org.apache.hadoop.fs.Path(s"$dir/idx")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def layout() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/idx"))
        .filter(_.isFile).map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
        .toSet
      val before = layout()
      // a FILE squatting on the trash path makes mkdirs fail — the swap must
      // abort BEFORE any live file moves (trash-then-swap's first checked step)
      val trash = new org.apache.hadoop.fs.Path(s"$dir/idx.swap_trash")
      fs.create(trash, false).close()
      val e = intercept[RuntimeException] {
        Dedup.deleteFromWinnowIndex(spark, s"$dir/idx", "graft_t_winnow_crash",
          Array(2L), buckets = 4)
      }
      // the r15 layout guard now refuses FIRST (a pre-existing trash dir
      // reads as an interrupted swap); either refusal leaves the layout
      // byte-identical, which the next assert is the real check of
      assert(e.getMessage.contains("interrupted file swap") ||
        e.getMessage.contains("layout unchanged"))
      assert(layout() === before, "aborted swap must not touch a single live file")
      // and the table still answers: the revoked doc is (correctly) still there
      assert(spark.table("graft_t_winnow_crash").filter($"doc_id" === 2L).count() > 0L)
      fs.delete(trash, false)
      // with the obstruction gone the same delete succeeds
      assert(Dedup.deleteFromWinnowIndex(spark, s"$dir/idx", "graft_t_winnow_crash",
        Array(2L), buckets = 4) >= 1)
      assert(spark.table("graft_t_winnow_crash").filter($"doc_id" === 2L).count() === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_t_winnow_crash")
  }

  test("winnow density on the fixture corpus is within the structural bounds") {
    import org.apache.spark.sql.functions._
    val k = 5; val w = 4
    val nGrams = fixtureDocs
      .select(greatest(size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")) - (k - 1), lit(0)).as("g"))
      .filter(col("g") >= w) // only docs long enough to produce windows
      .agg(sum(col("g"))).head().getLong(0)
    val nFps = Dedup.winnowFingerprints(fixtureDocs, k, w).count()
    // every selection covers at most w windows -> fps >= windows/w ~ grams/w - 1;
    // and selections can't outnumber windows; expected density is 2/(w+1) = 0.4
    val density = nFps.toDouble / nGrams
    info(f"winnow density = $density%.3f over $nGrams grams ($nFps fps)")
    assert(density > 1.0 / w && density < 0.6, f"density $density%.3f outside (0.25, 0.6)")
  }

  test("winnowPairs finds the planted duplicate pairs; maxDf bound drops hot fingerprints") {
    val truth = trueJaccardPairs(0.9) // the 27 near-identical planted pairs
    val got = Dedup.winnowPairs(fixtureDocs, k = 5, w = 4, minShared = 3L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count(truth).toDouble / truth.size
    info(f"winnowPairs(k=5, w=4, minShared=3) recall = $recall%.3f (${got.size} found / ${truth.size} true)")
    assert(recall >= 0.9, f"winnow recall $recall%.3f below 0.9 floor")
    // a boilerplate fingerprint shared by every doc is culled by the df bound:
    // plant one corpus-wide 8-token run and bound df below the corpus size
    import org.apache.spark.sql.functions._
    val aug = fixtureDocs.select(col("doc_id"),
      concat(lit("zq b1 b2 b3 b4 b5 b6 b7 b8 zz. "), col("text")).as("text"))
    val bounded = Dedup.winnowPairs(aug, k = 5, w = 4, minShared = 1L, maxDf = 20)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // without the bound the planted run alone would pair EVERY doc with every
    // other (C(500,2) ~ 125k pairs); with it only fingerprints straddling the
    // banner/doc boundary survive (shared by the <= 20 docs with the same
    // opening words), keeping the pair set two orders of magnitude smaller
    assert(bounded.size < 10000, s"df bound failed: ${bounded.size} pairs")
    assert(truth.subsetOf(bounded), "df bound must not drop true near-dup pairs")
  }

  test("incrementalWinnowPairs: batch-vs-base only, guarantee across snapshots, index form equal") {
    val shared = "zq alpha beta gamma delta epsilon zeta eta theta iota"
    val base = Seq(
      (1L, "base doc one with " + shared + " inside it somewhere"),
      (2L, "base doc two with " + shared + " inside it also"), // base-internal dup of 1
      (3L, "unrelated base content about something else entirely here today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, shared + " quoted by a fresh crawl document tail"),
      (101L, "completely novel batch document with no base overlap at all")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalWinnowPairs(batch, base, k = 5, w = 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the quoting batch doc pairs with BOTH base carriers; base-internal and
    // batch-internal pairs are out of contract; the novel doc pairs with none
    assert(got === Set((100L, 1L), (100L, 2L)), s"got $got")
    // the persisted-index form sees the identical pairs from a materialized
    // base fingerprint table (the per-snapshot artifact)
    val baseFps = Dedup.winnowFingerprints(base, k = 5, w = 4).localCheckpoint(true)
    val viaIndex = Dedup.winnowPairsAgainstIndex(
      Dedup.winnowFingerprints(batch, k = 5, w = 4), baseFps, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex === got)
    // base-side df bound: a fingerprint carried by every base doc is culled
    val hotBase = (1L to 30L).map(i => (i, shared + s" base variant $i")).toDF("doc_id", "text")
    val boundedPairs = Dedup.incrementalWinnowPairs(batch, hotBase, k = 5, w = 4,
      minShared = 1L, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(boundedPairs.isEmpty,
      s"df<=5 bound must cull the 30-doc-hot fingerprints, got $boundedPairs")
  }
}
