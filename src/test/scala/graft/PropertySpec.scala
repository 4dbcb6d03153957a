package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Curation, Ops, Views}

/** Algebraic invariants (SURVEY.md §5): properties that must hold for EVERY
  * event multiset, not just the fixtures — checked over ScalaCheck-generated
  * data. Gen is driven directly from fixed seeds (the scalatest-scalacheck
  * bridge artifact is not on the offline classpath). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](gen: Gen[A], runs: Int = 8)(check: A => Unit): Unit =
    (1 to runs).foreach { i =>
      check(gen.apply(Gen.Parameters.default, Seed(i.toLong * 7919))
        .getOrElse(fail(s"generator exhausted at run $i")))
    }

  private val genEvent: Gen[TestEvent] = for {
    id   <- Gen.choose(1L, 1000000L)
    user <- Gen.choose(1L, 5L)
    typ  <- Gen.oneOf("signup", "purchase", "view")
    secs <- Gen.choose(0L, 3 * 24 * 3600L)
    v    <- Gen.choose(0, 10000)
  } yield TestEvent(id, user, typ,
    java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(secs)),
    v / 100.0, "{}")

  private val genEvents: Gen[List[TestEvent]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, genEvent))
      .map(_.distinctBy(_.event_id))

  test("bucket counts total the raw event count at every granularity") {
    forAll(genEvents) { evs =>
      val total = Ops.bucketCounts(evs.toDF(), "ts")
        .groupBy("granularity").agg(sum("cnt").as("n")).collect()
      assert(total.length === 3)
      assert(total.forall(_.getLong(1) === evs.length.toLong))
    }
  }

  test("latestPerKey is idempotent and stable under permutation/replay") {
    forAll(genEvents) { evs =>
      val order = Seq(col("ts"), col("event_id"))
      val once = Ops.latestPerKey(evs.toDF(), Seq("user_id"), order)
      // permuted AND replayed input (each event twice, reversed)
      val replayed = (evs.reverse ++ evs).toDF()
      val again = Ops.latestPerKey(replayed, Seq("user_id"), order)
      assert(rowSet(once.select("user_id", "event_id")) ===
        rowSet(again.select("user_id", "event_id").distinct()))
      // idempotence: applying to its own output is identity
      assert(rowSet(Ops.latestPerKey(once, Seq("user_id"), order)) === rowSet(once))
    }
  }

  test("saltedSumCount equals the direct groupBy for every event multiset and salt count") {
    forAll(genEvents) { evs =>
      val df = evs.toDF()
      val direct = df.groupBy("event_type")
        .agg(sum(col("value").cast("decimal(18,6)")).as("sum_v"), count(lit(1)).as("cnt"))
      Seq(1, 2, 16).foreach { salts =>
        val salted = Ops.saltedSumCount(df, Seq("event_type"),
          col("value").cast("decimal(18,6)"), col("event_id"), salts)
        assert(rowSet(salted) === rowSet(direct), s"salts=$salts")
      }
    }
  }

  test("funnel equals a driver-side recomputation for every event multiset") {
    forAll(genEvents) { evs =>
      val stages = Seq("signup", "view", "purchase")
      val horizonH = 24
      val got = graft.operators.Analytics.funnel(evs.toDF(), stages, horizonH)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val byUser = evs.groupBy(_.user_id)
      def reach(es: Seq[TestEvent]): Int = {
        val t1 = es.filter(_.event_type == stages.head).map(_.ts.getTime).minOption
        t1 match {
          case None => 0
          case Some(t0) =>
            var tPrev = t0; var reached = 1
            val limit = t0 + horizonH * 3600L * 1000L
            stages.drop(1).foreach { st =>
              if (reached == stages.indexOf(st)) {
                val cand = es.filter(e => e.event_type == st &&
                  e.ts.getTime >= tPrev && e.ts.getTime <= limit).map(_.ts.getTime)
                if (cand.nonEmpty) { reached += 1; tPrev = cand.min }
              }
            }
            reached
        }
      }
      val reaches = byUser.values.map(es => reach(es.toSeq)).toSeq
      val exp = stages.indices.map(i => i + 1 -> reaches.count(_ >= i + 1).toLong).toMap
      assert(got === exp, s"funnel counts diverged: $got vs $exp")
    }
  }

  test("saltedJoin equals the plain inner join for every event multiset and salt count") {
    forAll(genEvents) { evs =>
      val big = evs.toDF().select(col("event_id"), col("user_id"))
      val dim = (1L to 5L).map(u => (u, s"name$u")).toDF("user_id", "name")
      val direct = big.join(dim, "user_id")
      Seq(1, 2, 16).foreach { salts =>
        val salted = Ops.saltedJoin(big, dim, "user_id", salts, col("event_id"))
        assert(rowSet(salted) === rowSet(direct), s"salts=$salts")
      }
    }
  }

  test("topN is stable under input permutation") {
    forAll(genEvents) { evs =>
      val order = Seq(col("ts").desc, col("event_id").asc)
      val a = rowList(Ops.topN(evs.toDF(), 5, order).select("event_id"))
      val b = rowList(Ops.topN(evs.reverse.toDF(), 5, order).select("event_id"))
      assert(a === b)
    }
  }

  test("normalize is idempotent and whitespace-insertion-invariant") {
    val genText: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)), Gen.const(" "), Gen.const("\t"), Gen.const("\n")))
      .map(_.mkString)
    forAll(genText, runs = 12) { t =>
      import org.apache.spark.sql.functions.col
      val df = Seq((t, t.replace(" ", "   "))).toDF("a", "b")
      val r = df.select(
        graft.functions.TextFns.normalize(col("a")).as("na"),
        graft.functions.TextFns.normalize(
          graft.functions.TextFns.normalize(col("a"))).as("naa"),
        graft.functions.TextFns.normalize(col("b")).as("nb")).head()
      assert(r.getString(0) === r.getString(1), "idempotence")
      assert(r.getString(0) === r.getString(2), "whitespace-run invariance")
    }
  }

  test("string hour bucket agrees with window() tumbling boundaries") {
    forAll(genEvents) { evs =>
      import org.apache.spark.sql.functions._
      val viaBucket = evs.toDF()
        .groupBy(Ops.hourBucket(col("ts")).as("b")).agg(count(lit(1)).as("n"))
      val viaWindow = evs.toDF()
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyyMMddHH").as("b"), col("n"))
      assert(rowSet(viaBucket) === rowSet(viaWindow))
    }
  }

  test("bucketed range join equals the plain banded range join") {
    forAll(genEvents) { evs =>
      val df = evs.toDF()
      val plain = Ops.rangeSelfJoin(df.select("user_id", "ts", "event_id"),
        Seq("user_id"), "ts", "event_id", expr("INTERVAL 300 SECONDS"))
      val bucketed = Ops.rangeSelfJoinBucketed(df.select("user_id", "ts", "event_id"),
        Seq("user_id"), "ts", "event_id", bandSeconds = 300L)
      assert(rowSet(bucketed) === rowSet(plain))
    }
  }

  test("queue encode/decode round-trips every generated event multiset exactly") {
    import graft.streaming.QueueIngest
    forAll(genEvents) { evs =>
      val df = evs.toDF()
      val decoded = QueueIngest.decodeFrames(QueueIngest.encodeFrames(df))
      assert(rowSet(decoded.select($"event_id", $"user_id", $"event_type",
          $"ts".cast("string"), $"value")) ===
        rowSet(df.select($"event_id", $"user_id", $"event_type",
          $"ts".cast("timestamp_ntz").cast("string"), $"value")))
      // and the DLQ path marks every well-formed frame valid
      assert(QueueIngest.deadLetters(
        QueueIngest.decodeFramesWithDlq(QueueIngest.encodeFrames(df))).count() === 0)
    }
  }

  test("asofJoinTolerance is left-preserving for every event multiset") {
    forAll(genEvents) { evs =>
      val df = evs.toDF()
      val left = df.filter(col("event_type") === "view").select("event_id", "user_id", "ts")
      val joined = Ops.asofJoinTolerance(left, df.filter(col("event_type") === "purchase"),
        Seq("user_id"), "ts", "ts", col("event_id"), col("event_id"),
        Map("pid" -> col("event_id")), expr("INTERVAL 10 MINUTES"))
      assert(joined.count() === left.count())
      assert(joined.select("event_id").distinct().count() === left.count())
    }
  }

  test("as-of join is left-preserving: exactly one output row per left row") {
    forAll(genEvents) { evs =>
      val df = evs.toDF()
      val left = df.filter(col("event_type") === "view").select("event_id", "user_id", "ts")
      val right = df.filter(col("event_type") === "purchase")
      val joined = Ops.asofJoin(left, right, Seq("user_id"), "ts", "ts",
        col("event_id"), col("event_id"), Map("pid" -> col("event_id")))
      assert(joined.count() === left.count())
      assert(joined.select("event_id").distinct().count() === left.count())
    }
  }

  // ---- curation: fingerprint-keyed dedup ≡ text-keyed dedup -----------------

  private val genDocs: Gen[List[(Long, String)]] = {
    val word = Gen.oneOf("the", "and", "of", "to", "in", "cat", "dog",
      "data", "spark", "graft", "zz", "qq")
    val doc = for {
      id <- Gen.choose(1L, 1000000L)
      n  <- Gen.choose(3, 25)
      ws <- Gen.listOfN(n, word)
    } yield (id, ws.mkString(" "))
    for {
      k    <- Gen.choose(4, 20)
      docs <- Gen.listOfN(k, doc).map(_.distinctBy(_._1))
      // plant duplicates: same text under fresh ids, so dedup groups are real
      dups <- Gen.someOf(docs)
    } yield docs ++ dups.zipWithIndex.map { case ((_, t), i) => (2000000L + i, t) }
  }

  test("duplicate spans: disjoint, >= n tokens, in-bounds; trim and fraction consistent; forms agree") {
    import graft.operators.Dedup
    val n = 3 // small gram so the 3-25-token generated docs produce spans
    forAll(genDocs) { docsList =>
      val df = docsList.toDF("doc_id", "text")
      val nTokens = docsList.map { case (id, t) =>
        id -> t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1).length.toLong
      }.toMap
      val spans = Dedup.duplicateSpans(df, n = n, minDocs = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      spans.groupBy(_._1).foreach { case (id, ss) =>
        val sorted = ss.sortBy(_._2)
        // structural invariants: each span holds >= n tokens, ends inside the
        // doc, and consecutive spans are separated by at least one kept token
        sorted.foreach { case (_, a, b) =>
          assert(b - a + 1 >= n, s"span shorter than a gram: ($a,$b)")
          assert(a >= 0 && b <= nTokens(id) - 1, s"span out of doc bounds: ($a,$b)")
        }
        sorted.sliding(2).foreach {
          case List((_, _, b1), (_, a2, _)) =>
            assert(a2 > b1 + 1, s"merged islands must not touch: end=$b1 next=$a2")
          case _ => ()
        }
      }
      // trim removes exactly the covered tokens; fraction = covered / total
      val removed = Dedup.trimDuplicateSpans(df, n = n, minDocs = 2).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val covered = spans.groupBy(_._1).view.mapValues(_.map(s => s._3 - s._2 + 1).sum).toMap
      docsList.foreach { case (id, _) =>
        assert(removed(id) === covered.getOrElse(id, 0L),
          s"doc $id: trimmed ${removed(id)} but spans cover ${covered.getOrElse(id, 0L)}")
      }
      Dedup.dupSpanFraction(df, n = n, minDocs = 2).collect().foreach { r =>
        val f = r.getDouble(1)
        assert(f >= 0.0 && f <= 1.0, s"fraction out of [0,1]: $f")
        val expect = covered.getOrElse(r.getLong(0), 0L).toDouble / nTokens(r.getLong(0))
        assert(math.abs(f - math.round(expect * 1e6) / 1e6) < 1e-9)
      }
    }
  }

  test("fingerprint-keyed curation equals text-keyed curation for every corpus") {
    forAll(genDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val byText = Curation.curateCorpus(df, lang = "en", minTokens = 1, maxAvgTokenLen = 100.0)
      val byFp = Curation.curateCorpusByFingerprint(df, lang = "en", minTokens = 1,
        maxAvgTokenLen = 100.0)
      assert(rowSet(byFp) === rowSet(byText))
    }
  }

  test("pack manifest tiles every pack contiguously from offset zero") {
    forAll(genDocs, runs = 4) { docs =>
      val m = Curation.packManifest(docs.toDF("doc_id", "text"),
        budgetTokens = 10, groups = 3).collect()
      // base-op agreement: same (doc, pack) assignment
      val base = Curation.packByTokenBudget(docs.toDF("doc_id", "text"),
        budgetTokens = 10, groups = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(m.map(r => r.getLong(0) -> r.getLong(2)).toMap === base)
      m.groupBy(r => (r.getLong(1), r.getLong(2))).foreach { case (_, rows) =>
        val ordered = rows.sortBy(_.getLong(3))
        assert(ordered.head.getLong(3) === 1L, "seq_in_pack must start at 1")
        assert(ordered.head.getLong(4) === 0L, "first doc must sit at offset 0")
        ordered.sliding(2).foreach {
          case Array(a, b) =>
            assert(b.getLong(4) === a.getLong(4) + a.getLong(5),
              s"gap in pack tiling: $a -> $b")
            assert(b.getLong(3) === a.getLong(3) + 1, "seq_in_pack must be dense")
          case _ => ()
        }
      }
    }
  }

  test("bloom decontamination dominates the exact form for every corpus (no false negatives)") {
    forAll(genDocs, runs = 4) { docs =>
      val df = docs.toDF("doc_id", "text")
      val corpus = df.filter(col("doc_id") % 3 =!= 0)
      val bench = df.filter(col("doc_id") % 3 === 0)
      if (bench.count() > 0 && corpus.count() > 0) {
        val exact = Curation.decontaminate(corpus, bench, n = 2).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val bloom = Curation.decontaminateBloom(corpus, bench, n = 2).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(exact.keySet === bloom.keySet)
        // per doc the Bloom count dominates the exact count: a Bloom filter
        // can only ADD matches (false positives), never lose one
        val lost = exact.collect { case (id, m) if bloom(id) < m => id }
        assert(lost.isEmpty, s"bloom lost matches for docs: $lost")
      }
    }
  }

  test("fastHash split matches slow-hash proportions within 1% and keeps dups together") {
    // the xxhash64 scale path assigns different individual documents than the
    // rolling-hash oracle path (different hash, same semantics), but the split
    // MASS must agree: per-split proportions within 1 percentage point on a
    // 20k-DISTINCT-doc corpus (deterministic — fixed texts, fixed hashes).
    // Distinct matters: the sf fixtures plant duplicate groups, which share
    // one hash draw each and widen the small val/test strata past 1pp.
    val corpus = (0 until 20000).map { i =>
      (i.toLong, f"w${i * 2654435761L}%x x${i * 40503L + 7}%x tok$i")
    }.toDF("doc_id", "text")
    val fracs = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val n = corpus.count().toDouble
    def props(fast: Boolean): Map[String, Double] =
      Curation.assignSplit(corpus, fracs, fastHash = fast)
        .groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    val slow = props(fast = false); val fastP = props(fast = true)
    for ((name, _) <- fracs) {
      val d = math.abs(slow.getOrElse(name, 0.0) - fastP.getOrElse(name, 0.0))
      assert(d <= 0.01, f"split '$name' proportions diverge by ${d * 100}%.2f%% " +
        f"(slow=${slow.getOrElse(name, 0.0)}%.4f fast=${fastP.getOrElse(name, 0.0)}%.4f)")
    }
    // leakage guard holds on the fast path too: content-identical docs draw
    // the same split (pure content hash — no doc_id, no partition state)
    val dups = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta"), (4L, "delta epsilon zeta")).toDF("doc_id", "text")
    val perText = Curation.assignSplit(dups, fracs, fastHash = true)
      .join(dups, "doc_id").groupBy("text").agg(countDistinct(col("split")).as("k"))
    assert(perText.collect().forall(_.getLong(1) === 1L), "duplicate docs split apart")
  }

  test("semantic curation: quality gate composes with embedding-space dedup") {
    val docs = Seq(
      (1L, "the cat and the dog in the data"),
      (2L, "zz qq"),                                  // fails the minTokens gate
      (3L, "the dog and the cat of the spark"),       // embedding-identical to 1
      (4L, "the data of the spark and the graft")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // the pipeline_curate_semantic composition: quality survivors first, then
    // SemDeDup over the survivors' embeddings
    val surv = Curation.scoredSurvivors(docs, "en", 5, 100.0).select(col("doc_id").as("vec_id"))
    val kept = graft.operators.Similarity.semanticDedup(
        emb.join(surv, Seq("vec_id"), "left_semi"), 0.9, nlist = 2, nassign = 1)
      .filter(col("keep")).select("vec_id")
    // 2 fails quality (never reaches the dedup); 3 is a semantic dup of 1
    assert(kept.collect().map(_.getLong(0)).toSet === Set(1L, 4L))
  }

  test("chunking covers every token exactly: stride-prefixes + last chunk reconstruct the doc") {
    forAll(genDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val chunkSize = 7
      val overlap = 3
      val stride = chunkSize - overlap
      val chunks = Curation.chunkDocuments(df, chunkSize, overlap)
        .select("doc_id", "chunk_id", "chunk_text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
      docs.groupBy(_._1).view.mapValues(_.head._2).foreach { case (id, text) =>
        val toks = text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1).toList
        val cs = chunks(id)
        // each chunk except the last contributes its first `stride` tokens;
        // the last contributes all of its tokens
        val rebuilt = cs.init.flatMap(_.split(" ", -1).take(stride)) ++
          cs.last.split(" ", -1).toList
        assert(rebuilt === toks, s"doc $id: chunks $cs")
        // every chunk is at most chunkSize tokens; only the last may be short
        assert(cs.forall(_.split(" ", -1).length <= chunkSize))
        assert(cs.init.forall(_.split(" ", -1).length === chunkSize))
      }
    }
  }

  test("packing: packs respect the budget boundary rule and preserve every doc once") {
    forAll(genDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val budget = 30L
      val out = Curation.packByTokenBudget(df, budget, groups = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(out.length === docs.map(_._1).distinct.length)
      // recompute the expected pack id serially per group
      out.groupBy(_._2).foreach { case (_, rows) =>
        var cum = 0L
        rows.sortBy(_._1).foreach { case (id, _, n, packId) =>
          assert(packId === cum / budget, s"doc $id")
          cum += n
        }
      }
    }
  }

  test("zorderKey: interleave is exact (deinterleave recovers coords) and per-axis monotone") {
    import graft.sources.Lake
    val pts = (0 until 200).map { i =>
      (math.abs(scala.util.hashing.MurmurHash3.stringHash(s"x$i")) % 256,
        math.abs(scala.util.hashing.MurmurHash3.stringHash(s"y$i")) % 256)
    }
    val df = pts.toDF("x", "y")
      .withColumn("z", Lake.zorderKey(Seq(col("x"), col("y")), Seq(0.0, 0.0),
        Seq(255.0, 255.0), bits = 8))
    df.collect().foreach { r =>
      val (x, y, z) = (r.getInt(0), r.getInt(1), r.getLong(2))
      // deinterleave: even bit positions carry x, odd carry y
      var (dx, dy) = (0L, 0L)
      for (i <- 0 until 8) {
        dx |= ((z >> (2 * i)) & 1L) << i
        dy |= ((z >> (2 * i + 1)) & 1L) << i
      }
      assert(dx == x && dy == y, s"z=$z decoded to ($dx,$dy), expected ($x,$y)")
    }
    // monotone per axis: z strictly grows with one coordinate when the other is fixed
    val zs = spark.range(256).select(col("id").cast("int").as("x"), lit(7).as("y"))
      .select(col("x"), Lake.zorderKey(Seq(col("x"), col("y")), Seq(0.0, 0.0),
        Seq(255.0, 255.0), 8).as("z"))
      .orderBy("x").collect().map(_.getLong(1)).toSeq
    assert(zs == zs.sorted && zs.distinct.size == zs.size)
  }

  test("Misra-Gries heavy hitters: undercount bounded by n/(capacity+1), hot items survive") {
    // skewed stream: "hot" is 50% of 20k rows; the tail spreads over 97 keys
    val n = 20000
    val capacity = 16
    val data = (0 until n).map(i => if (i % 2 == 0) "hot" else s"t${i % 97}")
    val df = data.toDF("item").repartition(8) // force multi-partition merge
    val est = Ops.approxHeavyHitters(df, "item", k = capacity, capacity = capacity)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = data.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val bound = n.toDouble / (capacity + 1)
    est.foreach { case (item, e) =>
      val t = exact(item)
      assert(e <= t, s"$item overcounted: est $e > true $t")
      assert(t - e <= bound, s"$item undercount ${t - e} exceeds bound $bound")
    }
    assert(est.contains("hot"), "guaranteed heavy hitter (freq >> n/capacity) missing")
    assert(est("hot") >= n / 2 - bound.toLong)
  }

  test("per-group Misra-Gries: exact regime equals direct top-k; approx bounded per group") {
    // exact regime: distinct per group < capacity
    val data = (0 until 5000).map(i => (s"g${i % 3}", s"v${i % 17}"))
    val df = data.toDF("grp", "item").repartition(8)
    val est = Ops.approxHeavyHittersByKey(df, "grp", "item", k = 4, capacity = 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((g, v), c) => (g, v, c) }
      .groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy { case (_, v, c) => (-c, v) }.take(4)
      }.toSet
    assert(est === exact)
    // approximate regime: per-group undercount bound n_g/(capacity+1)
    val skew = (0 until 9000).map(i =>
      ("g0", if (i % 2 == 0) "hot" else s"t${i % 89}"))
    val sdf = skew.toDF("grp", "item").repartition(8)
    val se = Ops.approxHeavyHittersByKey(sdf, "grp", "item", k = 8, capacity = 8)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val strue = skew.map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bound = 9000.0 / 9
    se.foreach { case (item, e) =>
      assert(e <= strue(item), s"$item overcounted")
      assert(strue(item) - e <= bound, s"$item undercount exceeds n_g/(cap+1)")
    }
    assert(se.contains("hot"))
  }

  test("star-contraction components equal min-label components on random graphs") {
    import graft.operators.Dedup
    val genGraph: Gen[(List[Long], List[(Long, Long)])] = for {
      n <- Gen.choose(2, 30)
      nodes = (1L to n.toLong).toList
      extra <- Gen.listOf(for {
        a <- Gen.choose(1L, n.toLong)
        d <- Gen.choose(1L, n.toLong - 1)
        b = ((a - 1 + d) % n) + 1 // guaranteed != a, no filter (Gen can't exhaust)
      } yield (math.min(a, b), math.max(a, b)))
      // always include one long chain — the deep-diameter case star
      // contraction exists for
      chainLen <- Gen.choose(2, n)
    } yield (nodes,
      (1L until chainLen.toLong).map(i => (i, i + 1)).toList ++ extra)
    forAll(genGraph, runs = 6) { case (nodes, edges) =>
      val docs = nodes.map(Tuple1(_)).toDF("doc_id")
      val pairs = if (edges.isEmpty) Seq((1L, 1L)).toDF("a_id", "b_id").limit(0)
        else edges.toDF("a_id", "b_id")
      // the driver union-find path and its large-graph fallback, star
      // contraction, must agree
      val fast = rowSet(Dedup.resolveClusters(docs, pairs))
      val star = rowSet(Dedup.resolveClustersStar(docs, pairs))
      assert(star === fast)
    }
  }

  test("labelPropagate's driver rounds equal its distributed rounds on random graphs") {
    import graft.operators.Graph
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val genCase = for {
      n <- Gen.choose(2, 20)
      pairs <- Gen.listOf(Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
      seeds <- Gen.listOf(Gen.zip(Gen.choose(0, n - 1), Gen.choose(0L, 3L)))
      iters <- Gen.choose(1, 4)
      stringIds <- Gen.oneOf(true, false)
      nullLabel <- Gen.oneOf(true, false)
    } yield {
      // a self-loop and a duplicate edge always; nodes n and n + 1 form a
      // component no seed reaches; node n + 2 is seeded but has no edges
      val edges = (0, 0) :: (0, 1) :: (0, 1) :: (n, n + 1) :: (n + 1, n) :: pairs
      val s = (0, Option(1L)) :: (0, Option(1L)) :: (n + 2, Option(2L)) ::
        (if (nullLabel) List((n - 1, Option.empty[Long])) else Nil) ++
        seeds.map { case (v, l) => (v, Option(l)) }
      (edges, s, iters, stringIds)
    }
    def multiset(df: DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    forAll(genCase) { case (edges, seeds, iters, stringIds) =>
      val (e, s) =
        if (stringIds) (edges.map { case (a, b) => (s"n$a", s"n$b") }.toDF("src", "dst"),
          seeds.map { case (v, l) => (s"n$v", l) }.toDF("node", "label"))
        else (edges.map { case (a, b) => (a * 3L, b * 3L) }.toDF("src", "dst"),
          seeds.map { case (v, l) => (v * 3L, l) }.toDF("node", "label"))
      val driver = Graph.labelPropagate(e, s, iters)
      assert(driver.queryExecution.logical.isInstanceOf[LocalRelation],
        "a graph this small must take the driver path")
      assert(multiset(driver) === multiset(Graph.labelPropagateRounds(e, s, iters)))
    }
  }

  // ---- sketches: quantitative error bounds vs their exact twins -------------

  test("approx_count_distinct is within the documented HLL error of the exact count") {
    forAll(genEvents) { evs =>
      val df = evs.toDF()
      val merged = df.groupBy("event_type")
        .agg(countDistinct(col("event_id")).as("exact"),
          approx_count_distinct(col("event_id")).as("approx"))
        .collect()
      merged.foreach { r =>
        val exact = r.getLong(1).toDouble
        val approx = r.getLong(2).toDouble
        // default rsd = 0.05; 4 sigma + small-count slack — deterministic per
        // multiset, the bound documents the contract a user can size against
        assert(math.abs(approx - exact) <= math.max(4 * 0.05 * exact, 2.0),
          s"${r.getString(0)}: approx=$approx exact=$exact")
      }
    }
  }

  test("approx_percentile rank error is bounded by n/accuracy") {
    forAll(genEvents) { evs =>
      val df = evs.toDF()
      val accuracy = 100
      val approx = df.agg(expr(s"approx_percentile(value, 0.5, $accuracy)")).head().getDouble(0)
      val values = evs.map(_.value).sorted
      val n = values.length
      // approx_percentile guarantees a rank within n/accuracy of the target
      val rank = values.count(_ <= approx)
      val target = 0.5 * n
      assert(math.abs(rank - target) <= n.toDouble / accuracy + 1,
        s"rank=$rank target=$target n=$n approx=$approx")
    }
  }

  test("hourTotals equals direct per-hour count") {
    forAll(genEvents) { evs =>
      val direct = evs.toDF()
        .groupBy(Ops.hourBucket(col("ts")).as("hour_bucket"))
        .agg(count(lit(1)).as("total"))
      assert(rowSet(Views.hourTotals(evs.toDF())) === rowSet(direct))
    }
  }

  test("banded edit distance equals Spark's levenshtein on every random pair") {
    val genPair: Gen[(String, String)] = for {
      base <- Gen.listOfN(30, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString)
      // mutate a few positions so distances cluster around the threshold
      edits <- Gen.choose(0, 12)
      other <- Gen.listOfN(40, Gen.oneOf('a', 'b', 'c', 'd', ' ')).map(_.mkString)
      mixed <- Gen.oneOf(base.take(30 - edits) + other.take(edits), other, base)
    } yield (base, mixed)
    forAll(Gen.listOfN(30, genPair), runs = 4) { pairs =>
      val df = pairs.toDF("l", "r")
      val k = 6
      val got = df.select(
        graft.functions.BandedEditDistanceExpr.bandedEditDistance(col("l"), col("r"), k).as("banded"),
        levenshtein(col("l"), col("r"), k).as("spark")).collect()
      got.foreach { row =>
        assert(row.getInt(0) === row.getInt(1),
          s"banded=${row.getInt(0)} spark=${row.getInt(1)}")
      }
    }
  }

  // ---- corpus governance ----------------------------------------------------

  test("decontaminate partitions every corpus; the clean half is a fixpoint") {
    forAll(genDocs, runs = 4) { docs =>
      val all = docs.toDF("doc_id", "text")
      val bench = all.filter(col("doc_id") % 3 === 0)
      val corpus = all.filter(col("doc_id") % 3 =!= 0)
      val verdicts = Curation.decontaminate(corpus, bench, n = 3)
      // completeness: one verdict per corpus doc, no drops, no invention
      assert(verdicts.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        === corpus.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
      // running decontamination again on the clean survivors finds nothing
      val clean = corpus.join(
        verdicts.filter(!col("contaminated")).select("doc_id"), "doc_id")
      val second = Curation.decontaminate(clean, bench, n = 3)
      assert(second.filter(col("contaminated")).count() === 0L,
        "clean set must be a decontamination fixpoint")
    }
  }

  test("mixtureSample keep-set grows monotonically with the domain weight") {
    forAll(genDocs, runs = 4) { docs =>
      val df = docs.toDF("doc_id", "text").withColumn("source", lit("web"))
      val keeps = Seq(0.0, 0.25, 0.5, 1.0).map { w =>
        Curation.mixtureSample(df, Map("web" -> w))
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      keeps.sliding(2).foreach { case Seq(lo, hi) =>
        assert(lo.subsetOf(hi), s"raising the weight lost docs: ${lo -- hi}")
      }
      assert(keeps.head.isEmpty && keeps.last.size === df.count())
    }
  }

  test("incrementalDedup equals the from-first-principles batch formulation") {
    forAll(genDocs, runs = 4) { docs =>
      val all = docs.toDF("doc_id", "text")
      val batch = all.filter(col("doc_id") % 2 === 0)
      val base = all.filter(col("doc_id") % 2 =!= 0)
      val got = rowSet(graft.operators.Dedup.incrementalDedup(batch, base))
      val norm = graft.functions.TextFns.normalize(col("text"))
      val expected = rowSet(
        batch.groupBy(norm.as("n"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("batch_dup_count"))
          .join(base.select(norm.as("n")).distinct(), Seq("n"), "left_anti")
          .select("doc_id", "batch_dup_count"))
      assert(got === expected)
    }
  }

  test("inverted index round-trips: exploded postings equal distinct (doc, term) pairs") {
    forAll(genDocs, runs = 4) { docs =>
      val df = docs.toDF("doc_id", "text")
      val idx = graft.operators.Search.invertedIndex(df)
      // df column equals the postings length for every term
      assert(idx.filter(col("df") =!= size(col("postings"))).count() === 0L)
      val fromIndex = rowSet(idx.select(col("term"), explode(col("postings")).as("doc_id")))
      val direct = rowSet(df
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.TextFns.tokens(col("text")))).as("term"))
        .select("term", "doc_id"))
      assert(fromIndex === direct)
    }
  }

  private def cleanTokens(t: String): List[String] =
    t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ", -1).filter(_.nonEmpty).toList

  test("tfidf weights: tf sums to token counts, df counts docs, idf recomputes exactly") {
    forAll(genDocs, runs = 4) { docsList =>
      val df = docsList.toDF("doc_id", "text")
      val toks = docsList.map { case (id, t) => id -> cleanTokens(t) }.toMap
      val n = docsList.size.toDouble
      val rows = graft.operators.Search.tfidfWeights(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      val tfSum = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
      toks.foreach { case (id, ts) =>
        assert(tfSum.getOrElse(id, 0.0) === ts.size.toDouble, s"tf mass wrong for doc $id")
      }
      val docsPerTerm = toks.toList
        .flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.size.toDouble).toMap
      rows.foreach { case (term, id, tf, dfv, w) =>
        assert(dfv === docsPerTerm(term), s"df wrong for '$term'")
        assert(tf === toks(id).count(_ == term).toDouble, s"tf wrong for ('$term', $id)")
        val expW = tf * (math.log((1 + n) / (1 + dfv)) + 1)
        assert(math.abs(w - expW) < 1e-9, s"w mismatch for ('$term', $id): $w vs $expW")
      }
    }
  }

  test("tfidf cosine: every planted duplicate scores exactly 1.0; no score exceeds 1") {
    forAll(genDocs, runs = 4) { docsList =>
      val dupGroup = docsList.groupBy(_._2).values.find(_.size >= 2)
      dupGroup.foreach { group =>
        val ids = group.map(_._1).sorted
        val df = docsList.toDF("doc_id", "text")
        val r = graft.operators.Search
          .tfidfCosineTopK(graft.operators.Search.tfidfWeights(df), ids.head,
            k = docsList.size)
          .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
        ids.tail.foreach(twin =>
          assert(r(twin) === 1.0, s"duplicate $twin of ${ids.head} must score 1.0: $r"))
        assert(r.values.forall(_ <= 1.0 + 2e-6), s"cosine above 1: $r")
      }
    }
  }

  test("cooccurrencePmi equals a driver-side recomputation for every corpus") {
    forAll(genDocs, runs = 4) { docsList =>
      val df = docsList.toDF("doc_id", "text")
      val toksAll = docsList.map(d => cleanTokens(d._2))
      val uni = toksAll.flatten.groupBy(identity).view.mapValues(_.size.toDouble).toMap
      val nTotal = toksAll.map(_.size).sum.toDouble
      val bigr = toksAll.flatMap(_.sliding(2).filter(_.size == 2).map(p => (p.head, p(1))))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val exp = bigr.toList.map { case ((a, b), c) =>
        (a, b, math.log(c * nTotal / (uni(a) * uni(b))))
      }.sortBy { case (a, b, p) => (-p, a, b) }
      val got = graft.operators.Curation
        .cooccurrencePmi(df, minCount = 1, topN = bigr.size + 10).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(5)))
      assert(got.length === exp.length, s"pair count ${got.length} vs ${exp.length}")
      got.zip(exp).foreach { case ((ga, gb, gp), (ea, eb, ep)) =>
        assert(ga === ea && gb === eb, s"order diverged at ($ga,$gb) vs ($ea,$eb)")
        assert(math.abs(gp - ep) < 1e-6, s"pmi($ga,$gb) = $gp vs $ep")
      }
    }
  }

  test("curateAudit: verdicts partition the corpus, kept = curateCorpus, forms agree") {
    forAll(genDocs, runs = 4) { docsList =>
      val df = docsList.toDF("doc_id", "text")
      val audit = Curation.curateAudit(df, lang = "en", minTokens = 5,
        maxAvgTokenLen = 100.0)
      val rows = audit.collect()
      assert(rows.length === docsList.length, "every input doc gets one verdict")
      val kept = rows.filter(_.getString(1) == "kept").map(_.getLong(0)).toSet
      val curated = Curation.curateCorpus(df, lang = "en", minTokens = 5,
        maxAvgTokenLen = 100.0).collect().map(_.getLong(0)).toSet
      assert(kept === curated, "kept set must equal the curated corpus")
      // every duplicate names a kept survivor
      rows.filter(_.getString(1) == "duplicate").foreach { r =>
        assert(kept.contains(r.getLong(2)), s"dup ${r.getLong(0)} names a non-kept survivor")
      }
      // the fingerprint form produces identical verdicts on this corpus
      val fp = Curation.curateAudit(df, lang = "en", minTokens = 5,
        maxAvgTokenLen = 100.0, fastHash = true)
      assert(rowSet(fp) === rowSet(audit))
    }
  }

  test("snapshotDiff: added/removed/changed verdicts, unchanged omitted") {
    val old = Seq((1L, "kept the same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "kept  THE same"), // normalize-equal -> unchanged, omitted
      (2L, "has changed"), (4L, "brand new")).toDF("doc_id", "text")
    val r = rowSet(graft.operators.Curation.snapshotDiff(old, neu))
    assert(r === Set(Seq(2L, "changed"), Seq(3L, "removed"), Seq(4L, "added")), s"got $r")
  }

  test("snapshotDiff: null-text presence comes from markers, not fingerprint nullness") {
    val old = Seq((1L, None: Option[String]), (2L, Option("was text")),
      (3L, None: Option[String])).toDF("doc_id", "text")
    val neu = Seq((1L, None: Option[String]), // null in both -> unchanged, omitted
      (2L, None: Option[String]), // text -> null: changed, not silently dropped
      (4L, None: Option[String])).toDF("doc_id", "text") // new null doc -> added
    val r = rowSet(graft.operators.Curation.snapshotDiff(old, neu))
    assert(r === Set(Seq(2L, "changed"), Seq(3L, "removed"), Seq(4L, "added")), s"got $r")
  }

  test("containmentPairsPrefix equals containmentPairs when no gram exceeds maxDf") {
    // maxDf = corpus size makes both forms exact (df can never exceed the
    // number of docs), the regime where the prefix filter is a pure
    // candidate-pruning optimization — outputs must be bit-identical
    forAll(genDocs, runs = 4) { docsList =>
      val df = docsList.toDF("doc_id", "text")
      val cap = math.max(docsList.length, 2)
      Seq(0.6, 0.9).foreach { t =>
        val b = rowSet(graft.operators.Dedup.containmentPairs(df, n = 2, maxDf = cap, threshold = t))
        val p = rowSet(graft.operators.Dedup.containmentPairsPrefix(df, n = 2, maxDf = cap, threshold = t))
        assert(p === b, s"threshold $t corpus ${docsList.size}")
      }
    }
  }

  test("dsirWeights equals a driver-side recomputation for every corpus/target") {
    forAll(genDocs, runs = 4) { docsList =>
      val df = docsList.toDF("doc_id", "text")
      val target = docsList.take(math.max(1, docsList.size / 2))
      def feats(t: String): List[String] = {
        val toks = t.toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
          .filter(_.nonEmpty).toList
        toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      }
      val cR = docsList.flatMap(d => feats(d._2)).groupBy(identity)
        .view.mapValues(_.size.toDouble).toMap
      val cT = target.flatMap(d => feats(d._2)).groupBy(identity)
        .view.mapValues(_.size.toDouble).toMap
      val vocab = cR.keySet.size.toDouble // target ⊆ raw here
      val rTot = cR.values.sum; val tTot = cT.values.sum
      val norm = math.log(rTot + 0.5 * vocab) - math.log(tTot + 0.5 * vocab)
      val exp = docsList.map { case (id, t) =>
        val fs = feats(t)
        id -> BigDecimal(fs.map(f => math.log((cT.getOrElse(f, 0.0) + 0.5) / (cR(f) + 0.5))).sum
          + fs.size * norm).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      val got = Curation.dsirWeights(df, target.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got.keySet === exp.keySet)
      got.foreach { case (id, (nf, lw)) =>
        assert(nf === feats(docsList.find(_._1 == id).get._2).size.toLong)
        assert(math.abs(lw - exp(id)) < 2e-6, s"doc $id: $lw vs ${exp(id)}")
      }
    }
  }

  test("dsirWeights hashed twin selects nearly the same top half as the exact form") {
    forAll(genDocs, runs = 4) { docsList =>
      val df = docsList.toDF("doc_id", "text")
      val target = docsList.take(math.max(1, docsList.size / 2)).toDF("doc_id", "text")
      def topHalf(out: Array[(Long, Double)]): Set[Long] = {
        val k = math.max(1, out.length / 2)
        out.sortBy { case (id, w) => (-w, id) }.take(k).map(_._1).toSet
      }
      val exact = Curation.dsirWeights(df, target).collect()
        .map(r => (r.getLong(0), r.getDouble(2)))
      val hashed = Curation.dsirWeights(df, target, hashBuckets = 4096).collect()
        .map(r => (r.getLong(0), r.getDouble(2)))
      val (e, h) = (topHalf(exact), topHalf(hashed))
      val overlap = (e & h).size.toDouble / e.size
      assert(overlap >= 0.7, s"top-half selection overlap $overlap < 0.7")
    }
  }

  test("gopherQualityRules: each rule fires on its own violation and keep is the conjunction") {
    val stop35 = "the cat and the dog ran to the park with friends that have been " +
      "waiting there since noon because they wanted to play fetch under trees " +
      "near the river bank before sunset arrived today"
    val docs = Seq(
      (1L, stop35),                                   // passes every rule
      (2L, "too short to pass"),                      // word count < 30
      (3L, ("### " * 20) + stop35),                   // symbol ratio > 0.1
      (4L, (1 to 35).map(_.toString).mkString(" ")),  // numeric words: alpha frac 0
      (5L, (1 to 35).map(i => s"zzz$i").mkString(" ")), // alpha ok, zero stopwords
      (6L, Seq.fill(35)("extraordinarily").mkString(" "))) // mean word len > 10
      .toDF("doc_id", "text")
    val out = Curation.gopherQualityRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(6) && out(1L).getBoolean(7) && out(1L).getBoolean(8) &&
      out(1L).getBoolean(9) && out(1L).getBoolean(10) && out(1L).getBoolean(11),
      "doc 1 must pass all rules")
    assert(!out(2L).getBoolean(6), "doc 2 fails word count")
    assert(!out(3L).getBoolean(8), "doc 3 fails symbol ratio")
    assert(!out(4L).getBoolean(9), "doc 4 fails alpha fraction")
    assert(!out(5L).getBoolean(10), "doc 5 fails stopwords")
    assert(!out(6L).getBoolean(7), "doc 6 fails mean word length")
    // keep is exactly the conjunction of the five rule columns, per row
    Curation.gopherQualityRules(docs).collect().foreach { r =>
      assert(r.getBoolean(11) ===
        (r.getBoolean(6) && r.getBoolean(7) && r.getBoolean(8) &&
          r.getBoolean(9) && r.getBoolean(10)), s"keep mismatch for doc ${r.getLong(0)}")
    }
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Independent driver-side recomputation of the Gopher repetition signals
    * (the GramRepetitionExpr contract: top = count x len of the most frequent
    * gram, smallest-gram tie-break; dup = span UNION of grams occurring >= 2). */
  private def repetitionRecompute(text: String, n: Int): (Double, Double) = {
    def chars(s: String): Int = s.codePointCount(0, s.length) // match Spark length()
    val norm = Option(text).getOrElse("").toLowerCase.trim.replaceAll("\\s+", " ")
    val toks = norm.split(" ", -1)
    val m = toks.length
    val denom = math.max(chars(norm), 1).toDouble
    if (m < n) return (0.0, 0.0)
    val offsets = toks.scanLeft(0)((a, t) => a + chars(t) + 1)
    val grams = (0 to m - n).map(i => toks.slice(i, i + n).mkString(" "))
    val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
    val (topGram, topCount) = counts.toSeq.minBy { case (g, c) => (-c, g) }
    var dup = 0L
    var covered = 0
    for (i <- 0 to m - n if counts(grams(i)) >= 2) {
      val s = math.max(offsets(i), covered)
      val e = offsets(i + n - 1) + chars(toks(i + n - 1))
      if (e > s) { dup += e - s; covered = e }
    }
    (round6(topCount.toLong * chars(topGram) / denom), round6(dup / denom))
  }

  test("gopherRepetitionStats: hand-computed fractions, span-union overlap, edges") {
    val docs = Seq(
      (1L, "a b a b a b"),   // top "a b" 3x3/11; dup union covers everything
      (2L, "a b c d"),       // all grams unique: top is smallest gram, dup 0
      (3L, "x x x a b c"),   // overlapping "x x" spans union to [0,5)
      (4L, "z z z z"),       // top-frac exceeds 1 on a single-token loop: 9/7
      (5L, "solo"),          // shorter than n: both 0
      (6L, "")               // empty text: both 0
    ).toDF("doc_id", "text")
    val out = Curation.gopherRepetitionStats(docs, n = 2,
      maxTopGramFrac = 0.20, maxDupGramFrac = 0.60)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(1L) === (round6(9.0 / 11), 1.0, false))
    // even a count-1 top gram counts (the Gopher rule presumes long docs,
    // hence its >= 50-word sibling rule): 3/7 > 0.20 -> rejected
    assert(out(2L) === (round6(3.0 / 7), 0.0, false))
    assert(out(3L) === (round6(6.0 / 11), round6(5.0 / 11), false))
    assert(out(4L) === (round6(9.0 / 7), 1.0, false))
    assert(out(5L) === (0.0, 0.0, true))
    assert(out(6L) === (0.0, 0.0, true))
  }

  test("gopherRepetitionStats equals a driver-side recomputation on every corpus") {
    for (n <- Seq(2, 3)) forAll(genDocs, runs = 4) { docsList =>
      val expected = docsList.map { case (id, t) => id -> repetitionRecompute(t, n) }.toMap
      val out = Curation.gopherRepetitionStats(docsList.toDF("doc_id", "text"), n = n)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(out === expected, s"repetition mismatch at n=$n")
    }
  }

  test("weightedSample equals a driver-side recomputation of the ES ranking") {
    forAll(genDocs, runs = 4) { docsList =>
      val withW = docsList.map { case (id, t) => (id, t, (id % 7) + 1) }
      val df = withW.toDF("doc_id", "text", "n_chars")
      def fp(s: String): Long = s.toLowerCase.trim.replaceAll("\\s+", " ")
        .replaceAll("[^a-z0-9 ]", "")
        .foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
      val exp = withW.map { case (id, t, w) =>
        val u = (fp(t) % 10000 + 0.5) / 10000.0
        (id, BigDecimal(math.log(u) / w)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, k) => (-k, id) }.take(5).map(_._1)
      val got = graft.operators.Curation.weightedSample(df, k = 5).collect()
        .map(_.getLong(0)).toList
      assert(got === exp, s"ES ranking diverged: $got vs $exp")
    }
  }

  test("WinnowExpr equals the rightmost-min reference for every hash array and window") {
    // duplicate-heavy small domain forces tie-breaks; occasional nulls
    // exercise the null-winner guard (a null never becomes a fingerprint)
    val genArr: Gen[List[Option[Long]]] =
      Gen.choose(0, 30).flatMap(n => Gen.listOfN(n,
        Gen.frequency(9 -> Gen.choose(0L, 6L).map(Some(_)), 1 -> Gen.const(None))))
    def ref(hs: List[Option[Long]], w: Int): Set[(Int, Long)] =
      if (hs.length < w) Set.empty
      else (0 to hs.length - w).flatMap { i =>
        val win = hs.slice(i, i + w).map(_.getOrElse(Long.MaxValue))
        val m = win.min
        val mp = i + win.lastIndexOf(m)
        if (hs(mp).isEmpty) None else Some((mp, m))
      }.toSet
    forAll(genArr, runs = 24) { hs =>
      for (w <- Seq(1, 2, 3, 5)) {
        val got = Seq(Tuple1(hs)).toDF("hs")
          .select(explode(graft.functions.WinnowExpr.winnow($"hs", w)).as("f"))
          .select("f.pos", "f.fp").collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSet
        assert(got === ref(hs, w), s"w=$w hs=$hs")
        // structural invariants: selections are gram positions, non-decreasing
        // order arrives pre-deduplicated, density bounded by windows
        val poss = Seq(Tuple1(hs)).toDF("hs")
          .select(explode(graft.functions.WinnowExpr.winnow($"hs", w)).as("f"))
          .select("f.pos").collect().map(_.getInt(0)).toList
        assert(poss === poss.sorted && poss.distinct == poss, s"w=$w positions $poss")
        assert(poss.size <= math.max(0, hs.length - w + 1))
      }
    }
  }

  test("stateless frequent-segment removal is idempotent for every doc set") {
    val genSeg: Gen[String] = Gen.oneOf("alpha beta", "subscribe now", "gamma",
      "delta content here", "zq banner")
    val genDoc: Gen[String] =
      Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, genSeg)).map(_.mkString(". "))
    val genDocs: Gen[List[String]] = Gen.choose(2, 25).flatMap(n => Gen.listOfN(n, genDoc))
    forAll(genDocs, runs = 10) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val model = graft.operators.Dedup.frequentSegmentModel(df, minDf = 3)
      val once = graft.operators.Dedup.removeFrequentSegmentsStateless(df, model)
      val twice = graft.operators.Dedup.removeFrequentSegmentsStateless(
        once.select(col("doc_id"), col("text_cleaned").as("text")), model)
      // pass 2 over cleaned text removes nothing: the kept segments are by
      // construction outside the model, and reassembly with ". " re-splits
      // into exactly those segments
      assert(twice.agg(sum("n_segments_removed")).head().getLong(0) === 0L,
        s"second pass removed segments: ${rowList(twice)}")
      assert(rowSet(twice.select(col("doc_id"), col("text_cleaned"))) ===
        rowSet(once.select(col("doc_id"), col("text_cleaned"))))
      // and the join form agrees with the stateless form on every corpus
      assert(rowSet(graft.operators.Dedup.removeFrequentSegments(df, minDf = 3)) ===
        rowSet(once))
    }
  }
}
