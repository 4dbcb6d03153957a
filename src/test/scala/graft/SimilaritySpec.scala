package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.VectorFns

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 4-dim unit vectors with hand-computable cosines
  private def emb = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(1.0f, 0.0f, 0.0f, 0.0f)),           // identical to 1
    (4L, Array(0.6f, 0.8f, 0.0f, 0.0f))            // cos with 1 = 0.6, with 2 = 0.8
  ).toDF("vec_id", "embedding")

  test("dot / l2 / cosine column functions") {
    val r = emb.filter($"vec_id" === 4).select(
      VectorFns.dot($"embedding", $"embedding"),
      VectorFns.l2Norm($"embedding")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-6)
  }

  test("cosineDupPairs returns all pairs at or above threshold, a_id < b_id") {
    val r = rowSet(Similarity.cosineDupPairs(emb, 0.5).select("a_id", "b_id", "cosine"))
    assert(r === Set(
      Seq(1L, 3L, 1.0),        // identical
      Seq(1L, 4L, 0.6),
      Seq(2L, 4L, 0.8),
      Seq(3L, 4L, 0.6)))       // 3 ≡ 1, so it pairs with 4 the same way
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break, excludes self") {
    val r = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 1), 2)
    assert(rowList(r.select("vec_id", "rank")) === Seq(Seq(3L, 1), Seq(4L, 2)))
  }

  test("fanOut is partitioning-invariant: same results from 1-partition and pre-spread input") {
    // r17: the quadratic scan stages repartition a narrow source up to the
    // session parallelism (Similarity.fanOut). The results must not depend on
    // the incoming partitioning — pin bruteForceTopK and cosineDupPairs over
    // a 1-partition input against an already-spread input.
    val one = emb.repartition(1)
    val many = emb.repartition(8, $"vec_id")
    assert(rowSet(Similarity.bruteForceTopK(one, one, 2)) ===
      rowSet(Similarity.bruteForceTopK(many, many, 2)))
    assert(rowSet(Similarity.cosineDupPairs(one, 0.5)) ===
      rowSet(Similarity.cosineDupPairs(many, 0.5)))
    // and the fan-out actually widens a narrow source to the parallelism
    val p = spark.sparkContext.defaultParallelism
    assert(Similarity.fanOut(one, "vec_id").rdd.getNumPartitions >= math.min(p, 2))
  }

  test("lshTopK finds identical vectors (same bucket in every table)") {
    val r = Similarity.lshTopK(emb, emb.filter($"vec_id" === 1), k = 2, dim = 4)
    val top = rowList(r.filter($"rank" === 1).select("vec_id")).flatten
    assert(top === Seq(3L), s"identical vector must be rank 1, got $top")
  }

  test("cosineDupPairsLsh finds identical pairs with exact scores, subset of all-pairs") {
    val lsh = rowSet(Similarity.cosineDupPairsLsh(emb, 0.5, dim = 4, nbits = 4)
      .select("a_id", "b_id", "cosine"))
    val all = rowSet(Similarity.cosineDupPairs(emb, 0.5).select("a_id", "b_id", "cosine"))
    assert(lsh.subsetOf(all), s"LSH produced a pair the exact form lacks: ${lsh -- all}")
    assert(lsh.contains(Seq(1L, 3L, 1.0)), "identical vectors share every bucket")
  }

  test("ivfTopK finds identical vectors (always the same cell) and excludes self") {
    val r = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 1), k = 2, nlist = 2, nprobe = 1)
    val top = rowList(r.filter($"rank" === 1).select("vec_id")).flatten
    assert(top === Seq(3L), s"identical vector must be rank 1, got $top")
    assert(!rowList(r.select("vec_id")).flatten.contains(1L), "self-match must be excluded")
  }

  test("dot: a null ELEMENT nulls the result, matching the HOF form") {
    val df = Seq(
      (1L, Seq(Option(1.0), None, Option(3.0)), Seq(Option(1.0), Option(1.0), Option(1.0))),
      (2L, Seq(Option(1.0), Option(2.0)), Seq(Option(3.0), Option(4.0)))
    ).toDF("id", "a", "b")
    val r = df.select($"id", VectorFns.dot($"a", $"b").as("native"),
        aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
          .as("hof"))
      .collect().map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) null else row.getDouble(1),
          if (row.isNullAt(2)) null else row.getDouble(2))).toMap
    assert(r(1L) === ((null, null)), "null element must poison the product in BOTH forms")
    assert(r(2L) === ((11.0, 11.0)))
  }

  // ---- recall@k gates: quality evidence for every approximate path ----------
  // The sf0.001 embeddings fixture is NEAR-ORTHOGONAL (max pairwise cosine
  // 0.48) — the hard case for locality-sensitive methods, so the params below
  // are deliberately coarse and the scan fraction high. All paths are fully
  // deterministic (seeded planes, hash-seeded k-means), so the measured values
  // are exact; floors sit at 0.8 with the measured value logged via info().

  private val fixtureDir = "/root/testdata/sf0.001"

  private def topMap(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }

  private def recallOf(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]]): Double =
    exact.map { case (q, t) => approx.getOrElse(q, Set.empty[Long]).count(t) / t.size.toDouble }
      .sum / exact.size

  test("lshTopK recall@10 >= 0.8 vs brute force at its query-entry params") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val queries = emb.filter($"vec_id" < 20)
    val exact = topMap(Similarity.bruteForceTopK(emb, queries, 10))
    val r = recallOf(exact, topMap(
      Similarity.lshTopK(emb, queries, 10, dim = 64, nbits = 3, tables = 8)))
    info(f"lshTopK(nbits=3, tables=8) recall@10 = $r%.3f")
    assert(r >= 0.8, f"LSH recall $r%.3f below 0.8 floor — resize nbits/tables")
  }

  test("ivfTopK recall@10 >= 0.8 vs brute force at its query-entry params") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val queries = emb.filter($"vec_id" < 20)
    val exact = topMap(Similarity.bruteForceTopK(emb, queries, 10))
    val r = recallOf(exact, topMap(
      Similarity.ivfTopK(emb, queries, 10, nlist = 8, nprobe = 5)))
    info(f"ivfTopK(nlist=8, nprobe=5) recall@10 = $r%.3f")
    assert(r >= 0.8, f"IVF recall $r%.3f below 0.8 floor — resize nlist/nprobe")
  }

  test("ivfPqProbePersisted is bit-identical to the in-memory ivfPqTopK") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val (cents, books) = Similarity.trainIvfPq(emb, nlist = 8, m = 16, ksub = 32, iters = 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString + "/index"
    Similarity.writeIvfPqIndex(emb, cents, books, path)
    val queries = emb.filter($"vec_id" < 5)
    val persisted = rowSet(Similarity.ivfPqProbePersisted(spark, path, cents, books,
      queries, emb, 10, nprobe = 5, rerankFactor = 4))
    val inMemory = rowSet(Similarity.ivfPqTopK(emb, queries, 10,
      (cents, books), nprobe = 5, rerankFactor = 4))
    assert(persisted === inMemory,
      "persisted IVFADC probe diverged from the in-memory composition")
  }

  test("ivfProbePersisted is bit-identical to ivfProbeAssigned on the same centroids") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val cents = Similarity.trainCentroidsSampled(emb, 8, 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString + "/index"
    Similarity.writeIvfIndex(emb, cents, path)
    val queries = emb.filter($"vec_id" < 5)
    val persisted = rowSet(
      Similarity.ivfProbePersisted(spark, path, cents, queries, 10, nprobe = 5))
    val inMemory = rowSet(Similarity.ivfProbeAssigned(
      Similarity.ivfAssignments(emb, cents), cents, queries, 10, nprobe = 5))
    assert(persisted === inMemory,
      "persisted-index probe diverged from the in-memory assignment probe")
  }

  test("appendIvfIndex: appended batch becomes probe-visible; union ≡ in-memory") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val cents = Similarity.trainCentroidsSampled(base, 8, 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString + "/index"
    Similarity.writeIvfIndex(base, cents, path)
    val queries = emb.filter($"vec_id" < 10)
    def probe() = rowSet(
      Similarity.ivfProbePersisted(spark, path, cents, queries, 10, nprobe = 5))
    // before the append, no batch vector can be a result
    val before = probe()
    assert(before.forall(r => r(1).asInstanceOf[Long] % 5 != 0),
      "batch vectors must be absent before the append")
    Similarity.appendIvfIndex(batch, cents, path)
    val after = probe()
    // the union probe is bit-identical to in-memory over the full corpus
    // under the same frozen centroids
    assert(after === rowSet(Similarity.ivfProbeAssigned(
      Similarity.ivfAssignments(emb, cents), cents, queries, 10, nprobe = 5)),
      "appended-index probe diverged from the in-memory union probe")
    // appended vectors actually surface (20% of the corpus: some top-10 hit)
    assert(after.exists(r => r(1).asInstanceOf[Long] % 5 == 0),
      "no appended vector ever surfaced in any top-10")
    // append is incremental: base cell files were not rewritten
    assert(after !== before)
  }

  test("deleteFromIvfIndex: survivors probe ≡ in-memory, emptied cell vanishes, no-op safe") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val cents = Similarity.trainCentroidsSampled(emb, 8, 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_del").toString + "/index"
    Similarity.writeIvfIndex(emb, cents, path)
    val assigned = Similarity.ivfAssignments(emb, cents)
    // delete EVERY vector of one cell (the dynamic-overwrite trap case) plus
    // a spread of ids from other cells
    val firstCell = assigned.select($"cell").orderBy($"cell").head().getInt(0)
    val cellIds = assigned.filter($"cell" === firstCell)
      .select($"vec_id").collect().map(_.getLong(0))
    val spreadIds = emb.filter($"vec_id" % 11 === 0)
      .select($"vec_id").collect().map(_.getLong(0))
    val ids = (cellIds ++ spreadIds).distinct
    val affected = Similarity.deleteFromIvfIndex(spark, path, ids)
    assert(affected >= 1)
    // no deleted id survives in the layout, and the emptied cell is GONE
    val left = spark.read.parquet(path)
    assert(left.filter($"vec_id".isin(ids.toSeq: _*)).count() === 0L)
    assert(left.filter($"cell" === firstCell).count() === 0L)
    assert(!new java.io.File(s"$path/cell=$firstCell").exists,
      "a fully deleted cell must not leave a stale directory")
    // probe ≡ in-memory probe over the survivors under the same centroids
    val survivors = emb.filter(!$"vec_id".isin(ids.toSeq: _*))
    val queries = survivors.filter($"vec_id" < 10)
    assert(rowSet(Similarity.ivfProbePersisted(spark, path, cents, queries, 10, nprobe = 5)) ===
      rowSet(Similarity.ivfProbeAssigned(
        Similarity.ivfAssignments(survivors, cents), cents, queries, 10, nprobe = 5)),
      "deleted-from index probe diverged from the survivor in-memory probe")
    // deleting absent ids is a no-op: 0 affected cells, layout untouched
    val beforeRows = rowSet(left.select($"vec_id", $"cell"))
    assert(Similarity.deleteFromIvfIndex(spark, path, Array(999999991L)) === 0)
    assert(Similarity.deleteFromIvfIndex(spark, path, Array.empty[Long]) === 0,
      "an empty delete set (nothing expired) must be a no-op, not a crash")
    assert(rowSet(spark.read.parquet(path).select($"vec_id", $"cell")) === beforeRows)
  }

  test("compactIvfIndex: fragmented cells become one file each; probe bit-identical; no-op and abort safe") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val cents = Similarity.trainCentroidsSampled(base, 8, 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString + "/index"
    Similarity.writeIvfIndex(base, cents, path)
    Similarity.appendIvfIndex(batch, cents, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cellFiles(): Map[String, Int] = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(d => d.getPath.getName -> fs.listStatus(d.getPath).count(st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))).toMap
    val before = cellFiles()
    assert(before.values.exists(_ > 1), "append must fragment at least one cell")
    val queries = emb.filter($"vec_id" < 10)
    def probe() = rowSet(
      Similarity.ivfProbePersisted(spark, path, cents, queries, 10, nprobe = 5))
    val preCompact = probe()
    val rowsBefore = rowSet(spark.read.parquet(path).select($"vec_id", $"cell"))
    // crash-abort FIRST: a file squatting on the trash path must refuse
    // before a single live cell dir moves
    val trash = new org.apache.hadoop.fs.Path(s"$path.compact_trash")
    fs.create(trash, false).close()
    val e = intercept[RuntimeException] { Similarity.compactIvfIndex(spark, path) }
    assert(e.getMessage.contains("layout unchanged"))
    assert(cellFiles() === before, "aborted compaction must not touch any cell")
    fs.delete(trash, false)
    val n = Similarity.compactIvfIndex(spark, path)
    assert(n === before.count(_._2 > 1), "exactly the fragmented cells compact")
    val after = cellFiles()
    assert(after.keySet === before.keySet, "no cell may appear or vanish")
    assert(after.values.forall(_ == 1), s"one file per cell after compaction: $after")
    assert(rowSet(spark.read.parquet(path).select($"vec_id", $"cell")) === rowsBefore,
      "compaction must preserve rows exactly")
    assert(probe() === preCompact, "compaction changed a probe answer")
    // single-file cells untouched: re-compaction is a no-op
    assert(Similarity.compactIvfIndex(spark, path) === 0)
  }

  test("resplitIvfIndex: nlist rebuild from the index itself ≡ fresh assignment; new cells appear, emptied ones vanish") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val cents8 = Similarity.trainCentroidsSampled(emb, 8, 3)
    val cents16 = Similarity.trainCentroidsSampled(emb, 16, 3)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_rsp").toString + "/index"
    Similarity.writeIvfIndex(emb, cents8, path)
    val rowsBefore = rowSet(spark.read.parquet(path).select($"vec_id"))
    val n = Similarity.resplitIvfIndex(spark, path, cents16)
    assert(n > 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellsOnDisk = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(_.getPath.getName.stripPrefix("cell=").toInt).toSet
    assert(cellsOnDisk.size === n, "returned cell count must match the layout")
    // rows preserved exactly; layout equals a fresh assignment under cents16
    assert(rowSet(spark.read.parquet(path).select($"vec_id")) === rowsBefore,
      "re-split must preserve the vector set exactly")
    val fresh = Similarity.ivfAssignments(emb, cents16)
    assert(rowSet(spark.read.parquet(path).select($"vec_id", $"cell")) ===
      rowSet(fresh.select($"vec_id", $"cell")),
      "re-split layout diverged from a fresh assignment under the new centroids")
    assert(cellsOnDisk === fresh.select($"cell").distinct().collect()
      .map(_.getInt(0)).toSet, "on-disk cells must be exactly the non-empty new cells")
    // probes under the NEW centroids answer identically to in-memory
    val queries = emb.filter($"vec_id" < 10)
    assert(rowSet(Similarity.ivfProbePersisted(spark, path, cents16, queries, 10, nprobe = 5)) ===
      rowSet(Similarity.ivfProbeAssigned(fresh, cents16, queries, 10, nprobe = 5)),
      "re-split index probe diverged from the in-memory probe")
  }

  test("appendIvfPqIndex: append to base index ≡ full rebuild under frozen models") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val (cents, books) = Similarity.trainIvfPq(base, nlist = 8, m = 16,
      ksub = 32, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    Similarity.writeIvfPqIndex(base, cents, books, s"$dir/a")
    Similarity.appendIvfPqIndex(batch, cents, books, s"$dir/a")
    Similarity.writeIvfPqIndex(emb, cents, books, s"$dir/b")
    val queries = emb.filter($"vec_id" < 10)
    def probe(p: String) = rowSet(Similarity.ivfPqProbePersisted(spark, p,
      cents, books, queries, emb, 10, nprobe = 6, rerankFactor = 8))
    val appended = probe(s"$dir/a")
    assert(appended === probe(s"$dir/b"),
      "appended IVFADC index diverged from a full rebuild under the same models")
    assert(appended.exists(r => r(1).asInstanceOf[Long] % 5 == 0),
      "no appended vector ever surfaced in any top-10")
  }

  test("randomProject: identical inputs project identically; signs are balanced") {
    val r = rowList(Similarity.randomProject(emb, dim = 4, outDim = 4)
      .select("vec_id", "rp"))
    val byId = r.map(row => row(0).asInstanceOf[Long] ->
      row(1).asInstanceOf[scala.collection.Seq[Double]].toList).toMap
    assert(byId(1L) === byId(3L), "identical vectors must project identically")
    assert(byId(1L).size === 4)
    // the sign matrix itself: deterministic across calls, roughly balanced
    val m1 = Similarity.rpSignRows(64, 16)
    val m2 = Similarity.rpSignRows(64, 16)
    assert(m1.map(_.toSeq).toSeq === m2.map(_.toSeq).toSeq, "matrix must be deterministic")
    val pos = m1.flatten.count(_ > 0).toDouble / (64 * 16)
    assert(pos > 0.4 && pos < 0.6, f"sign balance off: $pos%.3f positive")
  }

  test("randomProject JL bound: projected dots track full-dim cosines within epsilon") {
    // 64 -> 16 dims on the near-orthogonal fixture: additive inner-product
    // error is O(1/sqrt(outDim)). Measure the max |rp_dot - cosine| over all
    // query-corpus pairs for 20 queries and assert the measured ceiling.
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val rp = Similarity.randomProject(emb, dim = 64, outDim = 16)
      .select(col("vec_id"), col("rp").as("embedding"))
    val full = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 20), 10000)
      .select(col("query_id"), col("vec_id"), col("cosine"))
    val red = Similarity.bruteForceTopK(rp, rp.filter($"vec_id" < 20), 10000)
      .select(col("query_id"), col("vec_id"), col("cosine").as("rp_dot"))
    val maxErr = full.join(red, Seq("query_id", "vec_id"))
      .select(max(abs(col("rp_dot") - col("cosine")))).head().getDouble(0)
    // per-pair additive error has std ~ sqrt(2)/sqrt(16) ~ 0.35; the max over
    // the ~10k scanned pairs sits near 4 sigma (measured 1.47) — the ceiling
    // is a structural-collapse tripwire (the broken linear-parity sign matrix
    // measured 8.7 here), not a tightness claim; recall is gated separately
    info(f"JL 64->16 max |rp_dot - cosine| = $maxErr%.3f over 20-query scan")
    assert(maxErr < 2.0, f"distortion $maxErr%.3f blew past the measured ceiling")
  }

  test("rpTopK recall@10 vs full-dim brute force: rerank recovers what raw RP loses") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val queries = emb.filter($"vec_id" < 20)
    val exact = topMap(Similarity.bruteForceTopK(emb, queries, 10))
    // raw projected ranking: JL noise sigma ~0.35 swamps the fixture's
    // cosine spread (max 0.48) — measured 0.115, evidence the rerank stage
    // is load-bearing, not decoration
    val raw = recallOf(exact, topMap(
      Similarity.rpTopK(emb, queries, 10, dim = 64, outDim = 16, rerankFactor = 0)))
    // entry params: top-100 shortlist (20% of this corpus) + exact rerank
    val reranked = recallOf(exact, topMap(
      Similarity.rpTopK(emb, queries, 10, dim = 64, outDim = 16, rerankFactor = 10)))
    info(f"rpTopK raw recall@10 = $raw%.3f; with 10k-shortlist rerank = $reranked%.3f")
    assert(reranked >= raw + 0.2, "rerank stage must add substantial recall")
    assert(reranked >= 0.5, f"reranked recall $reranked%.3f below floor — deepen shortlist")
  }

  test("mrlTopK recall@10 vs full-dim brute force: rerank recovers the truncation loss") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val queries = emb.filter($"vec_id" < 20)
    val exact = topMap(Similarity.bruteForceTopK(emb, queries, 10))
    // raw 16-of-64-dim prefix ranking on NON-MRL vectors: the prefix is an
    // unbiased but noisy subspace — this operator's worst case by design
    val raw = recallOf(exact, topMap(
      Similarity.mrlTopK(emb, queries, 10, prefixDim = 16, rerankFactor = 0)))
    val reranked = recallOf(exact, topMap(
      Similarity.mrlTopK(emb, queries, 10, prefixDim = 16, rerankFactor = 10)))
    info(f"mrlTopK raw recall@10 = $raw%.3f; with 10k-shortlist rerank = $reranked%.3f")
    assert(reranked >= raw + 0.2, "rerank stage must add substantial recall")
    assert(reranked >= 0.5, f"reranked recall $reranked%.3f below floor — deepen shortlist")
  }

  test("binaryTopK recall@10 vs brute force: rerank recovers the sign-quantization loss") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val queries = emb.filter($"vec_id" < 20)
    val exact = topMap(Similarity.bruteForceTopK(emb, queries, 10))
    // raw sign-word Hamming ranking on near-orthogonal vectors: the angle
    // spread is tiny, so 64 sign bits (noise sd ~ 0.5/sqrt(64) in mismatch
    // fraction) blur it — this fixture is the operator's worst case, like
    // the RP/MRL rows; measured 0.23 raw, rerank must carry the recall
    val raw = recallOf(exact, topMap(
      Similarity.binaryTopK(emb, queries, 10, dim = 64, rerankFactor = 0)))
    val reranked = recallOf(exact, topMap(
      Similarity.binaryTopK(emb, queries, 10, dim = 64, rerankFactor = 10)))
    info(f"binaryTopK raw recall@10 = $raw%.3f; with 10k-shortlist rerank = $reranked%.3f")
    assert(reranked >= raw + 0.2, "rerank stage must add substantial recall")
    assert(reranked >= 0.5, f"reranked recall $reranked%.3f below floor — deepen shortlist")
  }

  test("signBits packs sign bits exactly; packed-XOR popcount equals naive mismatch count") {
    // hand-built vectors: dims 0,2 positive, 1,3 negative → bits 0101 = 5;
    // all-positive → 1111 = 15; zero counts as non-negative (bit set)
    val df = Seq(
      (1L, Array(0.5f, -0.25f, 1f, -2f)),
      (2L, Array(1f, 2f, 3f, 4f)),
      (3L, Array(0f, -1f, -1f, 0f))
    ).toDF("vec_id", "embedding")
    val sigs = df.select($"vec_id",
      graft.functions.VectorFns.signBits($"embedding", 4).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs === Map(1L -> 5L, 2L -> 15L, 3L -> 9L))
    // Hamming via packed bit_count must equal the per-dim mismatch count
    // (the identity the oracle relies on) — check every pair
    val vecs = Map(1L -> Array(0.5f, -0.25f, 1f, -2f),
      2L -> Array(1f, 2f, 3f, 4f), 3L -> Array(0f, -1f, -1f, 0f))
    for (a <- vecs.keys; b <- vecs.keys if a < b) {
      val naive = vecs(a).zip(vecs(b)).count { case (x, y) => (x >= 0) != (y >= 0) }
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) === naive, s"pair ($a,$b)")
    }
    // 64-dim round trip on real fixture vectors: top bit set iff dim 63 >= 0
    // (the wrapping-multiply fold must land bits at the documented positions)
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir).limit(5)
    val rows = emb.select($"vec_id",
        graft.functions.VectorFns.toDoubleArray($"embedding").as("e"),
        graft.functions.VectorFns.signBits($"embedding", 64).as("sig"))
      .collect()
    rows.foreach { r =>
      val e = r.getSeq[Double](1); val sig = r.getLong(2)
      (0 until 64).foreach { i =>
        assert(((sig >>> i) & 1L) === (if (e(i) >= 0) 1L else 0L),
          s"vec ${r.getLong(0)} bit $i")
      }
    }
    // native expression ≡ composable HOF fold, bit for bit, on the full fixture
    val parity = graft.sources.Tables.embeddings(spark, fixtureDir)
      .select(graft.functions.VectorFns.signBits($"embedding", 64).as("a"),
        graft.functions.VectorFns.signBitsHof($"embedding", 64).as("b"))
      .filter($"a" =!= $"b").count()
    assert(parity === 0L, "native SignBitsExpr diverged from the HOF fold")
  }

  test("incremental cosine dedup: base near-copy drops, self dup resolves, novel keeps") {
    val base = Seq((100L, Array(1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),   // identical to base -> drop, count >= 1
      (2L, Array(0f, 1.0f, 0f, 0f)),   // novel direction -> keep
      (3L, Array(0f, 1.0f, 0f, 0f))    // identical to 2 -> self dup, drop, count 0
    ).toDF("vec_id", "embedding")
    val r = rowList(Similarity.incrementalCosineDedup(batch, base,
        threshold = 0.9, dim = 4, nbits = 4, tables = 2).orderBy("vec_id"))
      .map(row => (row(0).asInstanceOf[Long], row(1).asInstanceOf[Long],
        row(2).asInstanceOf[Boolean]))
    assert(r === Seq((1L, 1L, false), (2L, 0L, true), (3L, 0L, false)),
      s"verdicts wrong: $r")
  }

  test("incremental cosine pairs recall vs exact cross-snapshot pairs (fixture)") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    // truth: exact all-pairs at the entry threshold, restricted to pairs that
    // straddle the vec_id % 5 batch/base split, oriented (batch_id, base_id)
    val truth: Set[(Long, Long)] = Similarity.cosineDupPairs(emb, 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (a % 5 == 0 && b % 5 != 0) Some((a, b))
        else if (b % 5 == 0 && a % 5 != 0) Some((b, a))
        else None
      }.toSet
    assert(truth.nonEmpty, "fixture must have cross-split near-dup pairs")
    val got = Similarity.incrementalCosinePairsLsh(
        emb.filter($"vec_id" % 5 === 0), emb.filter($"vec_id" % 5 =!= 0),
        threshold = 0.4, dim = 64, nbits = 3, tables = 8)
      .select("batch_id", "base_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "precision must be 1 — exact filter reruns on candidates")
    val recall = got.count(truth).toDouble / truth.size
    info(f"incrementalCosinePairsLsh(nbits=3, tables=8) recall = $recall%.3f (${got.size}/${truth.size})")
    assert(recall >= 0.8, f"cross-snapshot cosine recall $recall%.3f below 0.8 floor")
  }

  test("centroidOutliers: off-manifold vector flagged, cluster survives, nulls excluded") {
    // three vectors near +x and one pointing the other way: the centroid
    // leans +x, so only vector 4 scores negative cosine to it
    val vs = Seq(
      (1L, Array(1.0f, 0.1f, 0f, 0f)),
      (2L, Array(0.9f, -0.1f, 0f, 0f)),
      (3L, Array(1.0f, 0.0f, 0f, 0f)),
      (4L, Array(-1.0f, 0.05f, 0f, 0f))
    ).toDF("vec_id", "embedding")
      .unionAll(Seq((5L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val r = rowList(Similarity.centroidOutliers(vs, threshold = 0.0).orderBy("vec_id"))
      .map(row => row(0).asInstanceOf[Long] -> row(2).asInstanceOf[Boolean]).toMap
    assert(r === Map(1L -> false, 2L -> false, 3L -> false, 4L -> true),
      s"outlier verdicts wrong: $r")
    assert(!r.contains(5L), "null embedding must be excluded, not scored")
  }

  test("centroidOutliers threshold is strict: a vector exactly at the boundary survives") {
    // symmetric +x/-x pair: centroid is exactly 0 on x... use orthogonal
    // instead — vector 3 is exactly orthogonal to the centroid (cos 0.0)
    val vs = Seq(
      (1L, Array(1.0f, 0f, 0f, 0f)),
      (2L, Array(1.0f, 0f, 0f, 0f)),
      (3L, Array(0f, 1.0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    // centroid = (2/3, 1/3, 0, 0); cos(v3, centroid) > 0 — pick threshold AT
    // v3's rounded score and assert it survives the strict <
    val score = rowList(Similarity.centroidOutliers(vs, 0.0))
      .find(_.head == 3L).get(1).asInstanceOf[Double]
    val r = rowList(Similarity.centroidOutliers(vs, score))
      .map(row => row(0).asInstanceOf[Long] -> row(2).asInstanceOf[Boolean]).toMap
    assert(r(3L) === false, s"vector at the threshold must survive strict <: $r")
  }

  test("cosineDupPairsLsh pair recall >= 0.8 vs all-pairs at its query-entry params") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val truePairs = Similarity.cosineDupPairs(emb, 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.cosineDupPairsLsh(emb, 0.4, dim = 64, nbits = 3, tables = 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = got.count(truePairs).toDouble / truePairs.size
    info(f"cosineDupPairsLsh(nbits=3, tables=8) pair recall = $r%.3f (${got.size}/${truePairs.size})")
    assert(got.subsetOf(truePairs), "precision must be 1 — exact filter reruns on candidates")
    assert(r >= 0.8, f"pair recall $r%.3f below 0.8 floor")
  }

  test("semanticDedup keeps the smallest id per cluster; only true dups drop") {
    // threshold 0.9: only the identical pair (1,3) qualifies — regardless of
    // how the 4 vectors land in the 2 trained cells (identical vectors always
    // share a cell, so recall on identical pairs is 1 by construction)
    val r = rowSet(Similarity.semanticDedup(emb, 0.9, nlist = 2, nassign = 1, iters = 1)
      .select("vec_id", "cluster_id", "keep"))
    assert(r === Set(
      Seq(1L, 1L, true), Seq(3L, 1L, false),
      Seq(2L, 2L, true), Seq(4L, 4L, true)))
  }

  test("semanticDupPairs pair recall >= 0.8 vs all-pairs at its query-entry params") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val truePairs = Similarity.cosineDupPairs(emb, 0.4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.semanticDupPairs(emb, 0.4, nassign = 3) // nlist auto-sizes
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = got.count(truePairs).toDouble / truePairs.size
    info(f"semanticDupPairs(auto nlist, nassign=3) pair recall = $r%.3f (${got.size}/${truePairs.size})")
    assert(got.subsetOf(truePairs), "precision must be 1 — exact filter reruns on candidates")
    assert(r >= 0.8, f"pair recall $r%.3f below 0.8 floor — raise nassign or lower nlist")
  }

  test("pqTopK recall@10 >= 0.8 vs brute force at its query-entry params") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val queries = emb.filter($"vec_id" < 20)
    val exact = topMap(Similarity.bruteForceTopK(emb, queries, 10))
    val r = recallOf(exact, topMap(
      Similarity.pqTopK(emb, queries, 10, m = 16, ksub = 32, iters = 3, rerankFactor = 8)))
    info(f"pqTopK(m=16, ksub=32, rerank=8k) recall@10 = $r%.3f")
    assert(r >= 0.8, f"PQ recall $r%.3f below 0.8 floor — raise m/ksub/rerankFactor")
  }

  test("ivfPqTopK recall@10 >= 0.8 vs brute force at its query-entry params") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val queries = emb.filter($"vec_id" < 20)
    val exact = topMap(Similarity.bruteForceTopK(emb, queries, 10))
    val r = recallOf(exact, topMap(Similarity.ivfPqTopK(emb, queries, 10,
      Similarity.trainIvfPq(emb, nlist = 8, m = 16, ksub = 32, iters = 3),
      nprobe = 6, rerankFactor = 8)))
    info(f"ivfPqTopK(nlist=8, nprobe=6, m=16, ksub=32, rerank=8k) recall@10 = $r%.3f")
    assert(r >= 0.8, f"IVFADC recall $r%.3f below 0.8 floor — raise nprobe/m/rerank")
  }

  test("ivfPqTopK finds identical vectors (same cell, same residual codes)") {
    val r = Similarity.ivfPqTopK(emb, emb.filter($"vec_id" === 1), 1,
      Similarity.trainIvfPq(emb, nlist = 2, m = 2, ksub = 4, iters = 1),
      nprobe = 1, rerankFactor = 2)
    val top = r.filter($"rank" === 1).head()
    assert(top.getLong(1) === 3L, s"identical vector must rank first, got $top")
    assert(top.getDouble(2) === 1.0)
  }

  test("PQ with ksub >= corpus size quantizes losslessly: ADC ranking = exact ranking") {
    // every vector becomes its own sub-centroid (seed = itself, distance 0),
    // so the ADC inner product IS the exact dot product — rerank disabled to
    // prove the codes/ADC kernels alone reproduce bruteForceTopK
    val adc = Similarity.pqTopK(emb, emb, 2, m = 2, ksub = 4, iters = 1, rerankFactor = 0)
    val exact = Similarity.bruteForceTopK(emb, emb, 2)
    assert(rowSet(adc) === rowSet(exact))
  }

  test("PQ codes: null element nulls the codes; encode is deterministic") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = true))))
    val books = Similarity.trainPQ(emb, m = 2, ksub = 2, iters = 1)
    val withNull = spark.createDataFrame(
      java.util.Arrays.asList(Row(9L, Seq[java.lang.Double](1.0, null, 0.0, 0.0))), schema)
    assert(Similarity.pqEncode(withNull, books).head().isNullAt(1))
    val c1 = Similarity.pqEncode(emb, books).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val c2 = Similarity.pqEncode(emb, books).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1 === c2)
  }

  test("ADC score: a codes array of the wrong length is null, never a partial score") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val books = Similarity.trainPQ(emb, m = 2, ksub = 2, iters = 1)
    val schema = StructType(Seq(
      StructField("q", ArrayType(DoubleType, containsNull = false)),
      StructField("codes", ArrayType(IntegerType, containsNull = true))))
    val dim = books.length * books(0)(0).length
    val q = Seq.fill(dim)(java.lang.Double.valueOf(1.0))
    val rows = java.util.Arrays.asList(
      Row(q, Seq(Integer.valueOf(0))),                       // truncated: 1 of m=2
      Row(q, Seq(0, 0, 0).map(Integer.valueOf)),             // overlong
      Row(q, Seq(Integer.valueOf(0), Integer.valueOf(0))))   // well-formed
    val df = spark.createDataFrame(rows, schema)
      .select(graft.functions.PQExprs.pqAdc($"q", $"codes", books).as("s"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0).isEmpty && got(1).isEmpty, s"malformed codes must score null: ${got.toSeq}")
    assert(got(2).isDefined)
  }

  test("planted near-duplicates (cosine ~0.97): production params recover them") {
    // The regime LSH is SIZED for — real near-dups, not near-orthogonal noise:
    // 200 seeded random unit vectors, each with a jittered copy at cosine ~0.97.
    // At nbits=8, tables=4 (the fine-bucket production shape) both the pair
    // scan and the top-k must recover the planted twin.
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 200).flatMap { i =>
      val base = unit()
      val noise = unit()
      val jit = base.zip(noise).map { case (b, u) => b + 0.25 * u }
      val n = math.sqrt(jit.map(x => x * x).sum)
      Seq((i.toLong, base.map(_.toFloat)),
        (i.toLong + 1000L, jit.map(x => (x / n).toFloat)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val planted = (0 until 200).map(i => (i.toLong, i.toLong + 1000L)).toSet
    val pairs = Similarity.cosineDupPairsLsh(emb, 0.9, dim = 64, nbits = 8, tables = 4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairRecall = planted.count(pairs).toDouble / planted.size
    info(f"planted pair recall (nbits=8, tables=4) = $pairRecall%.3f")
    assert(pairRecall >= 0.8, f"planted pair recall $pairRecall%.3f below 0.8")

    val queries = emb.filter($"vec_id" >= 1000L)
    val top1 = Similarity.lshTopK(emb, queries, 1, dim = 64, nbits = 8, tables = 4)
      .filter($"rank" === 1)
      .select("query_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val topRecall = planted.count { case (b, j) => top1.get(j).contains(b) }.toDouble / planted.size
    info(f"planted top-1 recall (nbits=8, tables=4) = $topRecall%.3f")
    assert(topRecall >= 0.8, f"planted top-1 recall $topRecall%.3f below 0.8")
  }

  test("analytic LSH sizing agrees with measured recall; sizes params sanely") {
    // the planted near-dup test runs at cosine ~0.97 with nbits=8, tables=4:
    // the formula must predict the regime correctly
    val predicted = Similarity.lshPairRecall(0.97, nbits = 8, tables = 4)
    assert(predicted > 0.9 && predicted <= 1.0, f"predicted $predicted%.3f")
    // measure actual planted-pair recall at that setting and compare
    val rnd = new scala.util.Random(7)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 150).flatMap { i =>
      val base = unit()
      val jit = base.zip(unit()).map { case (b, u) => b + 0.25 * u }
      val n = math.sqrt(jit.map(x => x * x).sum)
      Seq((i.toLong, base.map(_.toFloat)), (i.toLong + 1000L, jit.map(x => (x / n).toFloat)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineDupPairsLsh(emb, 0.9, dim = 64, nbits = 8, tables = 4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 150).map(i => (i.toLong, i.toLong + 1000L)).toSet
    val measured = pairs.count(planted).toDouble / planted.size
    info(f"planted recall measured=$measured%.3f analytic(cos 0.97)=$predicted%.3f")
    assert(math.abs(measured - predicted) < 0.2,
      f"analytic model off: measured $measured%.3f vs predicted $predicted%.3f")
    // the sizing formula moves the right way: more tables raise recall,
    // finer buckets (more bits) lower it
    assert(Similarity.lshPairRecall(0.9, 8, 8) > Similarity.lshPairRecall(0.9, 8, 4))
    assert(Similarity.lshPairRecall(0.9, 16, 4) < Similarity.lshPairRecall(0.9, 8, 4))
  }

  test("trainCentroids is deterministic and assigns every vector to one cell") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
    val c1 = Similarity.trainCentroidsSampled(emb, nlist = 8, iters = 2)
    val c2 = Similarity.trainCentroidsSampled(emb, nlist = 8, iters = 2)
    assert(c1 === c2, "k-means must be deterministic (seeded init, fixed order)")
    assert(c1.map(_._1) === (0 until 8))
    val assigned = Similarity.ivfAssignments(emb, c1)
    assert(assigned.count() === emb.count())
    assert(assigned.select("cell").distinct().count() <= 8)
  }

  test("int8 quantization: reconstruction error bounded, cosine preserved, norm exact") {
    val emb = graft.sources.Tables.embeddings(spark, fixtureDir)
      .select($"vec_id", VectorFns.toDoubleArray($"embedding").as("emb"))
      .select($"vec_id", $"emb",
        VectorFns.int8Scale($"emb").as("scale"),
        VectorFns.l2Norm($"emb").as("nrm"))
    val r = emb.select($"vec_id", $"scale",
        VectorFns.dequantizeInt8(VectorFns.quantizeInt8($"emb", $"scale"), $"scale").as("deq"),
        $"emb", $"nrm",
        VectorFns.l2Norm(VectorFns.l2NormalizeByNorm($"emb", $"nrm")).as("unit_nrm"))
      .select($"vec_id", $"scale", $"unit_nrm",
        // max per-element |x - dequantize(quantize(x))|
        aggregate(zip_with($"emb", $"deq", (a, b) => abs(a - b)), lit(0.0),
          (acc, x) => greatest(acc, x)).as("max_err"),
        (VectorFns.dot($"emb", $"deq") /
          (VectorFns.l2Norm($"emb") * VectorFns.l2Norm($"deq"))).as("cos"))
      .collect()
    r.foreach { row =>
      val scale = row.getDouble(1)
      assert(math.abs(row.getDouble(2) - 1.0) < 1e-9, "l2NormalizeByNorm must yield unit norm")
      assert(row.getDouble(3) <= 0.5 / scale + 1e-12,
        s"vec ${row.getLong(0)}: err ${row.getDouble(3)} > half-step ${0.5 / scale}")
      assert(row.getDouble(4) >= 0.999,
        s"vec ${row.getLong(0)}: int8 cosine drift ${row.getDouble(4)}")
    }
  }

  test("hyperplaneBucket is deterministic across invocations") {
    val b1 = emb.select(VectorFns.hyperplaneBucket($"embedding", 4, 8, 0).as("b"))
    val b2 = emb.select(VectorFns.hyperplaneBucket($"embedding", 4, 8, 0).as("b"))
    assert(rowList(b1) === rowList(b2))
  }

  test("clusterBalance: assignment by dot argmax, quota binds, hardest mode keeps the margin") {
    import graft.operators.Curation
    // two axis-aligned clusters: ids 0-3 near +x (cluster 0), 10-13 near +y
    // (cluster 1); within each, increasing off-axis drift = decreasing
    // prototypicality. Seeds are the pure axes.
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.8f, 0.2f)), (3L, Seq(0.7f, 0.3f)),
      (10L, Seq(0.0f, 1.0f)), (11L, Seq(0.1f, 0.9f)), (12L, Seq(0.2f, 0.8f)), (13L, Seq(0.3f, 0.7f))
    ).toDF("vec_id", "embedding")
    val seeds = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0))
    val all = Curation.clusterBalance(rows, seeds, perCluster = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(all === Map(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 0,
      10L -> 1, 11L -> 1, 12L -> 1, 13L -> 1))
    // quota binds: 2 per cluster, balance mode keeps a deterministic hash pick
    val bal = Curation.clusterBalance(rows, seeds, perCluster = 2)
    assert(bal.count() === 4)
    assert(rowSet(bal) === rowSet(Curation.clusterBalance(rows, seeds, perCluster = 2)),
      "hash-ranked quota must be deterministic")
    // hardest mode keeps the LEAST prototypical two of each cluster (most
    // off-axis drift = lowest assigned-centroid dot)
    val hard = Curation.clusterBalance(rows, seeds, perCluster = 2, keepHardest = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(hard === Set((3L, 0, 1L), (2L, 0, 2L), (13L, 1, 1L), (12L, 1, 2L)), s"got $hard")
  }

  // ---------------- PCA / whitening ----------------

  test("jacobiEigen: eigen-decomposition reconstructs the covariance matrix") {
    import spark.implicits._
    // deterministic LCG vectors in dim 6
    var p = 7L
    def lcg(): Double = {
      p = p * 6364136223846793005L + 1442695040888963407L
      ((p >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val data = Array.fill(200)(Array.fill(6)(lcg()))
    val mean = (0 until 6).map(i => data.map(_(i)).sum / data.length)
    val cov = Array.tabulate(6, 6)((i, j) =>
      data.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / data.length)
    val (vals, vecs) = Similarity.jacobiEigen(cov)
    // descending order, orthonormal vectors, C = sum_j lambda_j v_j v_j^T
    assert(vals.sliding(2).forall(w => w(0) >= w(1) - 1e-12))
    for (a <- 0 until 6; b <- 0 until 6) {
      val dot = (0 until 6).map(i => vecs(a)(i) * vecs(b)(i)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9, s"v$a . v$b = $dot")
      val rec = (0 until 6).map(j => vals(j) * vecs(j)(a) * vecs(j)(b)).sum
      assert(math.abs(rec - cov(a)(b)) < 1e-9, s"C($a,$b) reconstruct")
    }
  }

  test("fitPca recovers planted anisotropic axes; whitening gives identity covariance") {
    import spark.implicits._
    // planted: x = a*u + b*w in dim 4, sd(a)=3, sd(b)=1, u/w orthonormal
    val u = Array(0.6, 0.8, 0.0, 0.0); val w = Array(0.0, 0.0, 1.0, 0.0)
    var p = 13L
    def lcg(): Double = {
      p = p * 6364136223846793005L + 1442695040888963407L
      ((p >>> 33).toDouble / (1L << 31).toDouble) - 0.5
    }
    val rows = (0L until 400L).map { id =>
      val a = 3.0 * (lcg() + lcg() + lcg()); val b = lcg() + lcg() + lcg()
      (id, (0 until 4).map(i => (a * u(i) + b * w(i)).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val model = Similarity.fitPca(df, dim = 4, outDim = 2)
    // first component aligns with u (sign-normalized), second with w
    val align0 = (0 until 4).map(i => model.components(0)(i) * u(i)).sum
    val align1 = (0 until 4).map(i => model.components(1)(i) * w(i)).sum
    assert(math.abs(align0) > 0.999, s"c0.u = $align0")
    assert(math.abs(align1) > 0.999, s"c1.w = $align1")
    assert(model.eigenvalues(0) > model.eigenvalues(1) * 2,
      "planted variance ratio must surface in the eigenvalues")
    // whitening diagnostics: exactly (0, 1, 0) after 6-decimal rounding
    val diag = Similarity.pcaWhitenDiagnostics(df, dim = 4, outDim = 2)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(diag.toSet === Set((0, 0.0, 1.0, 0.0), (1, 0.0, 1.0, 0.0)), diag.mkString(";"))
    // cancellation guard: the same structure shifted to coordinates ~1e6 —
    // raw-moments covariance (E[xx^T] − µµ^T) loses every significant digit
    // of the subtraction there; the shifted moments pass must keep the
    // whitening gate EXACT (mean_r reflects the 1e6 offset, so check
    // variance and off-diagonals, the translation-invariant halves)
    val shifted = rows.map { case (id, emb) => (id, emb.map(_ + 1e6f)) }
      .toDF("vec_id", "embedding")
    val sdiag = Similarity.pcaWhitenDiagnostics(shifted, dim = 4, outDim = 2)
      .collect().map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3)))
    assert(sdiag.toSet === Set((0, 1.0, 0.0), (1, 1.0, 0.0)),
      s"large-mean whitening drifted: ${sdiag.mkString(";")}")
  }

  test("opqTopK: trainMod that selects zero rows refuses with a clear message") {
    import spark.implicits._
    val tiny = (0L until 40L)
      .map(id => (id, Array.fill(8)((id % 7).toFloat / 7).toSeq))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.opqTopK(tiny, tiny.filter($"vec_id" === 0L), 1, dim = 8,
        m = 4, ksub = 4, trainMod = 1000000)
    }
    assert(e.getMessage.contains("trainMod"), e.getMessage)
  }

  test("pcaTopK: planted near-duplicates (cosine ~0.97) recovered at production params") {
    import spark.implicits._
    // the lshTopK planted regime: 100 seeded unit vectors, each with a
    // jittered twin at cosine ~0.97; the 16-dim PCA shortlist + exact rerank
    // must put the twin first for >= 80% of queries (on isotropic data PCA
    // degrades to an RP-quality sketch — the worst case; anisotropy only helps)
    val rnd = new scala.util.Random(11)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 100).flatMap { i =>
      val base = unit(); val noise = unit()
      val jit = base.zip(noise).map { case (b, u) => b + 0.25 * u }
      val n = math.sqrt(jit.map(x => x * x).sum)
      Seq((i.toLong, base.map(_.toFloat)),
        (i.toLong + 1000L, jit.map(x => (x / n).toFloat)))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val top1 = Similarity.pcaTopK(emb, emb.filter($"vec_id" >= 1000L), 1,
        dim = 64, outDim = 16, rerankFactor = 10)
      .filter($"rank" === 1)
      .select("query_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recall = (0 until 100).count(i => top1.get(i + 1000L).contains(i.toLong)) / 100.0
    info(f"planted top-1 recall (PCA 64->16) = $recall%.3f")
    assert(recall >= 0.8, f"planted top-1 recall $recall%.3f below 0.8")
    // OPQ (full-rank PCA rotation + PQ): the rotation is orthogonal, so the
    // planted twins must survive the rotate->encode->ADC->rerank composition
    val opq1 = Similarity.opqTopK(emb, emb.filter($"vec_id" >= 1000L), 1,
        dim = 64, m = 16, ksub = 32, iters = 3, rerankFactor = 8)
      .filter($"rank" === 1)
      .select("query_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val opqRecall = (0 until 100).count(i => opq1.get(i + 1000L).contains(i.toLong)) / 100.0
    info(f"planted top-1 recall (OPQ m=16) = $opqRecall%.3f")
    assert(opqRecall >= 0.8, f"OPQ planted top-1 recall $opqRecall%.3f below 0.8")
  }
}
