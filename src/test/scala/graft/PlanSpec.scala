package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.operators.{Ops, Similarity, Views}
import graft.sources.Tables
import graft.streaming.StreamingViews

/** Physical-plan assertions — the 100 TB contract (SURVEY.md §4). Correct rows
  * are not enough: these tests fail if a plan regression re-introduces a full
  * scan, a global sort, or a shuffle join where a broadcast belongs. Run over
  * the sf0.001 parquet files so scan-level pushdown is observable. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    // explain("formatted") goes to stdout; capture the string form instead
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("S6 point read pushes the filter into the parquet scan") {
    val p = formatted(Tables.customer(spark, d).filter(col("c_custkey") === 42)
      .select("c_custkey", "c_name"))
    assert(p.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"), p)
  }

  test("column pruning reaches the scan: 2-col projection reads 2 columns") {
    val p = formatted(Tables.lineitem(spark, d).select("l_orderkey", "l_quantity"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), p)
    assert(!readSchema.contains("l_extendedprice"), s"scan reads pruned column:\n$readSchema")
  }

  test("T1 global top-N plans as TakeOrderedAndProject, never a global sort") {
    val p = physical(Views.recentTopN(Tables.events(spark, d), 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("+- Sort"), s"unexpected full sort:\n$p")
  }

  test("J1 enrich lookup is a BroadcastHashJoin (no shuffle of the fact side)") {
    val dim = Tables.nation(spark, d).select(col("n_nationkey").as("user_id"), col("n_name"))
    val p = physical(Ops.enrichLookup(
      Tables.events(spark, d), dim, Seq("user_id"), Map("n_name" -> lit("?"))))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to shuffle:\n$p")
  }

  test("A1 hour counts does partial (map-side) aggregation before the shuffle") {
    val p = physical(Views.hourCounts(Tables.events(spark, d)))
    // two HashAggregates around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("similarity dot product stays inside whole-stage codegen") {
    val emb = Tables.embeddings(spark, d)
    val df = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 2), 5)
    df.collect() // finalize the adaptive plan so codegen stage markers materialize
    val p = physical(df)
    assert(p.contains("dotproductexpr"), p)
    // the scoring projection must sit inside a codegen stage ("*(n) Project"),
    // i.e. DotProductExpr did not force an interpreted fallback
    assert(p.linesIterator.exists(l => l.contains("dotproductexpr") && l.contains("*(")), p)
    // The native centroid and hyperplane kernels loop over their matrix, so
    // the generated method size does not grow with the row count. An
    // unrolled per-row form passes the JIT's huge-method limit at 64 rows and
    // runs in the bytecode interpreter (the kernels' scaladoc has the measured
    // cost), so each stage's largest compiled method must stay under it.
    val cents = (0 until 64).map(c => c -> (0 until 64).map(i => math.sin(c * 64 + i)))
    val kernels = Seq(
      "nearestcentroidexpr" -> Similarity.ivfAssignments(emb, cents),
      "hyperplanebucketexpr" -> emb.select(col("vec_id"),
        graft.functions.VectorFns.hyperplaneBucket(col("embedding"), dim = 64, nbits = 64)
          .as("bucket")))
    kernels.foreach { case (kernel, kdf) =>
      kdf.collect()
      val stages = new AdaptiveSparkPlanHelper {}
        .collect(kdf.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      assert(stages.exists(_.child.toString.contains(kernel)),
        s"$kernel left whole-stage codegen:\n${physical(kdf)}")
      stages.foreach { w =>
        val size = CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
        assert(size < CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT,
          s"$kernel stage compiles to a $size-byte method:\n${w.child}")
      }
    }
  }

  test("brute-force ANN broadcasts the query side by default; corpus only on request") {
    val emb = Tables.embeddings(spark, d)
    val queries = emb.filter(col("vec_id") < 2)
    // query set broadcast (BuildLeft — queries are the left input), the corpus
    // streams; the shape that survives a 100 TB corpus
    val p1 = physical(Similarity.bruteForceTopK(emb, queries, 5))
    assert(p1.contains("BroadcastNestedLoopJoin BuildLeft"), p1)
  }

  test("IVF probe over a persisted assignment never shuffles the corpus") {
    val emb = Tables.embeddings(spark, d)
    val cents = Similarity.trainCentroidsSampled(emb, nlist = 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    graft.sources.Lake.writeBucketed(Similarity.ivfAssignments(emb, cents),
      s"$dir/assign", "graft_ivf_assign", "cell", 4)
    try {
      val df = Similarity.ivfProbeAssigned(spark.table("graft_ivf_assign"), cents,
        emb.filter(col("vec_id") < 3), 5, nprobe = 2)
      val p = physical(df)
      // probe set broadcast against the assignment scan — no assignment-side shuffle
      assert(p.contains("BroadcastHashJoin"), p)
      // the ONLY hash exchange is the final bounded top-k agg on query_id
      assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ivf_assign")
    }
  }

  test("as-of join is one shuffle on the key — no range or cross join") {
    val e = Tables.events(spark, d)
    val views = e.filter(col("event_type") === "view").select("event_id", "user_id", "ts")
    val purchases = e.filter(col("event_type") === "purchase")
    val p = physical(Ops.asofJoin(views, purchases, Seq("user_id"), "ts", "ts",
      col("event_id"), col("event_id"), Map("pid" -> col("event_id"))))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("date-partitioned lake layout prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lake").toString
    graft.sources.Lake.writeEventsPartitioned(Tables.events(spark, d), dir)
    val p = formatted(spark.read.parquet(dir)
      .filter(col("event_date") === lit(java.sql.Date.valueOf("2024-01-01")))
      .select("event_id"))
    assert(p.contains("PartitionFilters: [isnotnull(event_date"), p)
    assert(p.contains("(event_date"), p)
  }

  test("dynamic partition pruning: a dim-filtered join prunes event-date partitions at runtime") {
    // the runtime sibling of the static prune above — when the partition
    // filter only EXISTS as a join against a selective dimension, Catalyst
    // must inject a dynamicpruning subquery into the fact scan so only the
    // matching date directories are read (the plan shape that keeps a 100 TB
    // date-partitioned fact table from full-scanning under dim filters)
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.sources.Lake.writeEventsPartitioned(Tables.events(spark, d), dir)
    val facts = spark.read.parquet(dir)
    val dim = Tables.events(spark, d)
      .filter(col("event_type") === "signup")
      .select(to_date(col("ts")).as("event_date")).distinct().limit(1)
    val p = formatted(facts.join(dim, Seq("event_date")).select("event_id"))
    assert(p.contains("dynamicpruning"), p)
  }

  test("SQL surface: registered views answer ad-hoc SQL") {
    graft.sources.Lake.registerAll(spark, d)
    assert(spark.sql("SELECT count(*) FROM nation").head().getLong(0) === 25L)
    val latest = spark.sql(
      "SELECT count(*) FROM customer_latest_info").head().getLong(0)
    assert(latest === 15L) // one row per user at sf0.001
  }

  test("bucketed tables equi-join with NO shuffle (co-located join)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val events = Tables.events(spark, d)
    graft.sources.Lake.writeBucketed(events.select("event_id", "user_id", "value"),
      s"$dir/facts", "graft_b_facts", "user_id", 4)
    graft.sources.Lake.writeBucketed(
      events.groupBy("user_id").agg(count(lit(1)).as("n")),
      s"$dir/dim", "graft_b_dim", "user_id", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the merge path
    try {
      val joined = spark.table("graft_b_facts").join(spark.table("graft_b_dim"), "user_id")
      joined.collect()
      val p = physical(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      // bucketed agg on the bucket key: no exchange either
      val agg = spark.table("graft_b_facts").groupBy("user_id").agg(sum(col("value")))
      agg.collect()
      assert(!physical(agg).contains("Exchange"), physical(agg))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_b_facts")
      spark.sql("DROP TABLE IF EXISTS graft_b_dim")
    }
  }

  test("LWW dedup shuffles once on the key") {
    val p = physical(Views.latestInfo(Tables.events(spark, d)))
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("LWW compactions: one keyed exchange into an ObjectHashAggregate, no Window") {
    // the CDC merge and the read-side compaction of maintained increments
    // both run the argmax LWW: partial aggregation map-side, one user-keyed
    // shuffle, and no per-key window sort anywhere
    val dir = java.nio.file.Files.createTempDirectory("graft_lww_plan").toString
    val ev = Tables.events(spark, d)
    Seq(0, 1).foreach { b =>
      Views.latestInfo(ev.filter(pmod(col("event_id"), lit(2)) === b))
        .write.parquet(s"$dir/latest_increment/batch=$b")
    }
    Seq("q_cdc_merge" -> SparkEntry.queries("q_cdc_merge")(spark, d),
        "latestFromIncrements" -> graft.streaming.StreamingViews.latestFromIncrements(spark, dir))
      .foreach { case (name, df) =>
        df.collect()
        val p = physical(df).split("== Initial Plan ==").head
        assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, s"$name:\n$p")
        assert(p.contains("Exchange hashpartitioning(user_id"), s"$name:\n$p")
        assert(p.contains("ObjectHashAggregate"), s"$name:\n$p")
        assert(!p.contains("Window"), s"$name must not sort keys in a window:\n$p")
      }
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // The 100 TB shape: a big fact shuffle-joins a dim that a filter makes
    // selective — Spark's runtime bloom filter (built on the dim side, pushed
    // into the fact scan as might_contain) drops non-matching fact rows BEFORE
    // the shuffle. Thresholds are production-sized, so the test lowers the
    // application-side floor to fire at fixture scale.
    val prev = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
      spark.range(200000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .write.parquet(s"$dir/big")
      spark.range(20000).select(col("id").as("k"), (col("id") % 100).as("tag"))
        .write.parquet(s"$dir/dim")
      val j = spark.read.parquet(s"$dir/big")
        .join(spark.read.parquet(s"$dir/dim").filter(col("tag") === 7), "k")
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"expected a runtime bloom filter:\n${p.take(2000)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("Z-order layout localizes multi-column box queries; single-key sort cannot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_z").toString
    // deterministic 256x256 grid
    val grid = spark.range(65536).select(
      (col("id") % 256).as("x"), (col("id") / 256).as("y"), col("id").as("payload"))
    graft.sources.Lake.writeZOrdered(grid, s"$dir/z", Seq("x", "y"),
      numFiles = 64, bits = 8)
    grid.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$dir/linear")
    // files CONTAINING matching rows = the files min-max stats cannot skip
    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("x").between(64, 95) && col("y").between(64, 95))
        .select(input_file_name()).distinct().count()
    val zf = filesTouched(s"$dir/z")
    val lf = filesTouched(s"$dir/linear")
    info(s"files containing box rows (of 64): z-order=$zf, x-sorted=$lf")
    // the 32x32 box aligned at (64, 64) is one contiguous z-run of 1024 rows
    // (~1 file); the x-sorted layout spreads the x-band over ~8 files
    assert(zf < lf, s"z-order must localize the box: z=$zf linear=$lf")
    assert(zf <= 4, s"aligned box should sit in at most a few z files, got $zf")
  }

  test("Lake.compact collapses a fragmented directory, preserves rows, keeps sort stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // a micro-batch-shaped mess: 64 files for a table that fits in one
    spark.range(100000).select(col("id"), (col("id") % 997).as("k"))
      .repartition(64).write.parquet(s"$dir/frag")
    val before = new java.io.File(s"$dir/frag").listFiles().count(_.getName.endsWith(".parquet"))
    assert(before === 64)
    graft.sources.Lake.compact(spark, s"$dir/frag", s"$dir/compacted",
      targetFileBytes = 1L << 30, sortCols = Seq("k"))
    val after = new java.io.File(s"$dir/compacted").listFiles().count(_.getName.endsWith(".parquet"))
    assert(after === 1, s"expected 1 compacted file, got $after")
    // rows survive exactly
    assert(spark.read.parquet(s"$dir/compacted").count() === 100000L)
    // sortCols re-sorting holds within the compacted file (min-max usefulness)
    val ks = spark.read.parquet(s"$dir/compacted").select("k").collect().map(_.getLong(0))
    assert(ks.sameElements(ks.sorted), "compacted file must be sorted by k")
  }

  test("BM25 never shuffles the corpus: one stats broadcast, top-k heap, no sort") {
    val df = graft.operators.Search.bm25TopK(
      Tables.documents(spark, d), Seq("vector", "merge"), k = 10)
    df.collect()
    val p = physical(df)
    // corpus-side plan: scan -> map-side tf projection -> single-row stats
    // broadcast join -> TakeOrderedAndProject; the ONLY exchange feeds the
    // single-row global aggregate, never the per-document rows
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), s"stats join degraded to shuffle:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"BM25 must not hash-shuffle document rows:\n$p")
  }

  test("batch BM25 broadcasts all query-side tables; corpus rows shuffle only post-filter") {
    import spark.implicits._
    val qs = Seq((1L, "vector merge"), (2L, "stream data")).toDF("query_id", "qtext")
    val df = graft.operators.Search.bm25TopKBatch(
      Tables.documents(spark, d), qs, k = 5)
    df.collect()
    val p = physical(df).split("== Initial Plan ==").head
    // query terms, per-term df, and global stats all ride broadcasts — the
    // corpus is never the probe side of a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"query-side table degraded to shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // at most six exchanges, none corpus-scale: tf / df / per-(query,doc)
    // score / per-query topk aggregations over the BROADCAST-FILTERED token
    // stream (query-vocabulary matches only), plus two query-side dim-sized
    // distincts feeding broadcast builds — the raw exploded corpus never
    // crosses an exchange. Upper bound, not equality: a benign planner change
    // that REMOVES an exchange must not fail the gate (advisor, round 5).
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n <= 6, s"exchange-count drift (expected <= 6), got $n:\n$p")
  }

  test("decontaminate broadcasts the benchmark gram set; corpus join is not shuffled") {
    val docs = Tables.documents(spark, d)
    val df = graft.operators.Curation.decontaminate(
      docs.filter(col("doc_id") % 20 =!= 0), docs.filter(col("doc_id") % 20 === 0), n = 3)
    df.collect()
    val p = physical(df)
    assert(p.contains("BroadcastHashJoin"), s"benchmark grams must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-vs-benchmark probe degraded to shuffle:\n$p")
  }

  test("mixture sampling and upsampling are map-only: no exchange anywhere") {
    val docs = Tables.documents(spark, d)
    val p1 = physical(graft.operators.Curation.mixtureSample(
      docs, Map("src0" -> 0.5), defaultWeight = 0.25))
    assert(!p1.contains("Exchange"), s"sampling must not shuffle:\n$p1")
    val p2 = physical(graft.operators.Curation.mixtureUpsample(
      docs, Map("src0" -> 2.5), defaultWeight = 1.0))
    assert(!p2.contains("Exchange"), s"upsampling must not shuffle:\n$p2")
  }

  test("LM score count-model re-attaches via broadcast joins, not shuffle joins") {
    val df = graft.operators.Curation.lmScore(Tables.documents(spark, d))
    df.collect() // let AQE convert the small count-model joins
    val p = physical(df)
    assert(p.contains("BroadcastHashJoin"), s"count model must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocab-sized side degraded to shuffle join:\n$p")
  }

  test("Kneser-Ney LM score: model joins broadcast; NO window node anywhere") {
    val df = graft.operators.Curation.lmScoreKneserNey(Tables.documents(spark, d))
    df.collect()
    val p = physical(df)
    assert(p.contains("BroadcastHashJoin"), s"KN model must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocab-sized side degraded to shuffle join:\n$p")
    // r15 verdict: the distinct-type total is a scalar aggregate over the
    // CHECKPOINTED count table riding a one-row broadcast crossJoin — the
    // plan must carry no Window at all (the old form rode an unpartitioned
    // window that would funnel a web-scale continuation table through one
    // task) and no single-partition hash exchange of the vocab frame
    val finalPlan = p.split("== Initial Plan ==")(0)
    assert(!finalPlan.contains("Window ["),
      s"KN score must carry no window operator:\n$p")
  }

  test("cooccurrencePmi: normalizer is a broadcast scalar; NO window node anywhere") {
    val df = graft.operators.Curation.cooccurrencePmi(
      Tables.documents(spark, d), minCount = 5, topN = 50)
    df.collect()
    val p = physical(df).split("== Initial Plan ==")(0)
    // r15 verdict twin of the KN pin: N must not ride an unpartitioned
    // window over the (web-scale) unigram vocab; top-N stays a heap
    assert(!p.contains("Window ["),
      s"PMI must carry no window operator:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"PMI top-N must be a distributed heap, never a global sort:\n$p")
  }

  test("transfer KN score: frozen model re-attaches via broadcast left joins") {
    val docs = Tables.documents(spark, d)
    val df = graft.operators.Curation.lmScoreKneserNeyTransfer(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1))
    df.collect()
    val p = physical(df)
    assert(p.contains("BroadcastHashJoin"), s"model tables must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocab-sized side degraded to shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"one-row totals must broadcast, not cartesian:\n$p")
  }

  test("unigram Viterbi encode is map-only: native expression, no exchange") {
    val df = SparkEntry.queries("text_unigram_encode_fixed")(spark, d)
    df.collect()
    val p = physical(df)
    assert(!p.contains("Exchange"), s"pinned-vocab encode must not shuffle:\n$p")
    assert(p.toLowerCase.contains("unigramencodeexpr"),
      s"encode must run through the native expression:\n$p")
  }

  test("no gram-pipeline entry re-derives its HOF pipeline in a pushed-down filter") {
    // From `Generate explode(attr)` the optimizer infers `size(attr) > 0`,
    // and predicate pushdown then substitutes attr through every projection
    // down to the scan — re-deriving the normalize→shingle lambda pipeline as
    // an INTERPRETED per-row filter (HOFs break whole-stage codegen; measured
    // 6.6 s → 0.7 s on the sf0.1 containment posting build). The operators
    // guard against it with explode_outer + a post-Generate null filter; this
    // test pins the guard: no Filter node may contain a lambda over a split.
    Seq("dedup_containment", "dedup_containment_prefix",
        "pipeline_decontaminate", "pipeline_decontaminate_stateless",
        "dedup_minhash_lsh", "dedup_ngram_jaccard").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, d)
        .queryExecution.executedPlan.toString
      val bad = plan.linesIterator.filter(l =>
        l.contains("Filter") && l.contains("lambdafunction") && l.contains("split("))
      assert(bad.isEmpty,
        s"$name re-derives its gram pipeline in a filter:\n${bad.mkString("\n").take(600)}")
    }
  }

  test("plan-regression gate: headline queries keep pinned shuffle counts, no cartesian products") {
    // Snapshot of each headline query's finalized shuffle-exchange count at
    // fixture scale: a Catalyst upgrade or refactor that silently de-optimizes
    // a green query (extra shuffle, broadcast degraded to exchange, join
    // exploding to a cartesian product) fails HERE, not in a 100 TB run.
    // Counts are "Exchange hashpartitioning" occurrences in the finalized
    // adaptive plan (the convention used throughout this suite). Each pin is an
    // UPPER BOUND, not an equality: a Spark/AQE upgrade that removes an
    // exchange is an improvement, not drift (advisor, round 5); tighten the pin
    // when that happens, raise one only with a plan-level justification.
    val pinned = Map(
      "q1_pricing_summary" -> 1, // partial+final agg around one exchange
      "q3_join_topn" -> 1, // joins broadcast at fixture stats; one agg exchange
      "j1_enrich_lookup" -> 0, // broadcast enrich: no shuffle at all
      "a1_hour_counts" -> 1, // partial+final agg
      "a4_latest_per_key" -> 1, // argmax LWW (ObjectHashAggregate): one keyed exchange
      "t2_topn_per_group" -> 1, // per-group heap top-N: one keyed exchange
      "q_asof_join" -> 1, // one key shuffle, window runs on the co-partitioned stream
      "q_range_join_bucketed" -> 0, // broadcast at fixture SF; the (user, bucket) equi-key keeps it shuffle-able at scale
      "search_bm25" -> 0, // single-row stats broadcast only; docs never hash-shuffled
      "dedup_incremental" -> 2, // fingerprint-only exchanges (batch dup-count agg + anti-join key shuffle)
      // round-5 additions (verdict task 3): the retrieval/curation layer
      "search_bm25_batch" -> 6, // see the dedicated batch-BM25 plan test above
      "search_postings" -> 2, // two-phase bounded build: df-cap agg + per-term posting agg
      "search_postings_sharded" -> 3, // + shard reassembly agg, all (term[,shard])-keyed
      "q_sessionize" -> 1, // one user-key exchange; session walk is a co-partitioned window
      "q_sessionize_skewsafe" -> 3, // (key,range) sort + per-key summary window + offset re-join; summaries are range-count-sized
      "dedup_dup_spans" -> 2, // one (gram, doc) sort drives both count windows + per-doc island window; span agg reuses the doc partitioning
      "search_hybrid_rrf" -> 4, // heap-topk agg (vec channel, + its r17 corpus fanOut) + the two rank-bounded channel outputs joining full-outer; all post-channel data is <= 2*kRetrieval rows
      "dedup_trim_spans" -> 2, // duplicateSpans' 2; span-list agg reuses doc partitioning, spans re-join broadcasts at fixture stats (the trim itself is map-only)
      "dedup_incremental_spans" -> 3, // batch gram sort + base distinct-key build + per-doc island window; the g-keyed join reuses both sides' partitioning
      "dedup_exact_canonical" -> 1, // one keyed argmax exchange (text-keyed oracle form)
      "dedup_exact_canonical_fp" -> 1, // same argmax, 8-byte fingerprint key (scale form)
      // round-6 additions: sketch bounds + the classifier layer
      "q_approx_distinct_bounds" -> 2, // distinct-agg rewrite: (type,user) partial + final
      "text_nb_classify" -> 5, // r16: classTerm/priors CHECKPOINT once; corpus pays the term join + (doc,cand) agg + bounded argmax window, the rest is vocab-bounded assembly over the blocks
      "sim_centroid_classify" -> 3, // (class,dim) centroid agg + class reassembly (both model-side); corpus pays ONE argmax-agg exchange, centroids broadcast
      "text_nb_holdout" -> 5, // same shape as text_nb_classify (r16: checkpointed model): corpus term join + (doc,cand) agg + bounded argmax
      "pipeline_mixture_temperature" -> 1, // ONE domain-count agg; N/Z via windows over the |domains|-row frame, rates broadcast back
      "sim_knn_classify" -> 2, // the heap-topk agg on query_id + the r17 fanOut repartition of the corpus scan (scale-adaptive: a no-op when the scan already has >= parallelism partitions); label re-joins broadcast at fixture stats
      "sim_knn_classify_ivf" -> 3, // + the cell-keyed candidate join feeding the same heap-topk + the exact twin's r17 fanOut; assignment map-only
      // round-7 additions: TF-IDF lexical vectors + random projection
      "search_tfidf_weights" -> 2, // (term,doc) tf agg + term-keyed df window; corpus count rides a one-row broadcast
      "search_tfidf_topk" -> 5, // unpersisted-weights composition: the 2-exchange build runs for the corpus side + qvec/qnorm rebuilds collapse under reused exchanges; +1 doc-keyed norm/dot agg (weights persisted: 1)
      "sim_random_projection" -> 0, // JL projection is map-only: literal sign rows, one native dot per output dim, NO exchange
      "sim_rp_topk" -> 2, // query-keyed heap-topk exchange (shortlist) + the r17 fanOut of the projected corpus scan; rerank joins broadcast, final heap reuses the tiny shortlist
      "dedup_incremental_minhash" -> 10, // two sig aggs (batch+base) + self-pair sig agg + the two banded candidate joins' dedups + keep-flag joins + the r17 tokenize fanOuts; every exchange carries ids/sigs/buckets, never text
      "pipeline_embedding_outliers" -> 1, // ONE (dim)-keyed centroid avg (map-side partials); scoring is a broadcast crossJoin, map-only
      "text_pmi_top" -> 1, // r16: unigram counts CHECKPOINT once (both join sides + the scalar N read the blocks); bigram agg is the one live exchange, joins broadcast at fixture stats, top-N is a heap
      "pipeline_weighted_sample" -> 0, // ES key is map-only content arithmetic; top-k is TakeOrderedAndProject — NO exchange
      "dedup_embedding_incremental" -> 11, // GATE FORM (r10): the verdict plan (candidate dedup + base-count agg + keep-flag joins — ids/buckets only, never vectors) + the exact all-pairs truth and witness joins of the recall gate; r17: +4 textual fanOut exchanges (one per reference to the all-pairs truth — identical subtrees, so ReuseExchange runs ONE of them)
      "search_domain_keywords" -> 4, // (domain,term) tf agg + term-keyed df window + domain-keyed rank window + distinct-domain count agg; all post-agg frames vocab-bounded
      "dedup_clusters_canonical" -> 2, // cluster-keyed argmax agg + verdict re-join atop resolveClusters' fast path (label map broadcast at fixture scale)
      // round-8 additions: graph analytics. The entries' own final plans are
      // checkpoint scans (each power iteration materializes via
      // localCheckpoint) so these pins guard only the no-cartesian invariant;
      // the per-round dataflow shape has its own dedicated test below.
      "q_pagerank" -> 1, // post-checkpoint rounding projection (+1 edge-build agg when AQE reuses nothing)
      "q_pagerank_weighted" -> 1,
      "q_label_propagation" -> 0, // driver rounds at fixture scale: the result is a local relation
      "dedup_containment" -> 5, // explode-once bucket form: df-count pre-filter agg (bounds the collect_list buffers BEFORE collection — the round-8 ADVICE fix, a deliberate +1) + gkey bucket agg + (a,b) pair agg + the r17 fanOut of the tokenize stage (textually once per posting reference; ReuseExchange runs one); every exchange carries (gkey|doc_id|n) longs, never grams or text
      "dedup_containment_prefix" -> 8, // + the in-range ordering join's per-doc agg and the candidate distinct — the prefix machinery's priced overhead — and the r17 tokenize fanOut (one textual copy per gramSets reference); candidate re-joins broadcast the tiny pair set
      "search_hybrid_rrf_batch" -> 10, // per-query fusion: batch-BM25's 6 (pinned above) + vec-channel heap-topk (+ its r17 corpus fanOut) + the two rank-bounded channel outputs' (query, doc) full-outer; all post-channel frames <= queries x 2*kRetrieval rows
      "sim_ivf_persisted_topk" -> 5, // GATE FORM (r10): pruned-scan probe top-k + the in-memory twin's top-k + the exceptAll-both-ways equality aggs; the dedicated pruning test below still pins the scan shape of the probe alone
      "sim_ivfpq_persisted_topk" -> 5, // GATE FORM (r10): pruned ADC probe + the in-memory IVFADC twin + equality aggs (full vectors still read only for shortlist rows)
      "pipeline_decontaminate_bloom" -> 2, // GATE FORM (r10): the bloom probe itself stays MAP-ONLY (the dedicated zero-exchange test above pins the operator); the per-doc no-false-negative gate adds the exact form's gram join + verdict join
      "w_stream_decontaminate_bloom" -> 2, // GATE FORM (r10): the streamed probe stays map-only/zero-state; the stream==batch equality adds the batch twin + exceptAll aggs
      "pipeline_pack_manifest" -> 1, // the per-pack windows cluster on (group, pack), which HashPartitioning(group) already satisfies — same single exchange as the base packing op
      // round-8 additions: positional search, event analytics, DSIR, Gopher
      "search_phrase" -> 2, // (doc,start) vote agg + doc occurrence agg; corpus filters to the phrase vocabulary before either
      "search_proximity" -> 1, // ONE doc-keyed position-collect agg; min-distance map-only after it
      "q_funnel" -> 3, // one user-keyed min-agg per stage; stage joins broadcast at fixture stats (user-keyed equi-joins at scale)
      "q_retention_cohorts" -> 3, // first-seen agg + (user,week) distinct + (cohort,offset) count; cohort join broadcasts at fixture stats
      "pipeline_dsir_weights" -> 1, // r16: the count model CHECKPOINTS once (two corpus feature aggs + full-outer, all inside the eager job); the live plan is the corpus feature join (broadcast at fixture stats) + ONE doc agg; scalars broadcast
      "pipeline_dsir_weights_hashed" -> 4, // GATE FORM (r10, tightened r16): BOTH dsir forms run (1 live exchange each — models checkpoint) + the overlap join of the agreement gate; top-half selection is a median-threshold broadcast (no global rank windows)
      "text_gopher_rules" -> 0, // map-only rule gate: NO exchange
      "q_hourly_anomalies" -> 2, // (type,hour) count agg + the types×hours window exchange — events never enter a window sort
      "text_bpe_fertility" -> 0, // map-only: pinned-merge encode + tokenize-once word count
      "sim_mrl_topk" -> 1, // ONE query-keyed heap-topk (prefix shortlist); rerank joins broadcast, same shape as sim_rp_topk
      "pipeline_snapshot_diff" -> 2, // two (doc_id, fp) sides into the full-outer id join; no text crosses either exchange
      "q_heavy_hitters_by_key" -> 2, // sketch-row merge agg + the |groups|*capacity-row top-k window; the raw stream never shuffles
      "q_salted_join" -> 2, // (key,salt) join both sides when the dim exceeds broadcast (at fixture stats the dim broadcasts: 0)
      "q_rolling_features" -> 1, // ONE key shuffle; lags and all rolling windows share the single per-key sort
      "text_nb_metrics" -> 11, // NB scoring plan (pinned 5 as text_nb_classify, r16) + the classes²-bounded confusion agg and per-class total joins
      "pipeline_curate_audit" -> 2, // survivor-group agg + verdict re-join on the group key (re-join broadcasts at fixture stats: 1)
      "pipeline_curate_audit_fp" -> 2, // same, both exchanges carrying xxhash64 keys, never text
      "q_target_encode" -> 1, // ONE key-keyed (sum,count) agg; encode re-join + the single-row global broadcast at fixture stats
      "text_nb_calibration" -> 6, // NB scoring (5, as text_nb_classify, r16) + the doc-partitioned softmax window + ONE bin agg; doc partitions hold <=|classes| rows
      "q_triangle_count" -> 8, // edge dedup + degree agg + orientation joins + wedge/closure equi-joins + node count; every exchange carries 8-byte endpoints
      // round-10 session additions: the KN LM family + unigram tokenizer
      "text_lm_score_kn" -> 4, // r16: bigram counts CHECKPOINT once; left/right stats re-derive from the blocks (2 vocab-bounded aggs) + scoring bigram re-tokenize + per-doc agg; model joins broadcast, n_types is a one-row broadcast scalar (the window is gone)
      "text_lm_score_kn_transfer" -> 3, // train counts CHECKPOINT once; left/right stat aggs read the blocks + the score stream's per-doc agg; the three model joins broadcast, the type total is a collected literal
      "pipeline_perplexity_buckets" -> 0, // r16: the KN scores CHECKPOINT (threshold agg + assignment both read the blocks — one scoring pass, not two); the percentile agg is a benign one-row SinglePartition, assignment a broadcast crossJoin
      "text_unigram_token_count" -> 0, // EM fit is driver-side (word-freq agg runs in training, not this plan); the scored plan is the map-only native encode
      "text_unigram_encode_fixed" -> 0, // pinned-vocab Viterbi: map-only
      "text_unigram_encode_sampled" -> 0, // lattice sampling: map-only (content-hash draws)
      "text_unigram_fertility" -> 0, // map-only encode + tokenize-once word count
      "pipeline_gopher_repetition" -> 0, // map-only native kernel: NO exchange (the text_gopher_rules shape)
      "pipeline_token_drift" -> 0, // eager two-pass over a persisted contrib frame reduces to a local topN relation; the top-N subplan has its own dedicated pin below (r15)
      "text_zipf_fit" -> 0, // the eager two-pass rank reduces to a local one-row relation; the rank subplan has its own dedicated pin below (r15)
      "pipeline_decontaminate_batch" -> 2, // bench-side cross-doc distinct + the (doc, bench)-keyed matched-row count; corpus side rides the broadcast
      "pipeline_decontaminate_batch_stateless" -> 0, // k bench models as keyed literals: map-only explode + array_intersect, NO exchange (append-mode streaming face)
      "sim_ivf_persisted_append_topk" -> 5, // GATE FORM: appended-index pruned probe + the in-memory twin + equality aggs (the sim_ivf_persisted_topk shape)
      "sim_ivfpq_persisted_append_topk" -> 5, // GATE FORM: two pruned ADC probes (appended + rebuilt) + equality aggs
      "sim_ivf_persisted_delete_topk" -> 5, // GATE FORM: deleted-from pruned probe + the survivor in-memory twin + equality aggs
      "sim_ivfpq_persisted_delete_topk" -> 5, // GATE FORM: two pruned ADC probes (deleted-from + survivor rebuild) + equality aggs
      // round-11 operators
      "pipeline_remove_boilerplate_stateless" -> 0, // frozen-model map-only probe (LongSetContainsExpr in a HOF filter): NO exchange, the streaming apply path
      "pipeline_remove_boilerplate" -> 3, // count-distinct freq fit (two-phase) + per-doc regroup; the segment anti join BROADCASTS (dedicated pin above)
      "pipeline_frequent_segments" -> 2, // one count_distinct agg, planned as two hash-agg phases
      "dedup_winnow_fingerprints" -> 0, // map-only: tokenize -> shingle -> hash -> WinnowExpr, one fused projection + Generate
      "dedup_winnow_pairs" -> 5, // distinct (doc,fp) + df-bound agg + semi + pair agg; the fingerprint stream itself is map-only
      "dedup_winnow_incremental" -> 5, // same shape against the base fingerprint table (batch side joins it, base never re-fingerprinted)
      "pipeline_cluster_balance" -> 1, // map-only seed assignment + ONE k-bounded heap-agg exchange; NO window sort (dedicated pin above)
      "pipeline_cluster_prune" -> 1, // same dataflow, prototypicality rank
      "sim_hard_negatives" -> 2, // anchor-broadcast NLJ (label filter in the condition) + one heap-topk exchange + the r17 corpus fanOut
      "sim_hard_negatives_ivf" -> 4, // GATE FORM: exact twin + cell-keyed probe join + heap-topk + recall aggs
      "pipeline_curriculum_order" -> 0, // r16: the perplexity-buckets checkpoint subtree (pinned 0 above) + a map-only key projection
      "pipeline_vocab_coverage" -> 0, // frozen-vocab map-only probe, the OOV monitor runs at scan speed
      "multimodal_resize" -> 0, // typed mapPartitions chain (encode -> resize -> parse): payloads never shuffle
      // round-12 additions: format-aware multimodal + the persisted winnow index
      "multimodal_gif_frames" -> 0, // GIF block walk is a typed flatMap: map-only, payloads never shuffle
      "multimodal_wav_windows" -> 0, // RIFF chunk walk + PCM windowing: map-only generator
      "multimodal_resize_png" -> 0, // inflate -> unfilter -> sample -> re-deflate all inside one mapPartitions chain
      "multimodal_resize_png_pixels" -> 0, // the pixel-equality gate runs the same map-only chain twice per row
      "dedup_winnow_persisted" -> 3, // batch-side distinct + fp join shuffle + pair agg; the BUCKETED base side contributes ZERO exchanges (DedupSpec proves bucketed < plain)
      "dedup_winnow_persisted_append" -> 3, // identical probe plan over the build+append union (appended bucket files join co-located like the originals)
      // round-13 additions: winnow index delete/compact halves + GIF pixels
      "dedup_winnow_persisted_delete" -> 3, // probe plan unchanged after the staged bucket-file delete — survivors still read co-located
      "dedup_winnow_persisted_compact" -> 3, // probe plan unchanged after compaction — one file per bucket, zero base-side exchanges
      "multimodal_gif_pixels" -> 0, // full LZW decode is still a typed flatMap: map-only, payloads never shuffle
      "sim_ivf_persisted_compact_topk" -> 5, // GATE FORM: compacted-index pruned probe + in-memory twin + equality aggs (the append/delete shape)
      "sim_ivfpq_persisted_compact_topk" -> 5, // GATE FORM: two pruned ADC probes (compacted + one-shot rebuild) + equality aggs
      // round-13 session 2: baseline JPEG + AVI/MJPEG
      "multimodal_jpeg_pixels" -> 0, // marker walk + Huffman + IDCT all inside one typed flatMap: map-only, payloads never shuffle
      "multimodal_jpeg_color_pixels" -> 0, // interleaved 3-component MCU decode + YCbCr->RGB, same map-only chain
      "multimodal_resize_jpeg" -> 0, // decode -> sample -> re-encode -> re-parse, one mapPartitions chain
      "multimodal_resize_jpeg_pixels" -> 0, // the sample-equality gate runs the same map-only chain twice per row
      "multimodal_avi_frames" -> 0, // RIFF list walk + per-frame JPEG decode: map-only
      "pipeline_embedding_whiten" -> 0, // diagnostics are a driver-built model-scale result; both moments passes are separate map-only collect jobs
      "sim_pca_topk" -> 5, // GATE FORM: brute-force twin heap + PCA shortlist heap + rerank/semi aggs + the r17 corpus fanOuts (exact + shortlist scans; identical subtrees reuse)
      // round-14 additions: scene cuts, WAV spectra, layout rebuilds
      "multimodal_scene_cuts" -> 0, // frame deltas + per-video keyframe rank all inside the aviFramePixels flatMap: map-only, payloads never shuffle
      "multimodal_wav_spectrum" -> 0, // fixed-point DFT + centroid computed per window inside the chunk-walk flatMap: map-only
      "dedup_winnow_persisted_rebucket" -> 3, // probe plan unchanged after the n -> n' rebuild — the re-bucketed table still reads co-located
      "sim_ivf_persisted_resplit_topk" -> 5, // GATE FORM: re-split pruned probe + in-memory twin under the new centroids + equality aggs
      "multimodal_keyframes" -> 0, // decode + rank + re-encode + re-decode all inside one typed flatMap: map-only, payloads never shuffle
      "multimodal_wav_resample" -> 0, // L-tap fixed-point convolution per output sample, per-file checksums local: map-only
      "multimodal_dhash" -> 0, // decode + 9x8 sample + 64 comparisons inside one typed flatMap: map-only
      "dedup_image_clusters" -> 1, // map-only decode+hash, ONE 16-byte-keyed aggregation exchange — the dedup_exact shape with a perceptual key
      // round-15 additions: the persisted image-dedup index
      "dedup_image_persisted" -> 3, // probe-side bkey exchange + df-bound semi + pair-dedup agg; the BUCKETED base side (band rows clustered on bkey) contributes ZERO exchanges — the dedup_winnow_persisted shape on the image layout
      "dedup_image_persisted_lifecycle" -> 3, // identical probe plan after append + delete + compact — the lifecycle must not change the read shape
      // round-16 addition: the image index's bucket-count rebuild
      "dedup_image_persisted_rebucket" -> 3, // identical probe plan after the n -> n' rebuild — the re-bucketed table still reads co-located (the dedup_winnow_persisted_rebucket shape)
      // serving, transport, chunking, dedup and retrieval shapes
      "s6_point_read" -> 0, // filter pushed into the parquet scan (the S6 test pins PushedFilters)
      "s7_recent_scan" -> 0, // TakeOrderedAndProject over the scan, no global sort (the T1 test)
      "s_queue_decode" -> 0, // encode -> decode round trip is one projection chain
      "pipeline_chunk" -> 0, // tokenize-once projection + posexplode: one map-only Generate
      "pipeline_curate_fp" -> 1, // language/quality filters run map-side; the one exchange carries xxhash64(norm), never text
      "dedup_edit_distance" -> 0, // prefix- and suffix-block joins broadcast with the length gate in the condition; the two blocks are disjoint, so no pair dedup
      "sim_binary_topk" -> 1, // sign-Hamming shortlist heap-topk on query_id; rerank joins broadcast the id-only shortlist
      "sim_topk_bruteforce" -> 2, // heap-topk on query_id + the corpus fanOut; queries broadcast (dedicated tests above)
      "sim_ivf_topk" -> 4) // GATE FORM: probe heap-topk (printed twice: once reused) + the exact twin's heap-topk and fanOut; assignment map-only (dedicated IVF tests above)
    // r15 verdict task 2: queries whose FINAL plan may carry a Window fed by
    // an Exchange SinglePartition — each with the bound that makes the
    // single task safe at 100 TB. Any OTHER query growing one fails below.
    val singlePartitionWindowOk = Map(
      "pipeline_mixture_temperature" ->
        "|domains|-row rate table (one row per corpus source, never per doc)",
      "q_heavy_hitters_by_key" ->
        "|groups|*capacity merged sketch rows (capacity<=100, groups dim-bounded)",
      "search_hybrid_rrf" ->
        "<=2*kRetrieval fused channel rows per query",
      "search_hybrid_rrf_batch" ->
        "<=|queries|*2*kRetrieval fused channel rows")
    def singlePartitionWindows(p: String): Int = {
      // a single-partition WindowExec prints as Window -> Sort ->
      // (ShuffleQueryStage/AQEShuffleRead wrappers) -> Exchange SinglePartition;
      // walk each Window line's children to see what exchange feeds its sort
      val lines = p.linesIterator.toArray
      lines.indices.count { i =>
        lines(i).contains("Window [") && {
          var j = i + 1
          while (j < lines.length && (lines(j).contains("Sort ") ||
            lines(j).contains("ShuffleQueryStage") ||
            lines(j).contains("AQEShuffleRead") ||
            lines(j).contains("WholeStageCodegen") ||
            lines(j).contains("InputAdapter"))) j += 1
          j < lines.length && lines(j).contains("Exchange SinglePartition")
        }
      }
    }
    val actual = pinned.keys.toSeq.sorted.map { name =>
      val df = SparkEntry.queries(name)(spark, d)
      df.collect() // finalize the adaptive plan before reading it
      // a finalized AdaptiveSparkPlan prints "== Final Plan ==" followed by
      // "== Initial Plan ==" — count only the plan that actually ran
      val p = physical(df).split("== Initial Plan ==").head
      assert(!p.contains("CartesianProduct"),
        s"$name grew a cartesian product:\n$p")
      if (!singlePartitionWindowOk.contains(name))
        assert(singlePartitionWindows(p) == 0,
          s"$name grew a single-partition window over an unbounded input:\n$p")
      name -> "Exchange hashpartitioning".r.findAllIn(p).size
    }.toMap
    val drift = actual.filter { case (n, c) => c > pinned(n) }
    assert(drift.isEmpty,
      s"shuffle-count drift above pinned bounds:\n  actual: ${drift.toSeq.sorted}\n  pinned: ${drift.keys.toSeq.sorted.map(n => n -> pinned(n))}")
  }

  /** The executed plan of every query `body` runs on this session, in
    * completion order — the real path, checkpoints included. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusBridge.flush(spark) // earlier queries' events must not land here
    spark.listenerManager.register(listener)
    try { body; ListenerBusBridge.flush(spark) }
    finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** The plan that ran: a finalized AdaptiveSparkPlan prints "== Final
    * Plan ==" followed by "== Initial Plan ==". */
  private def ran(p: SparkPlan): String = p.toString.split("== Initial Plan ==").head

  /** The bipartite customer -> supplier graph over sf0.001, materialized so
    * the listener sees only the operator's own jobs. */
  private def directedGraph() = Tables.orders(spark, d).select(col("o_orderkey"), col("o_custkey"))
    .join(Tables.lineitem(spark, d).select(col("l_orderkey"), col("l_suppkey")),
      col("o_orderkey") === col("l_orderkey"))
    .select((col("o_custkey").cast("long") * 2).as("src"),
      (col("l_suppkey").cast("long") * 2 + 1).as("dst")).distinct()
    .localCheckpoint()

  test("pageRank round: node-state exchanges only, no cartesian, dangling term broadcasts") {
    // One power iteration over the directed graph, whose suppliers are all
    // dangling: the shape every round repeats at 100 TB. The dangling-mass
    // single-row aggregate must enter as a broadcast, never a
    // CartesianProduct, and every hash exchange of every job — setup and
    // round — partitions on a graph key, so only per-node state and edge
    // keys ever cross the wire, never a wide payload.
    val e = directedGraph()
    val plans = executedPlans(graft.operators.Graph.pageRank(e, iters = 1)).map(ran)
    assert(plans.nonEmpty)
    val p = plans.mkString("\n")
    assert(!p.contains("CartesianProduct"), s"pageRank round grew a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"dangling mass must broadcast:\n$p")
    val badKeys = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filterNot(l => Seq("node#", "src#", "dst#").exists(l.contains))
      .toSeq
    assert(badKeys.isEmpty,
      s"exchange partitioned on a non-graph key:\n${badKeys.mkString("\n")}")
  }

  test("pageRank executed chain: one dst exchange per round, no edge-side shuffle (r17)") {
    // The jobs pageRank runs on the symmetric (dangling-free) graph: the
    // src-partitioned edge checkpoint, the node checkpoint, the stats probe
    // and the lazily unrolled round chain. The chain's AQE-final plan must
    // show exactly `iters` dst-keyed exchanges — the canonical O(|V|·P)
    // partial-agg exchange per round — and no exchange of edge rows: the
    // edge checkpoint's recorded hashpartitioning(src) elides every
    // edge-side exchange. Across all jobs the edges are exchanged once.
    val e = directedGraph()
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val iters = 3
    val plans = executedPlans(graft.operators.Graph.pageRank(sym, iters = iters))
    val all = plans.map(ran).mkString("\n")
    assert(!all.contains("CartesianProduct"), s"pageRank grew a cartesian:\n$all")
    val stages = new AdaptiveSparkPlanHelper {}
    def shuffles(p: SparkPlan) = stages.collect(p) { case s: ShuffleExchangeExec => s }
    def carriesEdges(s: ShuffleExchangeExec) =
      Set("src", "dst").subsetOf(s.output.map(_.name).toSet)
    val chain = shuffles(plans.last)
    val dstKeyed = chain.count(_.outputPartitioning match {
      case h: HashPartitioning => h.references.toSeq.map(_.name) == Seq("dst")
      case _ => false
    })
    assert(chain.size == iters && dstKeyed == iters,
      s"expected exactly $iters exchanges, one dst exchange per round:\n${ran(plans.last)}")
    assert(!chain.exists(carriesEdges), s"a round exchanged edge rows:\n${ran(plans.last)}")
    assert(plans.flatMap(shuffles).count(carriesEdges) == 1,
      s"edges must be exchanged exactly once:\n$all")
  }

  /** Spark jobs started while `body` runs, counted on the same listener bus
    * `executedPlans` flushes: under AQE one action runs a job per query
    * stage, so this counts what a query's construction costs in jobs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusBridge.flush(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusBridge.flush(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("eager-job budget: the graph entries' construction runs at most its pinned jobs") {
    // Building these DataFrames runs jobs before any action (checkpoints,
    // counts, collects), and at small scale each job's fixed cost is the
    // query's cost. Lower a budget when a change cuts jobs; never raise one.
    val budget = Map(
      "q_label_propagation" -> 10, // edge checkpoint + its count + the seed and edge collects (19 with distributed rounds)
      "q_pagerank" -> 19,
      "q_pagerank_weighted" -> 19)
    val actual = budget.keys.toSeq.sorted.map { q =>
      q -> jobsDuring { SparkEntry.queries(q)(spark, d); () }
    }
    val over = actual.filter { case (q, n) => n > budget(q) }
    assert(over.isEmpty, s"eager jobs above budget: $over (budget ${budget.toSeq.sorted})")
  }

  test("maintainViews: a micro-batch plans no Exchange and runs at most its pinned jobs") {
    // Per micro-batch: the persisted batch's table-cache stage, the
    // recent_log write and the one-task increment write. At this size each
    // job's fixed cost is the batch's cost. Lower the budget freely; never
    // raise it.
    val jobBudget = 3
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_views").toString
    val stream = MemoryStream[TestEvent](4)
    def batch(n: Int) = (0 until 400).map(i => TestEvent(n * 400L + i, i % 50, "view",
      new java.sql.Timestamp(1700000000000L + i * 1000L), i.toDouble, "{}"))
    var jobs = 0
    val plans = executedPlans {
      val q = StreamingViews.maintainViews(stream.toDF(), s"$dir/out", s"$dir/ckpt",
        Trigger.ProcessingTime(0))
      try {
        stream.addData(batch(0)); q.processAllAvailable()
        jobs = jobsDuring { stream.addData(batch(1)); q.processAllAvailable() }
      } finally q.stop()
    }
    assert(plans.size === 4, plans.mkString("\n")) // two view writes per batch
    val exchanging = plans.filter(p => ran(p).contains("Exchange"))
    assert(exchanging.isEmpty, s"a view write shuffles:\n${exchanging.mkString("\n")}")
    assert(jobs <= jobBudget, s"$jobs jobs per micro-batch, budget $jobBudget")
  }

  test("graph operators plan every exchanging job adaptively and leave the session conf as found") {
    // Switching AQE off around a checkpoint would switch it off for every
    // query running on the session: every job the graph entries run keeps
    // the session's AQE, and no conf is left changed.
    val before = spark.conf.getAll
    val plans = executedPlans(Seq("q_pagerank", "q_pagerank_weighted", "q_label_propagation")
      .foreach(q => SparkEntry.queries(q)(spark, d).collect()))
    val exchanging = plans.filter(p => ran(p).contains("Exchange"))
    assert(exchanging.nonEmpty)
    val static = exchanging.filterNot(_.isInstanceOf[AdaptiveSparkPlanExec])
    assert(static.isEmpty, s"jobs planned without AQE:\n${static.mkString("\n")}")
    assert(spark.conf.getAll === before)
  }

  test("fingerprint canonical dedup shuffles 8-byte keys, never document text") {
    val docs = Tables.documents(spark, d)
    val df = graft.operators.Dedup.exactDedupCanonicalByFingerprint(
      docs, length(col("text")).cast("long"))
    val p = physical(df)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    // the quality column (length) and doc_id ride the exchange; the text
    // column itself must be projected away before the shuffle
    assert(!exchanges.exists(_.contains("text#")),
      s"document text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("incremental dedup shuffles 8-byte fingerprints, never document text") {
    val docs = Tables.documents(spark, d)
    val df = graft.operators.Dedup.incrementalDedup(
      docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0))
    val p = physical(df)
    // every exchange's output schema must be hash/id columns only — the text
    // column is projected away before each shuffle
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.contains("text")),
      s"document text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("zipfFit's two-pass rank: range exchange + pid-keyed window, NO single-partition sort") {
    // the r14 advisory: a web-scale vocab (1e8-1e9 types) must not serialize
    // through one window task — the rank is a range exchange, a tiny
    // histogram action, then a window PARTITIONED by the range bucket
    val (xy, ranged) = graft.operators.Curation.zipfXy(Tables.documents(spark, d))
    try {
      xy.collect()
      val p = physical(xy).split("== Initial Plan ==").head
      assert(p.contains("Exchange rangepartitioning"),
        s"the rank must range-partition the type table:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"the rank fell back to a single-partition exchange:\n$p")
      assert(p.contains("hashpartitioning(__pid"),
        s"the rank window must key on the range-partition id:\n$p")
    } finally { ranged.unpersist(); () }
  }

  test("tokenDistributionDrift: top-N is TakeOrdered, scalars broadcast, NO window sort") {
    val docs = Tables.documents(spark, d)
    val (contrib, top, handles) = graft.operators.Curation.driftParts(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
      topN = 20)
    try {
      top.collect()
      val p = physical(top).split("== Initial Plan ==").head
      // the r14 advisory twin of the zipf pin: the previous form funneled the
      // vocab through unpartitioned windows (normalizer, total, rank); now
      // the scalars broadcast, both passes share the persisted contrib frame,
      // and the top-N is a per-partition heap
      assert(p.contains("TakeOrderedAndProject"),
        s"top-N must be a distributed heap, never a global sort:\n$p")
      assert(!p.contains("Window"),
        s"drift must carry no window operator at all:\n$p")
      assert(!physical(contrib).split("== Initial Plan ==").head.contains("Window"),
        "contrib must carry no window operator")
    } finally { handles.foreach(_.unpersist()); () }
  }

  test("Bloom decontamination's corpus pass is map-only: zero exchanges") {
    val docs = Tables.documents(spark, d)
    val df = graft.operators.Curation.decontaminateBloom(
      docs.filter(col("doc_id") % 20 =!= 0), docs.filter(col("doc_id") % 20 === 0), n = 3)
    val p = physical(df)
    // the bloom fit pays its own (bounded) job at build time; the RETURNED
    // corpus plan must be scan -> project, streaming-append-safe
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"bloom probe pass must not shuffle the corpus:\n$p")
  }

  test("stateless frequent-segment removal is map-only: zero exchanges") {
    val docs = Tables.documents(spark, d)
    val model = graft.operators.Dedup.frequentSegmentModel(docs, minDf = 2)
    val df = graft.operators.Dedup.removeFrequentSegmentsStateless(docs, model)
    val p = physical(df)
    // the frozen model rides the plan as a codegen reference object; the
    // apply pass must be scan -> project, streaming-append-safe
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"stateless boilerplate removal must not shuffle the corpus:\n$p")
  }

  test("frequent-segment removal anti-joins the corpus against a BROADCAST model") {
    // the raw corpus has no df >= 2 segment (single-segment docs, no exact
    // text dups), and an EMPTY frequent table lets AQE's empty-relation rule
    // eliminate the anti join entirely — plant the boilerplate regime the
    // operator exists for, like the driver entry does
    val docs = Tables.documents(spark, d).select(col("doc_id"),
      concat(col("text"), lit(". zq banner sentence")).as("text"))
    val df = graft.operators.Dedup.removeFrequentSegments(docs, minDf = 2)
    df.collect()
    val p = physical(df).split("== Initial Plan ==").head
    // the df >= minDf table is bounded by segments/minDf, so the exploded
    // corpus never shuffles on the segment string — the anti join is map-side
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"frequent-segment anti join did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("clusterBalance is one heap aggregation: a single exchange, no window sort") {
    val emb = Tables.embeddings(spark, d)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int"),
        graft.functions.VectorFns.toDoubleArray(col("embedding")))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq
    val df = graft.operators.Curation.clusterBalance(emb, seeds, perCluster = 40)
    df.collect()
    val p = physical(df).split("== Initial Plan ==").head
    // map-only assignment -> k-bounded heap agg on cluster_id; a row_number
    // window here would sort a power-law hot cluster in ONE task at 100 TB
    assert(!p.contains("Window"), s"quota must not use a window sort:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("winnow fingerprinting is map-only: zero exchanges") {
    val docs = Tables.documents(spark, d)
    val df = graft.operators.Dedup.winnowFingerprints(docs, k = 5, w = 4)
    val p = physical(df)
    // tokenize -> shingle -> hash -> winnow scan fuse into one projection
    // pipeline; the ~2/(w+1)-sampled fingerprint stream shuffles only when a
    // CONSUMER aggregates it
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"winnow fingerprints must not shuffle:\n$p")
  }

  test("persisted IVF index probe partition-prunes to the probed cells only") {
    val emb = Tables.embeddings(spark, d)
    val cents = Similarity.trainCentroidsSampled(emb, 8, 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_part").toString
    Similarity.writeIvfIndex(emb, cents, s"$dir/index")
    val df = Similarity.ivfProbePersisted(spark, s"$dir/index", cents,
      emb.filter(col("vec_id") < 3), 5, nprobe = 2)
    df.collect()
    val p = physical(df).split("== Initial Plan ==").head
    // the probe-cell set is a PARTITION filter at the scan: only the probed
    // cell directories are read — the rest of the index never enters the plan
    val f = formatted(df)
    assert(f.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("cell")),
      s"no cell partition filter at the index scan:\n$f")
    // queries broadcast onto the pruned scan; the only exchange is the
    // bounded top-k aggregation on query_id
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("funnel stages reuse the previous stage's exchange inside the unioned plan") {
    // each stage's count chains the previous stage's subplan; the union must
    // plan stage k-1's aggregation ONCE and reuse its exchange, not recompute
    // the whole prefix per stage
    val df = graft.operators.Analytics.funnel(Tables.events(spark, d),
      Seq("signup", "view", "purchase"))
    df.collect()
    val p = physical(df)
    assert(p.contains("ReusedExchange"),
      s"stage k-1 subtree recomputed per stage instead of exchange reuse:\n$p")
  }
}
