package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Iterative graph analytics over plain `(src, dst[, weight])` edge lists —
  * the entity-importance / label-spreading layer a crawl-curation pipeline
  * runs over its link or co-occurrence graphs (site authority as a quality
  * prior, propagating sparse human labels to unlabeled hosts). The reference
  * has no graph capability at all (CQL cannot join, let alone iterate); this
  * extends the engine the same way the dedup layer's connected components do
  * ([[Dedup.resolveClustersStar]]), and reuses its iteration discipline:
  * fixed round count, materialized with `localCheckpoint` so the plan stays
  * shallow and no subtree ever evaluates twice.
  *
  * 100 TB shape, both operators: the EDGE LIST is the big table and it is
  * never mutated — only the per-node state (rank / label, 16 bytes a row)
  * moves between rounds. Each round is one equi-join of edges against the
  * node-state table on `src` plus ONE map-side-combined shuffle of `(dst,
  * partial)` — the canonical distributed power-iteration dataflow. Edges are
  * exchanged once into a src-partitioned checkpoint that records its
  * partitioning ([[org.apache.spark.sql.graft.CheckpointBridge]]); rounds
  * never re-exchange them, so the per-round exchange is `O(|V|)`, not
  * `O(|E|)`. Both operators plan under the session's own AQE setting and
  * change no session conf. PlanSpec's "executed chain" test pins exactly
  * one exchange per round on the real path.
  *
  * [[labelPropagate]] is size-adaptive: edges and seed rows numbering at
  * most [[Dedup.maxDriverEdges]] (the bound [[Dedup.resolveClusters]]
  * collects under) run their rounds in driver memory, because at that size
  * each Spark job's fixed cost, not the data, sets the latency. The entry
  * graph takes the driver path at sf0.001 and sf0.01 and the distributed
  * rounds at sf0.1. [[pageRank]] always runs distributed. */
object Graph {

  /** PageRank by `iters` power iterations from the uniform vector.
    * Returns `(node, rank)` for every node appearing as an endpoint.
    *
    * Semantics (deterministic, engine-reproducible):
    *   - rank₀(v) = 1/N;
    *   - rankₜ₊₁(v) = (1−d)/N + d·(Σ_{u→v} rankₜ(u)·w(u,v)/outw(u) + Dₜ/N)
    *     where outw(u) = Σ_w over u's out-edges and Dₜ = Σ rankₜ(u) over
    *     DANGLING nodes (no out-edges) — dangling mass redistributes
    *     uniformly, so Σ rank = 1 is invariant at every round (PropertySpec);
    *   - `weightCol` empty → every edge weight 1.
    *
    * Fixed-`iters` power iteration (not run-to-convergence) keeps the result
    * a pure function of the input — hash-oracled in DuckDB by unrolling the
    * same rounds as chained CTEs ([[graft.SparkEntry]] `q_pagerank`). Rounds
    * are cheap to add: convergence to 1e-6 on the bipartite entry graph takes
    * ~30; the entry pins 5 for oracle size. */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
               weightCol: String = ""): DataFrame = {
    val np = edges.sparkSession.sessionState.conf.numShufflePartitions
    val base =
      (if (weightCol.isEmpty) edges.select(col("src"), col("dst"), lit(1.0).as("w"))
       else edges.select(col("src"), col("dst"), col(weightCol).cast("double").as("w")))
        .filter(col("src").isNotNull && col("dst").isNotNull)
    // out-weight is loop-invariant: attach it to every edge once, as a window
    // over the src-partitioned edges (no exchange beyond the repartition), so
    // each round's contribution pass is a single (edges ⋈ ranks) join
    val e = CheckpointBridge.localCheckpoint(base.repartition(np, col("src"))
      .withColumn("outw", sum(col("w")).over(Window.partitionBy(col("src")))))
    // nodes carry their in/out coverage flags: one aggregation derives the
    // node set, whether any node is DANGLING (no out-edges), and whether
    // every node has an in-edge (full in-coverage ⇒ the per-round
    // contribution aggregate covers exactly the node set, so the per-round
    // `nodes LEFT JOIN contribs` is the identity re-keying and is skipped).
    // Flags are exact set membership, not estimates.
    val nodes = CheckpointBridge.localCheckpoint(
      e.select(col("src").as("node"), lit(0L).as("isDst"))
        .unionAll(e.select(col("dst").as("node"), lit(1L).as("isDst")))
        .groupBy(col("node"))
        .agg(max(col("isDst")).as("hasInL"), min(col("isDst")).as("noOutL"))
        .select(col("node"), (col("hasInL") === 1L).as("hasIn"),
          (col("noOutL") === 1L).as("noOut")))
    // one scalar row to the driver (order + coverage), not data
    val stats = nodes.agg(count(lit(1)).as("n"),
      sum(when(col("noOut"), 1L).otherwise(0L)).as("nDang"),
      sum(when(col("hasIn"), 1L).otherwise(0L)).as("nIn")).collect()(0)
    val n = stats.getLong(0).toDouble
    val hasDangling = stats.getLong(1) > 0L
    val fullInCoverage = stats.getLong(2) == stats.getLong(0)
    val nodeSet = nodes.select(col("node"))
    // Σ over in-neighbors: edges join the 2-column rank table (never the
    // reverse), partial-aggregated on dst before the exchange. Round 0 joins
    // nothing: every src is a node and every start rank is 1/N.
    def contribs(ranks: DataFrame, round: Int): DataFrame =
      (if (round == 0) e.withColumn("rank", lit(1.0 / n))
       else e.join(ranks.withColumnRenamed("node", "src"), Seq("src")))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") * col("w") / col("outw")).as("contrib"))
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
    if (!hasDangling) {
      // LAZY UNROLL: without a dangling term each round references the rank
      // table exactly once, so the unrolled `iters`-round tree is a linear
      // chain — nothing in it evaluates twice — and per-round checkpoint
      // barriers buy nothing; the chain materializes once at the end.
      for (round <- 0 until iters) {
        val c = contribs(ranks, round)
        // full in-coverage (probed exactly above): `contribs` holds one row
        // per node, so the left join against the node set is skipped
        ranks =
          if (fullInCoverage)
            c.select(col("node"),
              (lit((1.0 - damping) / n) + lit(damping) * col("contrib")).as("rank"))
          else nodeSet.join(c, Seq("node"), "left")
            .select(col("node"),
              (lit((1.0 - damping) / n) + lit(damping) *
                coalesce(col("contrib"), lit(0.0))).as("rank"))
      }
      ranks.localCheckpoint()
    } else {
      // dangling-mass graphs reference `ranks` twice per round (contribution
      // join + dangling semi-join) — per-round checkpoints stay, otherwise
      // the unrolled tree doubles per round. The dangling-node set is a
      // filter on the nodes table's exact coverage flag.
      val dangNodes = nodes.filter(col("noOut")).select(col("node"))
      ranks = ranks.localCheckpoint()
      for (round <- 0 until iters) {
        val base = nodeSet.join(contribs(ranks, round), Seq("node"), "left")
        // dangling mass: single-row aggregate, broadcast into the update
        val dang = ranks.join(dangNodes, Seq("node"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("dang"))
        ranks = base.crossJoin(broadcast(dang))
          .select(col("node"),
            (lit((1.0 - damping) / n) + lit(damping) *
              (coalesce(col("contrib"), lit(0.0)) + col("dang") / n)).as("rank"))
          .localCheckpoint()
      }
      ranks
    }
  }

  /** Per-node triangle counts over an undirected edge list — the clustering-
    * coefficient numerator, the graph-quality signal (link farms score high,
    * organic link graphs low) a crawl pipeline reads next to PageRank.
    * Returns `(node, n_triangles)` for nodes in ≥1 triangle.
    *
    * Degree-ordered orientation (Schank & Wagner 2005): every edge points
    * from its lower-(degree, node) endpoint, making the graph acyclic and
    * every triangle counted exactly ONCE (its three edges orient x→y→z,
    * x→z); out-degrees are bounded by O(√m), so the wedge join — the only
    * quadratic-risk step — generates Σ outdeg² = O(m^1.5) candidates
    * worst-case instead of Σ deg² (a hot hub's star explodes un-oriented).
    * Dataflow: dedup + degree agg + two equi-joins on 8-byte endpoints; no
    * adjacency list ever materializes per node. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val lower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val o = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("v"))
    val wedges = o.as("e1").join(o.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val tris = wedges.join(o.as("e3"),
      col("x") === col("e3.u") && col("z") === col("e3.v"))
      .select("x", "y", "z")
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Seeded (semi-supervised) label propagation: spread sparse integer labels
    * across the graph for `iters` synchronous rounds. Returns `(node, label)`
    * for every node that acquired a label.
    *
    * Per round each UNSEEDED node takes the most frequent label among its
    * in-neighbors' current labels (ties → smallest label); seed labels are
    * clamped and never change. Unlabeled nodes cast no vote and stay absent
    * until a labeled in-neighbor appears. Every edge casts one vote per label
    * row of its source, so duplicate edges and repeated seed rows count each
    * time they appear. Deterministic: integer votes, total tie-break.
    *
    * Size-adaptive, the same decision shape as [[Dedup.resolveClusters]]: the
    * non-null edges materialize once, src-partitioned, and are counted. When
    * the node ids compare in the join exactly as JVM values do (integral or
    * binary-collated string ids of one type on both frames) and edges plus
    * seed rows number at most [[Dedup.maxDriverEdges]], both are collected
    * and the rounds run in driver memory ([[labelPropagateOnDriver]]); the
    * labels return as a local relation. Otherwise the rounds run
    * distributed ([[labelPropagateRounds]]). On the co-purchase entry graph
    * sf0.001 (2,888 directed edges) and sf0.01 (97,036) take the driver path
    * and sf0.1 (1,173,742) the distributed one. Both paths return the same
    * multiset (PropertySpec asserts it on random graphs). */
  def labelPropagate(edges: DataFrame, seeds: DataFrame, iters: Int = 3): DataFrame = {
    // edges materialize partitioned by src with the partitioning recorded:
    // every distributed round's edges ⋈ labels join streams the edge table,
    // no exchange. The driver path reads the same checkpoint: partitioning
    // only after the count would materialize the edges twice at scale.
    val np = edges.sparkSession.sessionState.conf.numShufflePartitions
    val e = CheckpointBridge.localCheckpoint(edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(np, col("src")))
    // the seeds are read once, however nondeterministic their source: by one
    // collect bounded by the room the edges leave under the bound, whole when
    // they fit; otherwise that read is dropped and the checkpoint is the one
    val s = seeds.select(col("node"), col("label").cast("long").as("label"))
    // counted on its rows, one job: `count()` plans an aggregation and
    // AQE submits each of its stages as a job
    val room = if (driverKeyed(e, s)) Dedup.maxDriverEdges - e.queryExecution.toRdd.count()
      else -1L
    val seedRows = if (room >= 0) s.limit(room.toInt + 1).collect() else Array.empty[Row]
    if (room >= 0 && seedRows.length <= room) labelPropagateOnDriver(e, seedRows, s.schema, iters)
    else labelPropagateRounds(e, s.localCheckpoint(), iters)
  }

  /** Whether the node ids of `e` and `seeds` share one type whose join
    * equality is equality of the collected JVM values: integral ids and
    * UTF8_BINARY strings (`StringType` equals only that collation).
    * Floating-point ids (the join normalizes NaN and -0.0), other collations
    * and binary ids (arrays compare by reference) stay distributed. */
  private def driverKeyed(e: DataFrame, seeds: DataFrame): Boolean = {
    val t = seeds.schema("node").dataType
    e.schema("src").dataType == t && e.schema("dst").dataType == t && (t match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    })
  }

  /** The distributed rounds of [[labelPropagate]] over the non-null
    * `(src, dst)` edge list `e` and the `(node, label: long)` seeds `s`,
    * each read once. The per-node argmax is ONE skew-immune hash
    * aggregation ([[graft.functions.ArgMaxAgg]] on `struct(cnt, -label)` —
    * map-side partial, no per-node window sort), the same shape as
    * [[Ops.latestPerKey]]. */
  private[graft] def labelPropagateRounds(e: DataFrame, s: DataFrame,
                                          iters: Int): DataFrame = {
    var labels = s
    for (_ <- 0 until iters) {
      val voted = e
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(graft.functions.ArgMaxAgg.argMax(
          struct(col("cnt"), -col("label")), col("label")).as("label"))
      // LAZY UNROLL (the pageRank rationale): `labels` is referenced exactly
      // once per round (the vote join — the union/anti sides read the
      // checkpointed SEED table, not the evolving labels), so the unrolled
      // tree is linear; the whole chain materializes once below. Votes are
      // integer counts with a total tie-break — no float-order surface.
      labels = s.unionByName(voted.join(s, Seq("node"), "left_anti"))
    }
    labels.localCheckpoint()
  }

  /** The rounds of [[labelPropagate]] in driver memory, over the edge list
    * `e`, collected here, and the collected `(node, label: long)` seed rows
    * typed by `schema`. Reproduces [[labelPropagateRounds]] row for row: the
    * seed rows pass through as read (repeats and null ids included) and
    * each of a node's seed rows votes; a null label votes like any other and
    * loses every count tie, as `-label` orders null first in the argmax. */
  private def labelPropagateOnDriver(e: DataFrame, seedRows: Array[Row],
                                     schema: StructType, iters: Int): DataFrame = {
    // dense node indices; in-edges grouped by dst (CSR) so a round is one
    // pass over each node's in-neighbors
    val index = mutable.HashMap.empty[Any, Int]
    val ids = mutable.ArrayBuffer.empty[Any]
    def intern(v: Any): Int = index.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    val (src, dst) = {
      val rows = e.collect()
      (rows.map(r => intern(r.get(0))), rows.map(r => intern(r.get(1))))
    }
    val n = ids.length
    val inStart = new Array[Int](n + 1)
    dst.foreach(d => inStart(d + 1) += 1)
    for (v <- 0 until n) inStart(v + 1) += inStart(v)
    val inSrc = new Array[Int](src.length)
    val fill = inStart.clone()
    for (i <- src.indices) { inSrc(fill(dst(i))) = src(i); fill(dst(i)) += 1 }
    type Label = java.lang.Long
    val seeded = new Array[Array[Label]](n)
    seedRows.groupBy(_.get(0)).foreach { case (node, rs) =>
      index.get(node).foreach(v => seeded(v) = rs.map(_.get(1).asInstanceOf[Label]))
    }
    // the argmax order of (cnt, -label): -label wraps like the engine's
    // non-ANSI negation, and a null label sorts below every other
    def beats(c: Long, l: Label, bc: Long, bl: Label): Boolean =
      c > bc || (c == bc && l != null && (bl == null || -l.longValue > -bl.longValue))
    var labels = seeded
    for (_ <- 0 until iters) {
      val prev = labels
      labels = Array.tabulate(n) { v =>
        if (seeded(v) != null) seeded(v)
        else {
          val votes = mutable.HashMap.empty[Label, Long]
          var i = inStart(v)
          while (i < inStart(v + 1)) {
            val ls = prev(inSrc(i))
            if (ls != null) ls.foreach(l => votes(l) = votes.getOrElse(l, 0L) + 1L)
            i += 1
          }
          var best: Label = null
          var bestCnt = 0L
          votes.foreach { case (l, c) => if (beats(c, l, bestCnt, best)) { best = l; bestCnt = c } }
          if (bestCnt == 0L) null else Array(best)
        }
      }
    }
    val voted = (0 until n).iterator
      .filter(v => seeded(v) == null && labels(v) != null)
      .map(v => Row(ids(v), labels(v)(0)))
    e.sparkSession.createDataFrame((seedRows.iterator ++ voted).toSeq.asJava, schema)
  }
}
