package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: two-node cycle is the uniform fixed point") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 5).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.5) < 1e-12 && math.abs(r("b") - 0.5) < 1e-12)
  }

  test("pageRank: dangling node redistributes its mass (hand-computed round)") {
    // a -> b, b dangling. After one round from (0.5, 0.5), d = 0.85:
    //   rank(a) = 0.15/2 + 0.85 * (0 + 0.5/2)          = 0.2875
    //   rank(b) = 0.15/2 + 0.85 * (0.5/1 + 0.5/2)      = 0.7125
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 1).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.2875) < 1e-12, s"a: ${r("a")}")
    assert(math.abs(r("b") - 0.7125) < 1e-12, s"b: ${r("b")}")
  }

  test("pageRank: a source node (no in-edges, dangling-free graph) keeps (1-d)/n") {
    // r17 branch pin: dangling-free but PARTIAL in-coverage — the coverage
    // probe must route this graph down the left-join chain (the slim chain
    // would silently drop s from the output). One round from 1/3 each,
    // d = 0.85: rank(s) = 0.15/3 = 0.05 (no in-edges, no dangling term),
    // rank(a) = 0.05 + 0.85*(1/3 + 1/3) = 0.61666…, rank(b) = 0.05 +
    // 0.85*(1/3) = 0.33333…
    val edges = Seq(("s", "a"), ("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 1).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set("s", "a", "b"), s"node set: ${r.keySet}")
    assert(math.abs(r("s") - 0.05) < 1e-12, s"s: ${r("s")}")
    assert(math.abs(r("a") - (0.05 + 0.85 * 2.0 / 3.0)) < 1e-12, s"a: ${r("a")}")
    assert(math.abs(r("b") - (0.05 + 0.85 / 3.0)) < 1e-12, s"b: ${r("b")}")
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
  }

  test("pageRank: mass is conserved (sums to 1) with dangling nodes present") {
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "a"),
      ("e", "a"), ("b", "e"), ("c", "f") // f dangling
    ).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, iters = 7).collect().map(_.getDouble(1))
    assert(ranks.length === 6)
    assert(math.abs(ranks.sum - 1.0) < 1e-9, s"sum: ${ranks.sum}")
    assert(ranks.forall(_ > 0))
  }

  test("pageRank: weighted edges shift rank toward the heavy edge's target") {
    // hub h points to x with weight 9 and y with weight 1; x must outrank y
    val edges = Seq(("h", "x", 9.0), ("h", "y", 1.0), ("x", "h", 1.0), ("y", "h", 1.0))
      .toDF("src", "dst", "weight")
    val r = Graph.pageRank(edges, iters = 5, weightCol = "weight").collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("x") > r("y"), s"x=${r("x")} y=${r("y")}")
    // unweighted twin treats them identically
    val u = Graph.pageRank(edges, iters = 5).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(u("x") - u("y")) < 1e-12)
  }

  test("labelPropagate: vote-count ties break to the smallest label") {
    val edges = Seq(("s1", "x"), ("s2", "x")).toDF("src", "dst")
    val seeds = Seq(("s1", 5L), ("s2", 3L)).toDF("node", "label")
    val r = Graph.labelPropagate(edges, seeds, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("x") === 3L)
  }

  test("labelPropagate: seed labels are clamped against neighbor pressure") {
    // two label-3 neighbors vote into seed s1; its seeded label 5 must survive
    val edges = Seq(("s2", "s1"), ("s3", "s1")).toDF("src", "dst")
    val seeds = Seq(("s1", 5L), ("s2", 3L), ("s3", 3L)).toDF("node", "label")
    val r = Graph.labelPropagate(edges, seeds, iters = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("s1") === 5L)
  }

  test("labelPropagate: labels spread one hop per round, unlabeled stay absent") {
    val edges = Seq(("s", "m"), ("m", "t"), ("lone", "t")).toDF("src", "dst")
    val seeds = Seq(("s", 7L)).toDF("node", "label")
    val one = Graph.labelPropagate(edges, seeds, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(one === Map("s" -> 7L, "m" -> 7L)) // t unreached, lone never labeled
    val two = Graph.labelPropagate(edges, seeds, iters = 2).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(two === Map("s" -> 7L, "m" -> 7L, "t" -> 7L))
  }

  test("labelPropagate: plurality wins over a single dissenting neighbor") {
    val edges = Seq(("a1", "x"), ("a2", "x"), ("b1", "x")).toDF("src", "dst")
    val seeds = Seq(("a1", 9L), ("a2", 9L), ("b1", 1L)).toDF("node", "label")
    val r = Graph.labelPropagate(edges, seeds, iters = 1).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("x") === 9L) // 2 votes for 9 beat 1 vote for 1 despite 1 < 9
  }

  test("labelPropagate: a seed table above the driver bound runs distributed") {
    // a three-edge graph beside more seed rows than the driver bound: the
    // seeds count toward the bound, so nothing is collected to the driver
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val edges = Seq((0L, -1L), (1L, -1L), (1L, -2L)).toDF("src", "dst")
    val seeds = spark.range(graft.operators.Dedup.maxDriverEdges)
      .select(col("id").as("node"), (col("id") % 2 + 4).as("label"))
    val r = Graph.labelPropagate(edges, seeds, iters = 1)
    assert(r.queryExecution.logical.collectFirst { case l: LocalRelation => l }.isEmpty,
      "seeds above the bound must not be collected")
    assert(r.count() === graft.operators.Dedup.maxDriverEdges + 2)
    val voted = r.filter(col("node") < 0).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(voted === Map(-1L -> 4L, -2L -> 5L)) // -1: one vote each for 4 and 5, tie to 4
  }

  test("triangleCounts: K4 gives 3 per node; cycles and paths give none") {
    // K4 on 1-4 (4 triangles, 3 per node) + a diamond-free square 5-8 + a
    // path 9-10; duplicate and reversed edges must not double-count
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (7L, 8L), (8L, 5L), (9L, 10L)) ++
      Seq((2L, 1L), (3L, 1L), (1L, 2L))) // noise: reversed + duplicate
      .toDF("src", "dst")
    val r = Graph.triangleCounts(edges).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $r")
  }
}
