package graft

import org.apache.spark.sql.functions.{lit, raise_error}

class BenchSpec extends SparkSpec {
  test("timed: a throwing query aborts with its name instead of passing as a time") {
    // the throw sits in a filter: count() would prune it from a projection
    val e = intercept[RuntimeException](Bench.timed(spark, "unused", "q_throws",
      (s, _) => s.range(3).toDF().filter(raise_error(lit("boom")).isNull)))
    assert(e.getMessage.contains("q_throws"))
    assert(e.getCause.getMessage.contains("boom"))
  }

  test("warmUp: a missing table aborts the run and names the table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_warm")
    graft.sources.Tables.names.filterNot(_ == "lineitem").foreach { n =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"/root/testdata/sf0.001/$n.parquet"),
        dir.resolve(s"$n.parquet"))
    }
    val e = intercept[Exception](Bench.warmUp(spark, dir.toString))
    assert(e.getMessage.contains("lineitem"), e.getMessage)
  }
}
