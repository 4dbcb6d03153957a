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
}
