package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

class VerifySpec extends SparkSpec {
  private type Fn = (SparkSession, String) => DataFrame

  private def manifest(dir: String) =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$dir/failed.json"))

  test("dump: a throwing query lands in failed.json with its class and message") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toString
    val failed = Verify.dump(spark, "unused", out, Map[String, Fn](
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      // the throw sits in a filter, so only the write's job raises it
      "q_throws" -> ((s, _) => s.range(3).toDF().filter(raise_error(lit("boom")).isNull))))
    assert(failed.keySet === Set("q_throws"))
    assert(new java.io.File(s"$out/q_ok").list().exists(_.endsWith(".parquet")))
    assert(Option(new java.io.File(s"$out/q_throws").list())
      .forall(!_.exists(_.endsWith(".parquet"))))
    val m = manifest(out)
    assert(m.size === 1)
    assert(m.get("q_throws").get("class").asText === failed("q_throws").getClass.getName)
    assert(m.get("q_throws").get("message").asText.contains("boom"))
  }

  test("dump: failed.json is an empty object when every query dumps") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toString
    val failed = Verify.dump(spark, "unused", out,
      Map[String, Fn]("q_ok" -> ((s, _) => s.range(1).toDF())))
    assert(failed.isEmpty)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/failed.json")) === "{}")
  }

  test("oracleJson: keys sorted, one per line, values escaped") {
    val json = Verify.oracleJson(Map("q_b" -> "SELECT 2", "q_a" -> "SELECT\t'1'"))
    assert(json === "{\n\"q_a\": \"SELECT\\t'1'\",\n\"q_b\": \"SELECT 2\"\n}")
  }

  test("registry: 270 distinct query names, 265 oracles, each naming a query") {
    // SparkEntry fails to initialize on a duplicate name, so the map size
    // is the distinct-name count
    assert(SparkEntry.queries.size === 270)
    assert(SparkEntry.oracleSql.size === 265)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.forall { case (_, sql) => sql != null && sql.trim.nonEmpty })
    assert(SparkEntry.headline.size === 78)
    assert(SparkEntry.headline.toSet.subsetOf(SparkEntry.queries.keySet))
  }
}
