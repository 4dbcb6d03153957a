package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB oracle compare (`tools/compare.py`), and
  * failed.json, mapping each query that threw to its exception class and
  * message (`{}` when every query dumped). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.sources.Sessions.builder(cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Subset filter for development runs: SPARK_GRAFT_ONLY=q1,q2
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** Write each query's result to `$outDir/<name>` and the failure manifest
    * to `$outDir/failed.json`; returns the failures by query name. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame]): Map[String, Throwable] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
    }
    val json = failed.map { case (name, e) =>
      s"${q(name)}: {${q("class")}: ${q(e.getClass.getName)}, " +
        s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), json)
    failed.toMap
  }

  /** The oracle SQL as a JSON object, one key per line in sorted order, so
    * two dumps diff line by line. */
  private[graft] def oracleJson(oracles: Map[String, String]): String =
    oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{\n", ",\n", "\n}")

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in oracle SQL or an exception message would otherwise
  // make the file unreadable to a JSON parser.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
