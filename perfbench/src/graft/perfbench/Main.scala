package graft.perfbench

import graft.sources.Sessions

/** Entry point of one benchmark run (see perfbench/README.md):
  *
  *   Main --workload <ingest_serve|catalog> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --data <dir> --digests <file>
  *        [--write-digests]
  *
  * Prints the run's metrics by name, then, as the last line, one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * untraced, the per-layer metrics traced. */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val args = Main.args(argv)
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Set("ingest_serve", "catalog").contains(workload), s"unknown workload $workload")
    val traced = arg("trace") == "1"
    val work = arg("work")

    val (spark, sessionS) = Run.time {
      Sessions.builder(Cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    Run.log("session started")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val r = new Run(spark, arg("seed").toLong, arg("seconds").toDouble, traced, work, arg("data"))
    r.put("setup.session_s", sessionS, "s")

    workload match {
      case "ingest_serve" => Ingest.serve(r)
      case "catalog" => Catalog.run(r, arg("digests"), args.contains("write-digests"))
    }
    // Set-up: session start, the median of the workload's repeated state
    // builds, and its one warm-up.
    r.put("setup_s", Seq("setup.session_s", "setup.state_s", "setup.warmup_s")
      .map(k => r.metrics.get(k).map(_._1).getOrElse(Double.NaN)).sum, "s")
    r.put("failed_ratio", r.failed.toDouble / math.max(r.attempted, 1L), "ratio")
    Run.log("stopping")
    spark.stop()
    Run.log("stopped")
    for ((k, (v, u)) <- r.metrics) println(f"$k%-40s $v%.6g $u")
    println(result(r))
  }

  /** `--key value` pairs and bare `--flag`s (mapped to ""). */
  def args(argv: Array[String]): Map[String, String] =
    argv.indices.collect {
      case i if argv(i).startsWith("--") =>
        argv(i).drop(2) -> argv.lift(i + 1).filterNot(_.startsWith("--")).getOrElse("")
    }.toMap

  def result(r: Run): String = {
    val wanted = if (r.traced) Layers.PerLayer else Layers.EndToEnd
    val missing = wanted.filter { case (k, _) => !r.metrics.contains(k) }.map(_._1)
    // An end-to-end metric is never defaulted: missing means the run failed.
    val complete = r.traced || missing.isEmpty
    val ms = wanted.collect {
      case (k, _) if r.metrics.contains(k) => k -> r.metrics(k)
      case (k, u) if r.traced => k -> (0.0, u)
    }
    val finite = ms.forall { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
    val correct = r.failed == 0 && complete && finite
    val body = ms.map { case (k, (v, u)) =>
      val x = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(r.attempted, 1L)}, "failed": ${r.failed}, "metrics": {$body}}"""
  }
}
