package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /** Reported-number reproducibility gate: the statistic of record is the
    * per-query MIN over sweeps, so stability means "the minimum reproduces",
    * not "every sweep takes the same time" — this host's raw sweep totals
    * swing ±25% between back-to-back identical runs (measured: 61→93 s for
    * the same code within one JVM), so a raw-total gate would refuse
    * every snapshot while the min-sum stays put. min_spread = (sum of each
    * query's SECOND-best time) / (sum of best times) − 1: if a second
    * independent sweep lands within 15% of the minimum on aggregate, the
    * reported total is reproducible, whatever the host did to the worst runs.
    * Raw per-run totals are still recorded in the JSON as the noise evidence
    * (the noisiest run must never silently become the number of record). */
  private val SpreadGate = 0.15

  /** Seconds to run one query's `count()`. A query that throws aborts the
    * sweep with its name: a failure must never pass as a fast time. */
  private[graft] def timed(spark: SparkSession, sfDir: String, name: String,
                           fn: (SparkSession, String) => DataFrame): Double = {
    // Label every job with its query (guide §1.5): the UI/event log can
    // then attribute stage and task metrics per query. Thread-local, no
    // effect on timing.
    spark.sparkContext.setJobDescription(s"bench:$name")
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case NonFatal(e) => throw new RuntimeException(s"bench query $name failed", e)
    } finally spark.sparkContext.setJobDescription(null)
  }

  /** Untimed warm-up: parquet footers, file listing, codegen/JIT baseline —
    * so the timed loop measures the operators, not session initialization.
    * An unreadable table aborts the run: Spark's error names its path. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    graft.sources.Tables.names.foreach(n => graft.sources.Tables.table(spark, sfDir, n).count())
    graft.sources.Tables.events(spark, sfDir).count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.sources.Sessions.builder(cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    // Sweep-major timing: each "run" is one full pass over every selected query,
    // so per-run totals measure the same code under the host conditions of that
    // moment — the spread between runs is pure environment noise. min-of-3 per
    // query; run 1 additionally absorbs per-query codegen/JIT, so the
    // stability spread is computed over runs 2..N only.
    val runs = 3
    // SEPARATE extra-sweep budgets: a noisy session that
    // spends a shared budget entirely on outlier replacement would leave the
    // spread gate zero retries and land an avoidable `_unstable` artifact —
    // the spread gate always keeps its own reserve.
    val maxOutlierExtras = 3
    val maxSpreadExtras = 2
    // Optional args = bench only the named queries (iteration aid); the
    // driver's no-arg invocation always sweeps everything.
    val selected =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted
      else { args.foreach(a => require(SparkEntry.queries.contains(a), s"unknown query: $a")); args.toSeq }

    // Host-speed probe: a fixed, data-independent, codegen-bound query (sum
    // over a 67M-row range) timed three times per sweep. Its trajectory across
    // snapshots calibrates host noise — when every query AND the probe inflate
    // by the same factor between two snapshots, the host slowed down, not the
    // plans (uniform ~1.2–1.5× swings have been observed; this field makes
    // that check arithmetic).
    def nullProbeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 26).selectExpr("sum(id * 3 + 1) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Three probes per sweep, MEDIAN of the three as the sweep's probe: a
    // single probe is one sample of a noisy host and its minimum across
    // snapshots swung 40%, making the normalized headline read as a
    // regression while raw times and plans improved. The median of three is
    // stable against one transient spike in either direction; probes cost
    // ~0.3 s each, noise in the statistic of record cost a full adjudication.
    def nullProbe(): Double = median(Seq.fill(3)(nullProbeOnce()))
    // Each sweep is paired with ITS null probe so a sweep timed while the
    // host was transiently loaded is identifiable after the fact.
    case class SweepRun(nullT: Double, times: Seq[Double])
    def sweep(): SweepRun = {
      val nt = nullProbe()
      SweepRun(nt, selected.map(name => timed(spark, sfDir, name, SparkEntry.queries(name))))
    }
    // allRuns grows until the min-reproducibility gate passes or the retry
    // budget is spent. Outlier rejection: a run whose null probe exceeds
    // 1.5× the session's reference was timed on a transiently loaded host
    // (one recorded 1164.8 s sweep had a 3× probe floor and earned an
    // `_unstable` artifact) — such runs
    // are EXCLUDED from the spread gate and the per-query minima and replaced
    // by a fresh sweep while budget lasts, so host spikes stop forcing
    // adjudication of the bench record. All probes are still reported.
    val OutlierFactor = 1.5
    var allRuns = Vector.fill(runs)(sweep())
    // Two rejection passes: the probe catches a host that was ALREADY slow
    // when the sweep started; the sweep-total pass catches a spike that hit
    // MID-sweep after a clean probe (observed: a 682 s sweep among 305-382 s
    // siblings with an in-range probe). Dropping slow whole-sweeps is safe
    // for the statistic of record — per-query minima never come from them —
    // and the spread gate then asks the FAST runs to reproduce each other.
    // The total factor is LOOSER than the probe's: this host's documented
    // healthy swing between identical back-to-back sweeps is ~1.5x (the
    // 61->93 s note above), so 1.5x on totals would routinely reject
    // legitimate runs (run 1 especially, which also absorbs JIT) and burn
    // the retry budget; 2.0x only catches the genuine multi-x spikes.
    val TotalOutlierFactor = 2.0
    def accepted = {
      // Reference = the session MEDIAN probe, not the minimum: one
      // anomalously FAST probe (observed: 0.069 s among 0.10-0.11 s
      // siblings) dragged the min down and cascaded every normal sweep into
      // rejection, leaving a degenerate min-of-ONE-run artifact. A fast
      // probe is never evidence against the OTHER sweeps — only
      // slower-than-typical probes mark a loaded host.
      val probeRef = median(allRuns.map(_.nullT))
      val byProbe = allRuns.filter(_.nullT <= OutlierFactor * probeRef)
      val totalFloor = byProbe.map(_.times.sum).min
      byProbe.filter(_.times.sum <= TotalOutlierFactor * totalFloor)
    }
    var outlierExtras = 0
    while (args.isEmpty && accepted.size < runs && outlierExtras < maxOutlierExtras) {
      System.err.println(f"[bench] ${allRuns.size - accepted.size} outlier sweep(s) rejected (probe > ${OutlierFactor}%.1f× probe floor or total > ${TotalOutlierFactor}%.1f× total floor) — replacement sweep")
      allRuns = allRuns :+ sweep(); outlierExtras += 1
    }
    def matrix = accepted.map(_.times)
    def nullTimes = allRuns.map(_.nullT) // ALL probes: the noise evidence
    // Gate input: accepted runs 2..N when we have >2 (the earliest accepted
    // run absorbs per-query codegen/JIT and would otherwise leak into
    // best/second-best); with only 2 runs there is nothing to drop. Reported
    // per-query minima still use ALL accepted runs — the gate decides
    // stability, the min decides the number.
    def gateMatrix = if (matrix.size > 2) matrix.drop(1) else matrix
    def bestSum = selected.indices.map(i => gateMatrix.map(_(i)).min).sum
    def secondSum = selected.indices.map { i =>
      val t = gateMatrix.map(_(i)).sorted
      if (t.size >= 2) t(1) else t(0)
    }.sum
    def spread = if (gateMatrix.size < 2) 0.0 else secondSum / bestSum - 1.0
    var spreadExtras = 0
    while (args.isEmpty && spread > SpreadGate && spreadExtras < maxSpreadExtras) {
      System.err.println(f"[bench] min spread ${spread * 100}%.1f%% > ${SpreadGate * 100}%.0f%% — extra sweep")
      allRuns = allRuns :+ sweep(); spreadExtras += 1
    }
    val results = selected.zipWithIndex.map { case (name, i) => name -> matrix.map(_(i)).min }
    // Locale.ROOT: a comma-decimal default locale would emit `1,234` → invalid JSON.
    def f(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jsonLine(rs: Seq[(String, Double)]): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
      val runTotals = matrix.map(r => f(r.sum)).mkString("[", ",", "]")
      val nulls = nullTimes.map(f).mkString("[", ",", "]")
      // value_normalized = value / median(accepted runs' probes): snapshot
      // comparison in one division — when the host slows down, the probe
      // rises by the same factor as every query, so the ratio is
      // host-speed-invariant. ROBUST form: the normalizer is the MEDIAN probe
      // over ACCEPTED sweeps (each itself a median-of-3), not the session
      // minimum — the min is an extreme order statistic whose 40% swing made
      // the normalized headline read as a regression while raw times and
      // plans improved. The "normalization" field documents the statistic
      // inside the artifact so a comparison between snapshots is
      // self-describing.
      val probeMedian = median(accepted.map(_.nullT))
      val normed = rs.map(_._2).sum / probeMedian
      // per-query normalized twins: each query's time as a multiple of the
      // same probe median, so PER-QUERY ratios between snapshots are
      // host-speed-invariant too — separating a uniform ~12% host drift from
      // real regressions is then the ratio of two snapshots'
      // queries_normalized entries
      val qsN = rs.map { case (k, v) => "\"" + k + "\":" + f(v / probeMedian) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(rs.map(_._2).sum)},"unit":"sec","value_normalized":${f(normed)},"normalization":"sum_of_per_query_minima / median(accepted-run null probes, each median-of-3)","queries":$qs,"queries_normalized":$qsN,"sf":"$sfDir","runs":${matrix.size},"rejected_runs":${allRuns.size - matrix.size},"run_totals":$runTotals,"spread":${f(spread)},"null_query":$nulls,"null_query_min":${f(nullTimes.min)},"null_query_median":${f(probeMedian)}}"""
    }
    val byName = results.toMap
    // Compact summary line (NO per-query map, < 500 bytes): the driver's
    // bounded stdout-tail capture truncated the 55-entry headline line
    // mid-object (`parsed: null`), so the LAST
    // line printed is always this small record that fits any tail window;
    // per-query numbers live in bench_full.json (and the headline line above
    // it, when the tail happens to be long enough).
    def summaryLine(rs: Seq[(String, Double)], queriesIn: String): String = {
      val probeMedian = median(accepted.map(_.nullT))
      val total = rs.map(_._2).sum
      s"""{"metric":"total","value":${f(total)},"unit":"sec","value_normalized":${f(total / probeMedian)},"normalization":"sum_of_per_query_minima / median(accepted-run null probes, each median-of-3)","n_queries":${rs.size},"sf":"$sfDir","runs":${matrix.size},"rejected_runs":${allRuns.size - matrix.size},"spread":${f(spread)},"null_query_min":${f(nullTimes.min)},"null_query_median":${f(probeMedian)},"queries_in":"$queriesIn"}"""
    }
    if (args.isEmpty) {
      // Full sweep → file (immune to stdout-tail truncation); headline → stdout.
      // An unstable sweep refuses the snapshot: it lands in a sibling file so a
      // previously committed stable bench_full.json is never overwritten by noise.
      // ≥2 accepted runs required: a single accepted sweep has spread
      // 0.0 BY CONSTRUCTION — nothing reproduced anything — and one such
      // degenerate min-of-one artifact overwrote a healthy committed
      // snapshot with uniformly ~1.5× numbers before this guard.
      val stable = spread <= SpreadGate && matrix.size >= 2
      if (!stable)
        System.err.println(f"[bench] UNSTABLE: spread ${spread * 100}%.1f%% after ${matrix.size} runs — writing bench_full_unstable.json")
      // the summary's pointer names the file THIS run actually wrote — an
      // unstable run must not send readers to a stale bench_full.json
      val outFile = if (stable) "bench_full.json" else "bench_full_unstable.json"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outFile),
        (jsonLine(results) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(jsonLine(SparkEntry.headline.map(n => n -> byName(n))))
      println(summaryLine(results, outFile))
    } else println(jsonLine(results))
    spark.stop()
  }
}
