package graft.perfbench

import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The metric names every run reports, and the per-layer summaries shared by
  * the workloads. A layer a workload leaves idle reports 0. */
object Layers {
  /** End-to-end metrics: every workload reports each one, in its own terms.
    * Tails are layer metrics: a run's tail rests on its few slowest
    * micro-batches or queries and does not repeat within a tenth. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rate_per_s" -> "1/s", "latency_ms" -> "ms")

  val StreamPhases: Seq[(String, String)] = Seq(
    "addBatch" -> "addBatch", "queryPlanning" -> "queryPlanning", "getBatch" -> "getBatch",
    "latestOffset" -> "latestOffset", "walCommit" -> "walCommit",
    "commitOffsets" -> "commitOffsets", "trigger" -> "triggerExecution")
  val Endpoints: Seq[String] =
    Seq("customer_latest", "global_recent", "geo_hourly", "new_count", "category_trends")
  val SparkGroups: Seq[String] = Seq("writer", "reader", "catalog")

  val PerLayer: Seq[(String, String)] =
    Seq("event_to_view_p50_ms" -> "ms", "event_to_view_tail_ms" -> "ms",
      "endpoint_p50_ms" -> "ms", "endpoint_tail_ms" -> "ms", "freshness_p50_ms" -> "ms",
      "catalog_s" -> "s", "failed_ratio" -> "ratio", "tail_pct" -> "%", "tail_n" -> "count",
      "trace.overhead" -> "ratio") ++
    StreamPhases.flatMap { case (p, _) => Seq(s"stream.${p}_ms" -> "ms", s"stream.${p}_p50_ms" -> "ms") } ++
    Seq("stream.batches" -> "count", "stream.rows_per_batch" -> "count",
      "stream.backlog_max_events" -> "count", "stream.backlog_end_events" -> "count",
      "views.bytes_per_event" -> "B", "views.files" -> "count") ++
    Endpoints.flatMap(e => Seq(s"endpoint.$e.p50_ms" -> "ms", s"endpoint.$e.tail_ms" -> "ms",
      s"endpoint.$e.n" -> "count")) ++
    Seq("endpoint.list_ms" -> "ms", "endpoint.build_ms" -> "ms", "endpoint.exec_ms" -> "ms",
      "gen.lateness_tail_ms" -> "ms", "reader.lateness_tail_ms" -> "ms") ++
    SparkGroups.flatMap(g => Seq(s"spark.$g.jobs" -> "count", s"spark.$g.tasks" -> "count",
      s"spark.$g.executor_run_ms" -> "ms", s"spark.$g.executor_cpu_ms" -> "ms",
      s"spark.$g.shuffle_read_bytes" -> "B", s"spark.$g.shuffle_write_bytes" -> "B",
      s"spark.$g.spill_bytes" -> "B")) ++
    Seq("catalog.build_s" -> "s", "catalog.action_s" -> "s", "catalog.eager_jobs" -> "count") ++
    Catalog.Families.map(f => s"catalog.${f}_s" -> "s") ++
    Catalog.Queries.map(q => s"catalog.q.${q}_s" -> "s") ++
    Seq("jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB")

  def putSpark(r: Run, jobs: JobListener): Unit =
    for (g <- SparkGroups) {
      val t = jobs.group(g)
      r.put(s"spark.$g.jobs", t.jobs.toDouble, "count")
      r.put(s"spark.$g.tasks", t.tasks.toDouble, "count")
      r.put(s"spark.$g.executor_run_ms", t.runMs, "ms")
      r.put(s"spark.$g.executor_cpu_ms", t.cpuMs, "ms")
      r.put(s"spark.$g.shuffle_read_bytes", t.shuffleRead.toDouble, "B")
      r.put(s"spark.$g.shuffle_write_bytes", t.shuffleWrite.toDouble, "B")
      r.put(s"spark.$g.spill_bytes", t.spill.toDouble, "B")
    }

  /** Micro-batch phases (sum and median over batches that read rows), batch
    * count and size, and the event backlog seen at each batch commit. */
  def putStream(r: Run, ps: Seq[StreamingQueryProgress], backlog: Seq[Long]): Unit = {
    val busy = ps.filter(_.numInputRows > 0)
    for ((name, key) <- StreamPhases) {
      val xs = busy.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
      r.put(s"stream.${name}_ms", xs.sum, "ms")
      r.put(s"stream.${name}_p50_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }
    r.put("stream.batches", busy.size.toDouble, "count")
    r.put("stream.rows_per_batch",
      if (busy.isEmpty) 0.0 else Stats.median(busy.map(_.numInputRows.toDouble)), "count")
    r.put("stream.backlog_max_events", if (backlog.isEmpty) 0.0 else backlog.max.toDouble, "count")
    r.put("stream.backlog_end_events", if (backlog.isEmpty) 0.0 else backlog.last.toDouble, "count")
  }

  def putJvm(r: Run, w: JvmWindow): Unit = {
    r.put("jvm.gc_ms", w.gcMsSince, "ms")
    r.put("jvm.heap_peak_mb", w.heapPeakMb, "MB")
  }

  /** Wall-clock epoch ms at which a micro-batch committed. */
  def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli +
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** End offset of the (single) source of a progress report, as a long. */
  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(_.replaceAll("[^0-9-]", "")).filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)

  def views(r: Run, outDir: String, events: Long): Unit = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(outDir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    r.put("views.files", files.size.toDouble, "count")
    r.put("views.bytes_per_event",
      files.map(p => java.nio.file.Files.size(p)).sum.toDouble / math.max(events, 1L), "B")
  }
}
