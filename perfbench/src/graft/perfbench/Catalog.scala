package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The `catalog` workload: a fixed slice of `SparkEntry.queries`, run
  * serially, each to full materialization through a `noop` sink.
  *
  * An untimed warm-up pass checks every query's output against an
  * order-independent digest committed next to this benchmark; then timed
  * passes repeat until the run's seconds are spent (at least two, so that
  * every run reports the same kind of median), and `catalog_s` is the
  * median pass. */
object Catalog {
  /** Family -> queries: one query from every family of the query
    * catalog, chosen so that one warm pass takes about ten seconds at sf0.01
    * on four cores (perfbench/README.md lists the queries left out). */
  val Slice: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("s_queue_decode"),
    "graph" -> Seq("q_label_propagation"),
    "dedup" -> Seq("dedup_trim_spans"),
    "sim" -> Seq("sim_topk_bruteforce"),
    "text" -> Seq("text_bpe_token_count"),
    "curation" -> Seq("pipeline_curate_audit"),
    "search" -> Seq("search_hybrid_rrf"),
    "stream" -> Seq("w1_stream_hour_counts"),
    "multimodal" -> Seq("multimodal_jpeg_pixels"))

  val Families: Seq[String] = Slice.map(_._1)
  val Queries: Seq[String] = Slice.flatMap(_._2)
  val Group = "catalog"

  /** Order-independent digest of a result: row count plus the sums of the
    * two halves of each row's 64-bit hash. Floating-point values are compared
    * at six significant digits, so summation order cannot change a digest. */
  def digest(df: DataFrame): String = {
    val row = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64(array(row.map(_.cast("string")).toIndexedSeq: _*).cast("string"))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.5e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(_, vt, _) => transform_values(c, (_, v) => norm(v, vt))
    case BinaryType => sha2(c, 256)
    case _ => c
  }

  def readDigests(path: String): Map[String, String] = {
    val f = Paths.get(path)
    if (!Files.exists(f)) Map.empty
    else new ObjectMapper().readTree(Files.readAllBytes(f)).fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  }

  def writeDigests(path: String, ds: Seq[(String, String)]): Unit = {
    val body = ds.map { case (q, d) => s"""  "$q": "$d"""" }.mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(path), body.getBytes(UTF_8))
  }

  final case class Timing(query: String, buildS: Double, actionS: Double, eagerJobs: Int,
                          traced: Boolean) {
    def totalS: Double = buildS + actionS
  }

  def run(r: Run, digestPath: String, writeDigests: Boolean): Unit = {
    val spark = r.spark
    spark.sparkContext.setJobGroup(Group, "catalog")
    val fns = SparkEntry.queries

    // Set-up: loading the input tables, three times, then a warm-up pass
    // that doubles as the output check.
    val loads = Seq.fill(3)(Run.time(graft.sources.Tables.names
      .map(n => graft.sources.Tables.table(spark, r.dataDir, n).count()).sum)._2)
    r.put("setup.state_s", Stats.median(loads), "s")
    val (_, warmS) = Run.time {
      val expected = readDigests(digestPath)
      val got = Queries.flatMap { q =>
        r.op(s"catalog warm-up $q")(q -> digest(fns(q)(spark, r.dataDir)))
      }
      if (writeDigests) Catalog.writeDigests(digestPath, got)
      else for ((q, d) <- got) r.check(s"catalog digest $q")(expected.get(q).contains(d))
    }
    r.put("setup.warmup_s", warmS, "s")
    Run.log("warm-up pass checked")

    // A traced run traces every other query, swapping which half from pass
    // to pass: each query is timed traced and untraced, and the untraced
    // times give the overhead.
    val tracer = new Tracer(spark, _ => Group)
    def pass(p: Int): Option[Seq[Timing]] = {
      val ts = Queries.zipWithIndex.map { case (q, j) =>
        val traced = r.traced && (j + p) % 2 == 1
        if (traced) tracer.start() else tracer.stop()
        r.op(s"catalog $q") {
          spark.sparkContext.setJobDescription(s"build:$q")
          val w0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val df = Spans.span(s"catalog.build.$q")(fns(q)(spark, r.dataDir))
          val t1 = System.nanoTime()
          val w1 = System.currentTimeMillis()
          spark.sparkContext.setJobDescription(s"action:$q")
          Spans.span(s"catalog.action.$q")(df.write.format("noop").mode("overwrite").save())
          val t2 = System.nanoTime()
          val eager = if (traced) { Tracer.flush(spark.sparkContext); tracer.jobs.jobsBetween(w0, w1) } else 0
          Timing(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, eager, traced)
        }
      }
      tracer.stop()
      spark.sparkContext.setJobDescription(null)
      if (ts.forall(_.isDefined)) Some(ts.flatten) else None
    }

    val timings = mutable.ArrayBuffer.empty[Timing]
    val passTotals = mutable.ArrayBuffer.empty[Double]
    val jvm = new JvmWindow
    val t0 = System.nanoTime()
    var p = 0
    do {
      pass(p).foreach { ts => timings ++= ts; passTotals += ts.map(_.totalS).sum }
      Run.log(f"pass $p: ${passTotals.lastOption.getOrElse(Double.NaN)}%.2f s")
      p += 1
    } while (Run.secondsSince(t0) < r.seconds || p < 2)
    if (timings.isEmpty) return

    // Per query, the median of its (traced, in a traced run) timings.
    def perQuery(traced: Boolean, f: Timing => Double): Map[String, Double] =
      timings.filter(_.traced == traced).groupBy(_.query).map { case (q, ts) => q -> Stats.median(ts.map(f).toSeq) }
    val catalogS = if (r.traced) perQuery(true, _.totalS).values.sum else Stats.median(passTotals.toSeq)
    // Latency over unlike queries: the geometric mean of the per-query
    // medians, which every query moves.
    val queryMs = perQuery(r.traced, _.totalS * 1000).values.toSeq
    r.put("rate_per_s", Queries.size / catalogS, "1/s")
    r.put("latency_ms", math.exp(queryMs.map(math.log).sum / queryMs.size), "ms")
    r.put("catalog_s", catalogS, "s")
    if (r.traced) {
      val total = perQuery(true, _.totalS)
      r.put("catalog.build_s", perQuery(true, _.buildS).values.sum, "s")
      r.put("catalog.action_s", perQuery(true, _.actionS).values.sum, "s")
      r.put("catalog.eager_jobs", perQuery(true, _.eagerJobs.toDouble).values.sum, "count")
      for ((fam, qs) <- Slice) r.put(s"catalog.${fam}_s", qs.flatMap(total.get).sum, "s")
      for (q <- Queries) total.get(q).foreach(v => r.put(s"catalog.q.${q}_s", v, "s"))
      val untraced = perQuery(false, _.totalS)
      val both = total.keySet.intersect(untraced.keySet).toSeq
      if (both.nonEmpty)
        r.put("trace.overhead", Stats.overhead(both.map(total).sum, both.map(untraced).sum, lowerIsBetter = true), "ratio")
      Layers.putSpark(r, tracer.jobs)
      Layers.putStream(r, tracer.streams.progress.asScala.toSeq, backlog = Seq.empty)
      Layers.putJvm(r, jvm)
    }
  }
}
