package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Endpoints, Views}
import graft.streaming.{QueueIngest, StreamingViews}

/** The pipeline workload: queue frames -> `QueueIngest.decodeFrames` ->
  * `StreamingViews.maintainViews`, with `Endpoints` reading the views. */
object Ingest {
  val HistoryEvents = 10000
  /** After the window: bursts of this many events, each queued at once and
    * drained as one micro-batch, give the write path's capacity. */
  val BurstEvents = 8000
  val Bursts = 5
  val OfferedRate = 2000
  val ReadsPerSecond = 1.0
  /** Seconds of live ingest and reads before the measured window. */
  val LiveWarmupSeconds = 3
  val ReaderThreads = 2
  val TickMs = 25L
  /** Input partitions of the queue: every micro-batch reads this many splits,
    * as a consumer of a partitioned topic would. */
  val QueuePartitions = 4

  /** The stream under test. `decodeFrames` yields `props` as `STRUCT<k>`
    * while `Views.geoCounts` reads it with `get_json_object`, so the
    * benchmark re-encodes it as JSON text between decode and the views (the
    * shape of the events table and of `encodeFrames`' input). */
  def decoded(frames: DataFrame): DataFrame =
    QueueIngest.decodeFrames(frames).withColumn("props", to_json(col("props")))

  def startViews(frames: DataFrame, out: String, ckpt: String): StreamingQuery =
    StreamingViews.maintainViews(decoded(frames), out, ckpt, Trigger.ProcessingTime(0))

  // ---- endpoint requests ----------------------------------------------------

  final case class Req(endpoint: String, key: Long = 0, hour: String = "", country: String = "",
                       period: String = "", now: Instant = Instant.EPOCH, category: String = "")

  private val HourFmt = DateTimeFormatter.ofPattern("yyyyMMddHH").withZone(ZoneOffset.UTC)

  /** Seeded parameters for one request, around simulated time `simNowMicros`. */
  def request(rnd: java.util.SplittableRandom, zipf: Zipf, endpoint: String, simNowMicros: Long): Req = {
    val now = Gen.instant(simNowMicros)
    endpoint match {
      case "customer_latest" => Req(endpoint, key = zipf.rank(rnd.nextDouble()).toLong)
      case "global_recent" => Req(endpoint)
      case "geo_hourly" =>
        Req(endpoint, hour = HourFmt.format(now.minusSeconds(3600L * rnd.nextInt(2))),
          country = Gen.Types(rnd.nextInt(Gen.Types.size)))
      case "new_count" =>
        Req(endpoint, period = Seq("5min", "hourly", "daily")(rnd.nextInt(3)), now = now)
      case "category_trends" => Req(endpoint, category = Gen.Types(rnd.nextInt(Gen.Types.size)))
    }
  }

  def endpoint(events: DataFrame, q: Req): DataFrame = q.endpoint match {
    case "customer_latest" => Endpoints.customerLatest(events, q.key)
    case "global_recent" => Endpoints.globalRecent(events, 5)
    case "geo_hourly" => Endpoints.geoDistributionHourly(events, q.hour, q.country)
    case "new_count" => Endpoints.newProductsCount(events, q.period, q.now)
    case "category_trends" => Endpoints.categoryTrends(events, q.category)
  }

  /** The view directory an endpoint reads, as written by `maintainViews`. */
  def view(spark: SparkSession, out: String, q: Req): DataFrame = {
    val dir = if (q.endpoint == "customer_latest") "latest_increment" else "recent_log"
    spark.read.parquet(s"$out/$dir").drop("batch")
  }

  /** One endpoint read over the views, in its three traced steps. */
  def read(spark: SparkSession, out: String, q: Req): Array[Row] = {
    val df = Spans.span("endpoint.list")(view(spark, out, q))
    val plan = Spans.span("endpoint.build")(endpoint(df, q))
    Spans.span("endpoint.exec")(plan.collect())
  }

  // ---- output checks --------------------------------------------------------

  /** Multiset equality on `b`'s columns, by order-independent digest. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = b.columns.toIndexedSeq.map(c => col(s"`$c`"))
    Catalog.digest(a.select(cols: _*)) == Catalog.digest(b.select(cols: _*))
  }

  /** The maintained views against their batch twins over the same events,
    * then every endpoint over the views against the batch call. */
  def checkOutputs(r: Run, out: String, events: DataFrame, reqs: Seq[Req]): Seq[(String, Double)] = {
    val spark = r.spark
    Run.log("output checks")
    // The two view checks run beside the endpoint checks.
    val viewChecks = new Thread(() => {
      spark.sparkContext.setJobGroup("check", "view checks")
      r.check("latest_increment == Views.latestInfo")(
        sameRows(StreamingViews.latestFromIncrements(spark, out), Views.latestInfo(events)))
      r.check("recent_log == Views.recentLog")(
        sameRows(spark.read.parquet(s"$out/recent_log"), Views.recentLog(events)))
    }, "perfbench-view-checks")
    viewChecks.start()
    spark.sparkContext.setJobGroup("reader", "endpoint checks")
    val timed = reqs.flatMap { q =>
      val t0 = System.nanoTime()
      val got = r.op(s"endpoint ${q.endpoint} over views")(read(spark, out, q))
      val ms = Run.msSince(t0)
      got.foreach { rows =>
        r.check(s"endpoint $q == batch Endpoints") {
          val twin = endpoint(events, q)
          val cols = twin.columns.toSeq
          rows.map(row => cols.map(c => row.get(row.fieldIndex(c))).mkString("|")).toSeq.sorted ==
            twin.collect().map(_.toSeq.mkString("|")).toSeq.sorted
        }
      }
      got.map(_ => q.endpoint -> ms)
    }
    spark.sparkContext.clearJobGroup()
    viewChecks.join()
    Run.log("output checks done")
    timed
  }

  def checkRequests(seed: Long, simNowMicros: Long): Seq[Req] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val zipf = new Zipf(Gen.Users, 1.0)
    Layers.Endpoints.map(e => request(rnd, zipf, e, simNowMicros))
  }

  private def putEndpoints(r: Run, samples: Seq[(String, Double)]): Unit =
    for (e <- Layers.Endpoints) {
      val xs = samples.collect { case (`e`, ms) => ms }
      r.put(s"endpoint.$e.p50_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
      r.put(s"endpoint.$e.tail_ms", if (xs.isEmpty) 0.0 else Stats.tail(xs).value, "ms")
      r.put(s"endpoint.$e.n", xs.size.toDouble, "count")
    }

  private def putSteps(r: Run): Unit =
    for (s <- Seq("list", "build", "exec")) {
      val xs = Spans.get(s"endpoint.$s")
      r.put(s"endpoint.${s}_ms", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
    }

  private def writerLabel(g: String): String = if (g == "reader") "reader" else if (g == "check") "check" else "writer"

  // ---- ingest_serve ---------------------------------------------------------

  private final case class Block(offset: Long, from: Int, until: Int, addNanos: Long)
  private final case class Read(endpoint: String, dueNanos: Long, startNanos: Long, endNanos: Long,
                                freshnessMs: Option[Double])

  def serve(r: Run): Unit = {
    val spark = r.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val frameEncoder: org.apache.spark.sql.Encoder[Row] = Gen.frameEncoder
    val gen = new Gen(r.seed)
    val history = gen.take(HistoryEvents)
    val historyFrames = history.map(Gen.frame)
    val liveN = (OfferedRate * (LiveWarmupSeconds + r.seconds + 1)).toInt
    val live = gen.take(liveN)
    val liveFrames = live.map(Gen.frame).toArray
    Run.log("events generated")

    // Set-up: three fresh view sets preloaded with the history; the last one
    // stays running for the measured window.
    def build(i: Int): (MemoryStream[Row], StreamingQuery, String) = {
      val frames = MemoryStream[Row](QueuePartitions)
      val out = r.dir(s"views-$i")
      val q = startViews(frames.toDF(), out, r.dir(s"ckpt-$i"))
      frames.addData(historyFrames)
      q.processAllAvailable()
      (frames, q, out)
    }
    val built = (0 until 3).map(i => Run.time(build(i)))
    built.init.foreach(_._1._2.stop())
    Run.log("views preloaded")
    r.put("setup.state_s", Stats.median(built.map(_._2)), "s")
    val (frames, query, out) = built.last._1
    val historyAddMs = System.currentTimeMillis().toDouble
    val rnd = new java.util.SplittableRandom(r.seed ^ 0x7eadL)
    val zipf = new Zipf(Gen.Users, 1.0)
    def simNow(elapsedNanos: Long): Long =
      Gen.SimStartMicros + (HistoryEvents + elapsedNanos * OfferedRate / 1000000000L) *
        Gen.Accel * 1000000L / Gen.NominalRate
    r.put("setup.warmup_s", Run.time {
      spark.sparkContext.setJobGroup("reader", "warm-up")
      Layers.Endpoints.foreach(e => read(spark, out, request(rnd, zipf, e, simNow(0))))
      spark.sparkContext.clearJobGroup()
    }._2, "s")

    try {
      val tracer = new Tracer(spark, writerLabel)
      val jvm = new JvmWindow
      // The loop runs a live warm-up, then the measured window; only events
      // and reads due inside the window are measured.
      val windowNanos = ((LiveWarmupSeconds + r.seconds) * 1e9).toLong
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      val measureFrom = start + LiveWarmupSeconds * 1000000000L
      def dueNanos(i: Int): Long = Stats.dueNanos(start, i, OfferedRate)
      def epochMs(nanos: Long): Double = startMs + (nanos - start) / 1e6
      // A traced run traces every other two-second slot of the window; the
      // untraced slots give the overhead.
      def tracedSlot(nanos: Long): Boolean = nanos >= measureFrom && ((nanos - measureFrom) / 2000000000L) % 2 == 1
      val blocks = new ConcurrentLinkedQueue[Block]()
      val reads = new ConcurrentLinkedQueue[Read]()
      val readerLate = new ConcurrentLinkedQueue[Double]()

      // Open-loop generator: every tick, send every event now due.
      val generator = new Thread(() => {
        var next = 0
        while (System.nanoTime() - start < windowNanos && next < liveN) {
          val upto = math.min(liveN, ((System.nanoTime() - start) * OfferedRate / 1000000000L).toInt + 1)
          if (upto > next) {
            val off = frames.addData(liveFrames.slice(next, upto).toSeq)
            blocks.add(Block(off.json().replaceAll("[^0-9]", "").toLong, next, upto, System.nanoTime()))
            next = upto
          }
          Thread.sleep(TickMs)
        }
      }, "perfbench-generator")

      // Open-loop readers: requests fall due on a fixed schedule, round-robin
      // over the five endpoints, and wait for a free reader thread.
      val pool = Executors.newFixedThreadPool(ReaderThreads)
      val scheduler = new Thread(() => {
        var k = 0
        var due = start
        while (due - start < windowNanos) {
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          if (r.traced) { if (tracedSlot(due)) tracer.start() else tracer.stop() }
          val q = request(rnd, zipf, Layers.Endpoints(k % 5), simNow(due - start))
          val d = due
          pool.submit(new Runnable {
            def run(): Unit = {
              val s = System.nanoTime()
              if (d >= measureFrom) readerLate.add((s - d) / 1e6)
              spark.sparkContext.setJobGroup("reader", q.endpoint)
              r.op(s"read ${q.endpoint}")(read(spark, out, q)).foreach { rows =>
                val e = System.nanoTime()
                val fresh = if (q.endpoint != "global_recent" || rows.isEmpty) None else {
                  val newest = rows.map(_.getAs[Long]("event_id")).max
                  val sent = if (newest >= HistoryEvents) epochMs(dueNanos((newest - HistoryEvents).toInt)) else historyAddMs
                  Some(epochMs(e) - sent)
                }
                if (d >= measureFrom) reads.add(Read(q.endpoint, d, s, e, fresh))
              }
            }
          })
          k += 1
          due = Stats.dueNanos(start, k, ReadsPerSecond)
        }
      }, "perfbench-readers")

      Run.log("window")
      generator.start(); scheduler.start()
      generator.join(); scheduler.join()
      pool.shutdown()
      pool.awaitTermination(120, TimeUnit.SECONDS)
      Run.log("window closed")
      query.processAllAvailable()
      Run.log("stream drained")
      if (r.traced) tracer.stop()

      // Event-to-view: due time -> commit of the micro-batch holding the event.
      val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0)
      val bs = blocks.asScala.toSeq.sortBy(_.offset)
      val commits = progress.map(p => Layers.endOffset(p) -> Layers.commitMs(p)).sortBy(_._1)
      def commitOf(offset: Long): Option[Long] = commits.find(_._1 >= offset).map(_._2)
      val e2vByDue = bs.flatMap(b => commitOf(b.offset).toSeq.flatMap(c =>
        (b.from until b.until).map(i => dueNanos(i) -> (c - epochMs(dueNanos(i))))))
        .filter(_._1 >= measureFrom)
      val e2v = e2vByDue.map(_._2)
      val sent = bs.map(_.until).foldLeft(0)(math.max)

      // Capacity of the write path: bursts queued at once, each drained as
      // one micro-batch into the live views, events per second of drain.
      val bursts = gen.take(Bursts * BurstEvents).grouped(BurstEvents).toSeq
      val burstRates = bursts.map { evs =>
        val fs = evs.map(Gen.frame)
        frames.addData(fs)
        val t0 = System.nanoTime()
        query.processAllAvailable()
        BurstEvents / Run.secondsSince(t0)
      }
      Run.log(f"bursts drained: ${burstRates.map(x => f"$x%.0f").mkString(" ")} events/s")

      val rs = reads.asScala.toSeq
      val lat = rs.map(x => (x.endNanos - x.dueNanos) / 1e6)
      if (lat.isEmpty || e2v.isEmpty) { r.op("serve window")(sys.error("no reads or no commits in the window")); return }
      val tail = Stats.tail(lat)
      val e2vTail = Stats.tail(e2v)
      r.put("rate_per_s", Stats.median(burstRates), "1/s")
      r.put("latency_ms", Stats.median(e2v), "ms")
      r.put("tail_pct", e2vTail.pct, "%")
      r.put("tail_n", e2vTail.n, "count")
      r.put("event_to_view_p50_ms", Stats.median(e2v), "ms")
      r.put("event_to_view_tail_ms", e2vTail.value, "ms")
      r.put("endpoint_p50_ms", Stats.median(lat), "ms")
      r.put("endpoint_tail_ms", tail.value, "ms")
      val fresh = rs.flatMap(_.freshnessMs)
      if (fresh.nonEmpty) r.put("freshness_p50_ms", Stats.median(fresh), "ms")

      if (r.traced) {
        val (on, off) = e2vByDue.partition(x => tracedSlot(x._1))
        if (on.nonEmpty && off.nonEmpty)
          r.put("trace.overhead", Stats.overhead(Stats.median(on.map(_._2)),
            Stats.median(off.map(_._2)), lowerIsBetter = true), "ratio")
        val ps = tracer.streams.progress.asScala.toSeq.filter(_.numInputRows > 0)
        val backlogAtCommit = progress.map { p =>
          val c = Layers.commitMs(p).toDouble
          val added = bs.filter(b => epochMs(b.addNanos) <= c).map(b => b.until - b.from).sum
          val done = bs.filter(b => commitOf(b.offset).exists(_ <= c)).map(b => b.until - b.from).sum
          (added - done).toLong
        }
        Layers.putStream(r, ps, backlogAtCommit)
        Layers.views(r, out, HistoryEvents + sent + Bursts * BurstEvents)
        Layers.putSpark(r, tracer.jobs)
        Layers.putJvm(r, jvm)
        putEndpoints(r, rs.map(x => x.endpoint -> (x.endNanos - x.dueNanos) / 1e6))
        putSteps(r)
        r.put("gen.lateness_tail_ms", Stats.tail(bs.filter(b => dueNanos(b.from) >= measureFrom)
          .map(b => (b.addNanos - dueNanos(b.from)) / 1e6)).value, "ms")
        r.put("reader.lateness_tail_ms", Stats.tail(readerLate.asScala.toSeq).value, "ms")
      }

      val all = history ++ live.take(sent) ++ bursts.flatten
      checkOutputs(r, out, Gen.eventsDf(spark, all).cache(), checkRequests(r.seed, all.map(_.tsMicros).max))
    } finally query.stop()
  }
}
