package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Endpoints
import graft.sources.Sessions
import graft.streaming.QueueIngest

/** The benchmark's self-tests: `python3 perfbench/run.py --self-test`.
  * Exits non-zero if any test fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def assertEq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def assertNear(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  def main(argv: Array[String]): Unit = {
    val args = Main.args(argv)
    val work = args("work")

    test("argument parsing keeps bare flags") {
      assertEq(Main.args(Array("--seed", "3", "--write-digests", "--trace", "1")),
        Map("seed" -> "3", "write-digests" -> "", "trace" -> "1"))
    }
    test("median of odd and even sample counts") {
      assertEq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      assertEq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    test("tail is the sample with exactly ten beyond it, with its percentile and n") {
      val xs = (1 to 100).map(_.toDouble)
      assertEq(Stats.tail(xs), Stats.Tail(90.0, 90.0, 100))
      val ys = (1 to 30).map(_.toDouble).reverse
      assertEq(Stats.tail(ys).value, 20.0)
      assertNear(Stats.tail(ys).pct, 200.0 / 3)
      assertEq(Stats.tail(ys).n, 30)
    }
    test("tail falls back to the median below twenty samples") {
      assertEq(Stats.tail((1 to 19).map(_.toDouble)), Stats.Tail(10.0, 50.0, 19))
    }
    test("tracing overhead reads positive when the traced run is slower") {
      assertNear(Stats.overhead(traced = 110, untraced = 100, lowerIsBetter = true), 0.10)
      assertNear(Stats.overhead(traced = 90, untraced = 100, lowerIsBetter = false), 0.10)
      assertNear(Stats.overhead(traced = 95, untraced = 100, lowerIsBetter = true), -0.05)
    }
    test("open-loop due times and lateness") {
      assertEq(Stats.dueNanos(1000L, 3, 2000.0), 1000L + 1500000L)
      assertEq(Stats.dueNanos(0L, 3, 2.0), 1500000000L)
      // a request due at 1.5 ms that starts at 2.0 ms and ends at 7.5 ms
      assertNear((2000000L - Stats.dueNanos(0L, 3, 2000.0)) / 1e6, 0.5)
      assertNear((7500000L - Stats.dueNanos(0L, 3, 2000.0)) / 1e6, 6.0)
    }
    test("Zipf inversion against a hand-computed CDF (6/11, 9/11, 1)") {
      val z = new Zipf(3, 1.0)
      assertEq(Seq(0.0, 0.5, 0.545, 0.546, 0.8, 0.82, 0.999).map(z.rank), Seq(1, 1, 1, 2, 2, 3, 3))
    }
    test("generator: about 5% out of order, never more than 10 simulated minutes late") {
      val evs = new Gen(7).take(20000)
      def onClock(id: Long) = Gen.SimStartMicros + id * Gen.Accel * 1000000L / Gen.NominalRate
      val late = evs.count(e => e.tsMicros < onClock(e.eventId))
      if (late < 800 || late > 1200) throw new AssertionError(s"$late of 20000 late")
      if (evs.exists(e => e.tsMicros < onClock(e.eventId) - Gen.MaxLateMicros))
        throw new AssertionError("an event is later than the bound")
      assertEq(new Gen(7).take(100), evs.take(100))
      val hot = evs.count(_.userId == 1L).toDouble / evs.size
      if (hot < 0.06 || hot > 0.10) throw new AssertionError(s"rank-1 share $hot")
    }

    val spark = Sessions.builder(2)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("generator frames decode to the rows encodeFrames -> decodeFrames gives") {
        val evs = new Gen(11).take(3000)
        val ours = QueueIngest.decodeFrames(Gen.framesDf(spark, evs))
        val ref = QueueIngest.decodeFrames(QueueIngest.encodeFrames(Gen.eventsDf(spark, evs)))
        assertEq(ours.schema.map(f => f.name -> f.dataType), ref.schema.map(f => f.name -> f.dataType))
        assertEq(ours.count(), 3000L)
        assertEq(ours.exceptAll(ref).count() + ref.exceptAll(ours).count(), 0L)
        // the frames themselves, byte for byte apart from the JSON number format
        val refFrames = QueueIngest.encodeFrames(Gen.eventsDf(spark, evs))
        assertEq(Gen.framesDf(spark, evs).select("key", "topic", "partition", "offset", "timestamp")
          .exceptAll(refFrames.select("key", "topic", "partition", "offset", "timestamp")).count(), 0L)
      }
      test("the props bridge makes geo counts readable over decoded frames") {
        val evs = new Gen(3).take(500)
        val hour = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHH")
          .format(Gen.localTime(evs.head.tsMicros))
        val viaFrames = Endpoints.geoDistributionHourly(Ingest.decoded(Gen.framesDf(spark, evs)), hour, "view")
        val direct = Endpoints.geoDistributionHourly(Gen.eventsDf(spark, evs), hour, "view")
        assertEq(viaFrames.collect().map(_.toString).sorted.toSeq, direct.collect().map(_.toString).sorted.toSeq)
      }
      test("a throwing endpoint call and a throwing query are both counted as failed") {
        val r = new Run(spark, 1, 1, traced = false, work, s"$work/no-such-data")
        val evs = Gen.eventsDf(spark, new Gen(1).take(10))
        r.op("endpoint")(Endpoints.globalRecent(evs, limit = 0).collect())
        r.op("query")(SparkEntry.queries("a1_hour_counts")(spark, r.dataDir).write.format("noop").mode("overwrite").save())
        r.op("fine")(evs.count())
        r.check("mismatch")(false)
        assertEq((r.attempted, r.failed), (4L, 3L))
        val line = Main.result(r)
        if (!line.contains("\"correct\": false") || !line.contains("\"failed\": 3"))
          throw new AssertionError(line)
      }
      test("a missing end-to-end metric makes the run incorrect") {
        val r = new Run(spark, 1, 1, traced = false, work, work)
        r.op("fine")(1)
        Seq("setup_s", "rate_per_s").foreach(r.put(_, 1.0, "x"))
        if (!Main.result(r).contains("\"correct\": false")) throw new AssertionError("accepted")
      }
    } finally spark.stop()

    args.get("bench-json").filter(p => Files.exists(Paths.get(p))).foreach { p =>
      test("BENCHMARK.json lists exactly the metrics the runs print") {
        val j = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(p)))
        def names(k: String) = j.get(k).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
        assertEq(names("end_to_end"), Layers.EndToEnd)
        assertEq(names("per_layer"), Layers.PerLayer)
        assertEq(j.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq,
          Seq("ingest_serve", "catalog"))
      }
    }
    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
