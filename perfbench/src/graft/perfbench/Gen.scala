package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._

import graft.streaming.QueueIngest

/** One generated event. `tsMicros` is simulated event time (µs since the
  * epoch, UTC); `city` plays `props.k`. */
case class Ev(eventId: Long, userId: Long, eventType: String, tsMicros: Long,
              value: Double, city: Long)

/** Zipf(s) over ranks 1..n, sampled by inverting a precomputed CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  /** Rank (1-based) for a uniform draw `u` in [0, 1). */
  def rank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    val at = if (i >= 0) i + 1 else -i - 1
    math.min(at, n - 1) + 1
  }
}

/** Seeded, single-threaded event generator.
  *
  *  - `user_id` is Zipf(1.0) over 100k keys;
  *  - the five event types are equally likely, the testdata mix;
  *  - `props.k` is uniform over 100 cities;
  *  - event time follows a simulated clock running [[Gen.Accel]] times faster
  *    than the nominal send schedule of [[Gen.NominalRate]] events/s, so the
  *    5-minute and hour buckets roll during a run; about 5% of events arrive
  *    out of order, up to 10 simulated minutes late.
  */
final class Gen(seed: Long) {
  import Gen._
  private val rnd = new java.util.SplittableRandom(seed)
  private val zipf = new Zipf(Users, 1.0)
  private var next = 0L

  /** The next `n` events, continuing the event-id sequence and the clock. */
  def take(n: Int): Vector[Ev] = Vector.fill(n) {
    val id = next
    next += 1
    val onClock = SimStartMicros + (id * Accel * 1000000L) / NominalRate +
      rnd.nextLong(1000000L)
    val late = if (rnd.nextDouble() < OutOfOrderShare) rnd.nextLong(MaxLateMicros + 1) else 0L
    Ev(id, zipf.rank(rnd.nextDouble()).toLong, Types(rnd.nextInt(Types.size)),
      onClock - late, math.round(rnd.nextDouble() * 5000) / 100.0, rnd.nextInt(Cities).toLong)
  }
}

object Gen {
  val Users = 100000
  val Cities = 100
  val Types: IndexedSeq[String] = Vector("click", "view", "purchase", "signup", "error")
  val NominalRate = 2000L
  val Accel = 120L
  val OutOfOrderShare = 0.05
  val MaxLateMicros: Long = 10L * 60 * 1000000
  val SimStartMicros: Long = 1704067200L * 1000000 // 2024-01-01T00:00:00Z
  val Partitions = 32
  val Topic = "graft_events"

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def localTime(micros: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000).toInt, ZoneOffset.UTC)

  def instant(micros: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000)

  /** The JSON body `QueueIngest.encodeFrames` publishes for this event. */
  def body(e: Ev): String =
    s"""{"event_id":${e.eventId},"user_id":${e.userId},"event_type":"${e.eventType}",""" +
      s""""ts":"${TsFmt.format(localTime(e.tsMicros))}","value":${e.value},""" +
      s""""props":{"k":${e.city}}}"""

  /** The frame a keyed publisher sends, in `QueueIngest.frameSchema`: key =
    * user id, partition = the same `pmod(xxhash64(user_id), 32)` keyed
    * partitioner, offset = event id, timestamp = event time. */
  def frame(e: Ev): Row =
    Row(e.userId.toString.getBytes(UTF_8), body(e).getBytes(UTF_8), Topic,
      java.lang.Math.floorMod(XXH64.hashLong(e.userId, 42L), Partitions.toLong).toInt,
      e.eventId, java.sql.Timestamp.from(instant(e.tsMicros)))

  /** The events table's row, `props` as JSON text: the shape
    * `graft.operators.Views` reads. */
  def row(e: Ev): Row =
    Row(e.eventId, e.userId, e.eventType, localTime(e.tsMicros), e.value, s"""{"k":${e.city}}""")

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampNTZType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val frameEncoder: Encoder[Row] = Encoders.row(QueueIngest.frameSchema)

  def framesDf(spark: SparkSession, evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(evs.map(frame).asJava, QueueIngest.frameSchema)

  /** The events as a batch table: the twin every output check compares with. */
  def eventsDf(spark: SparkSession, evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(evs.map(row).asJava, eventsSchema)
}
