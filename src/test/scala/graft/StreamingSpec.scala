package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{Ops, Views}
import graft.streaming.{QueueIngest, StreamingViews}
import org.apache.spark.sql.streaming.Trigger

/** A queue transport frame (kafka wire shape) for MemoryStream tests. */
case class QueueFrame(key: Array[Byte], value: Array[Byte], topic: String,
                      partition: Int, offset: Long, timestamp: java.sql.Timestamp)

/** Stream ≡ batch parity — the contract the reference keeps implicitly between
  * its subscriber (write path) and API (read path). Events are fed through
  * MemoryStream in two batches (so incremental state actually exercises)
  * and the settled streaming result must equal the batch view over all events. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val allEvents = Seq(
    TestEvent(1, 10, "signup",   ts("2024-01-01 10:15:00"), 1.0, "{}"),
    TestEvent(2, 10, "purchase", ts("2024-01-01 10:45:00"), 9.0, "{}"),
    TestEvent(3, 20, "signup",   ts("2024-01-01 11:05:00"), 2.0, "{}"),
    TestEvent(4, 20, "signup",   ts("2024-01-02 09:00:00"), 3.0, "{}"),
    TestEvent(5, 30, "purchase", ts("2024-01-01 10:59:59"), 4.0, "{}")
  )

  private def runStream(view: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        sink: String): org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = view(stream.toDF()).writeStream
      .outputMode("complete").format("memory").queryName(sink).start()
    try {
      stream.addData(allEvents.take(2)); q.processAllAvailable()
      stream.addData(allEvents.drop(2)); q.processAllAvailable()
    } finally q.stop()
    spark.table(sink)
  }

  test("streaming hourCounts equals batch hourCounts over the same events") {
    val streamed = runStream(StreamingViews.hourCounts(_), "t_hour_counts")
    val batch = Views.hourCounts(allEvents.toDF())
    assert(rowSet(streamed) === rowSet(batch))
  }

  test("streamHeavyHittersSketch: exact when roomy; bounded and never overcounting when tight") {
    implicit val sqlCtx = spark.sqlContext
    def run(capacity: Int, sink: String): org.apache.spark.sql.DataFrame = {
      val stream = MemoryStream[TestEvent]
      val q = StreamingViews.streamHeavyHittersSketch(stream.toDF(), capacity = capacity)
        .writeStream.outputMode("update").format("memory").queryName(sink).start()
      try {
        stream.addData(allEvents.take(2)); q.processAllAvailable()
        stream.addData(allEvents.drop(2)); q.processAllAvailable()
      } finally q.stop()
      StreamingViews.settleSketch(spark.table(sink))
    }
    // roomy regime (capacity >> distinct items): settled counts are EXACT
    val settled = run(64, "t_hh_sketch")
    val batch = allEvents.toDF()
      .groupBy(date_format(col("ts"), "yyyyMMddHH").as("hour_bucket"),
        col("event_type").as("item"))
      .agg(count(lit(1)).as("est_count"))
    assert(rowSet(settled) === rowSet(batch))
    // tight regime (capacity 1): at most one surviving counter per window,
    // and the sketch NEVER overcounts any (window, item)
    val tight = run(1, "t_hh_sketch_tight").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val trueCounts = batch.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(tight.keys.groupBy(_._1).values.forall(_.size <= 1),
      s"capacity-1 sketch kept more than one counter per window: $tight")
    assert(tight.forall { case (k, c) => c <= trueCounts(k) },
      s"sketch overcounted: $tight vs $trueCounts")
  }

  test("streamHeavyHittersSketch sharded: shard union equals the unsharded sketch (exact regime)") {
    implicit val sqlCtx = spark.sqlContext
    // a wider item domain than allEvents so the 4 shards actually spread:
    // 8 distinct items in one hour window, two batches
    val wide = (0 until 16).map { i =>
      TestEvent(100 + i, i, s"item_${i % 8}", ts(f"2024-01-01 10:${i * 3}%02d:00"), 0, "{}")
    }
    def run(shards: Int, sink: String): org.apache.spark.sql.DataFrame = {
      val stream = MemoryStream[TestEvent]
      val q = StreamingViews.streamHeavyHittersSketch(stream.toDF(),
          capacity = 64, shards = shards)
        .writeStream.outputMode("update").format("memory").queryName(sink).start()
      try {
        stream.addData(wide.take(7)); q.processAllAvailable()
        stream.addData(wide.drop(7)); q.processAllAvailable()
      } finally q.stop()
      spark.table(sink)
    }
    val sharded = run(4, "t_hh_shards4")
    val unsharded = run(1, "t_hh_shards1")
    // the sharded run really used >1 state key for the window (the hot-key
    // spread the r14 verdict asked for)
    val shardsSeen = sharded.select("shard").distinct().collect().map(_.getInt(0)).toSet
    assert(shardsSeen.size > 1, s"expected >1 shard over 8 items, got $shardsSeen")
    // item-deterministic sharding: each (window, item) settles in exactly one shard
    val settledSharded = StreamingViews.settleSketch(sharded)
    assert(settledSharded.groupBy("hour_bucket", "item").count()
      .filter(col("count") > 1).isEmpty, "an item settled in more than one shard")
    // shard union ≡ unsharded ≡ exact batch counts (capacity ≥ distinct per shard)
    assert(rowSet(settledSharded) === rowSet(StreamingViews.settleSketch(unsharded)))
    val batch = wide.toDF()
      .groupBy(date_format(col("ts"), "yyyyMMddHH").as("hour_bucket"),
        col("event_type").as("item"))
      .agg(count(lit(1)).as("est_count"))
    assert(rowSet(settledSharded) === rowSet(batch))
  }

  test("streamHeavyHittersSketch eventTimeEviction frees closed-window sketches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.streamHeavyHittersSketch(stream.toDF(),
        capacity = 64, shards = 1, eventTimeEviction = true,
        watermarkDelay = "0 seconds")
      .writeStream.outputMode("update").format("memory")
      .queryName("t_hh_evict").start()
    def emissions(): Array[(String, Long, String, Long)] =
      spark.table("t_hh_evict").collect()
        .map(r => (r.getString(0), r.getLong(2), r.getString(3), r.getLong(4)))
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(cond, s"timed out waiting for: $what")
    }
    try {
      // batch 1: two events in the 10:00 window -> sketch n_updates=1, cnt=2
      stream.addData(Seq(
        TestEvent(1, 1, "signup", ts("2024-01-01 10:00:00"), 0, "{}"),
        TestEvent(2, 2, "signup", ts("2024-01-01 10:30:00"), 0, "{}")))
      q.processAllAvailable()
      // batch 2: one more 10:00-window event plus a 13:00 event that moves
      // the watermark past the 11:00 deadline at end of batch
      stream.addData(Seq(
        TestEvent(3, 3, "signup", ts("2024-01-01 10:40:00"), 0, "{}"),
        TestEvent(4, 4, "purchase", ts("2024-01-01 13:00:00"), 0, "{}")))
      q.processAllAvailable()
      // the post-watermark-advance timeout batch re-emits the settled
      // counters (same n_updates=2 — idempotent under the max-settle) and
      // FREES the 10-o'clock sketch
      waitFor("10:00 window's eviction re-emission")(
        emissions().count(_ == ("2024010110", 2L, "signup", 3L)) >= 2)
      waitFor("state rows drop to the open window only")(
        Option(q.lastProgress).exists(p =>
          p.stateOperators.nonEmpty && p.stateOperators(0).numRowsTotal == 1))
      // a beyond-horizon straggler restarts the window's sketch from empty
      // (n_updates resets to 1) — the max-settle keeps the pre-eviction
      // emission, i.e. horizon-late data drops from the settled view (W2)
      stream.addData(Seq(TestEvent(5, 5, "signup", ts("2024-01-01 10:50:00"), 0, "{}")))
      q.processAllAvailable()
      val settled = StreamingViews.settleSketch(spark.table("t_hh_evict"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(settled === Map(
        ("2024010110", "signup") -> 3L, ("2024010113", "purchase") -> 1L),
        s"settled view changed after eviction: $settled")
    } finally q.stop()
  }

  test("streaming funnel equals the batch funnel, including late-signup demotion") {
    implicit val sqlCtx = spark.sqlContext
    // batch 1: signup@10:00, view@12:00 -> stage 2 under a 1 h horizon? no —
    // horizon 1 h: view at 12:00 is past 11:00, so batch 1 settles at stage 1
    // with THIS signup; then a LATE earlier signup@11:30 arrives in batch 2:
    // t1 moves to ... 11:30 is later than 10:00 so t1 stays 10:00. Use the
    // reverse: first signup@12:30 (view qualifies), then late signup@10:00
    // moves the window earlier and DEMOTES the user.
    val b1 = Seq(
      TestEvent(1, 1, "signup", ts("2024-01-01 12:30:00"), 0, "{}"),
      TestEvent(2, 1, "view", ts("2024-01-01 12:45:00"), 0, "{}"),
      TestEvent(3, 2, "signup", ts("2024-01-01 09:00:00"), 0, "{}"),
      TestEvent(4, 2, "view", ts("2024-01-01 09:30:00"), 0, "{}"))
    val b2 = Seq(
      TestEvent(5, 1, "signup", ts("2024-01-01 10:00:00"), 0, "{}"), // late: demotes user 1
      TestEvent(6, 2, "purchase", ts("2024-01-01 09:45:00"), 0, "{}"))
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.streamFunnel(stream.toDF(),
        Seq("signup", "view", "purchase"), maxSpanHours = 1)
      .writeStream.outputMode("update").format("memory")
      .queryName("t_funnel").start()
    try {
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val settled = Ops.latestPerKey(spark.table("t_funnel"),
        Seq("user_id"), Seq(col("n_updates")))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // user 1: view@12:45 was in [12:30, 13:30] but the late signup moves the
    // window to [10:00, 11:00] -> demoted to stage 1. user 2: full funnel.
    assert(settled === Map(1L -> 1, 2L -> 3), s"got $settled")
    // parity with the batch operator over the union of both batches
    val batch = graft.operators.Analytics.funnel((b1 ++ b2).toDF(),
      Seq("signup", "view", "purchase"), maxSpanHours = 1)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    // both users sign up; only user 2's view/purchase fall inside the window
    assert(batch === Map(1 -> 2, 2 -> 1, 3 -> 1),
      s"batch stage counts diverged: $batch")
  }

  test("streaming Bloom decontamination equals the batch verdicts (append, stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((90L, "alpha beta gamma")).toDF("doc_id", "text")
    val corpusRows = Seq(
      (1L, "alpha beta gamma delta"), // shares the bench bigram 'alpha beta'
      (2L, "zeta eta theta iota"),    // disjoint
      (3L, "one"))                    // sub-n-token, must appear clean
    val stream = MemoryStream[(Long, String)]
    val q = graft.operators.Curation
      .decontaminateBloom(stream.toDF().toDF("doc_id", "text"), bench, n = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_bloom_stream").start()
    try {
      stream.addData(corpusRows.take(1)); q.processAllAvailable()
      stream.addData(corpusRows.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.operators.Curation
      .decontaminateBloom(corpusRows.toDF("doc_id", "text"), bench, n = 2)
    assert(rowSet(spark.table("t_bloom_stream")) === rowSet(batch))
    // and the exact join form agrees on this collision-free fixture
    assert(rowSet(batch) === rowSet(graft.operators.Curation
      .decontaminate(corpusRows.toDF("doc_id", "text"), bench, n = 2)))
  }

  test("streaming frequent-segment removal equals the batch form (append, frozen model)") {
    implicit val sqlCtx = spark.sqlContext
    // model fitted on a frozen snapshot (the 100 TB lifecycle: fit per
    // snapshot, apply map-only to the live ingest)
    val snapshot = (1L to 12L).map(i =>
      (i, s"unique body $i. subscribe to our newsletter. tail $i")).toDF("doc_id", "text")
    val model = graft.operators.Dedup.frequentSegmentModel(snapshot, minDf = 10)
    val liveRows = Seq(
      (100L, "fresh doc alpha. subscribe to our newsletter. alpha end"),
      (101L, "subscribe to our newsletter"), // all boilerplate -> ""
      (102L, "clean doc with no banner at all"))
    val stream = MemoryStream[(Long, String)]
    val q = graft.operators.Dedup
      .removeFrequentSegmentsStateless(stream.toDF().toDF("doc_id", "text"), model)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_boiler_stream").start()
    try {
      stream.addData(liveRows.take(1)); q.processAllAvailable()
      stream.addData(liveRows.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.operators.Dedup
      .removeFrequentSegmentsStateless(liveRows.toDF("doc_id", "text"), model)
    assert(rowSet(spark.table("t_boiler_stream")) === rowSet(batch))
    assert(rowSet(batch) === Set(
      Seq(100L, "fresh doc alpha. alpha end", 1L),
      Seq(101L, "", 1L),
      Seq(102L, "clean doc with no banner at all", 0L)))
  }

  test("streamFunnel idleTimeout evicts silent users' state") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.streamFunnel(stream.toDF(),
        Seq("signup", "view"), maxSpanHours = 24, idleTimeout = "1 millisecond")
      .writeStream.outputMode("update").format("memory")
      .queryName("t_funnel_evict").start()
    // with a ProcessingTimeTimeout armed the engine self-schedules timer
    // batches indefinitely, so processAllAvailable never observes quiescence —
    // poll the sink with a deadline instead
    def rowsFor(user: Long): Array[(Long, Int)] =
      spark.table("t_funnel_evict").collect()
        .filter(_.getLong(0) == user).map(r => (r.getLong(1), r.getInt(2)))
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(cond, s"timed out waiting for: $what")
    }
    try {
      stream.addData(Seq(TestEvent(1, 1, "signup", ts("2024-01-01 10:00:00"), 0, "{}")))
      waitFor("user 1's signup emission")(rowsFor(1L).contains((1L, 1)))
      // the 1 ms idle timer expires; the next timer batch re-emits user 1's
      // settled verdict (same n_updates — idempotent) and FREES the state
      waitFor("user 1's timeout re-emission")(rowsFor(1L).count(_ == (1L, 1)) >= 2)
      // user 1 returns with a stage-2 event: the funnel restarted from empty,
      // so the view alone reaches stage 0 (a fresh state counts from 1 again)
      stream.addData(Seq(TestEvent(2, 1, "view", ts("2024-01-01 10:10:00"), 0, "{}")))
      waitFor("user 1's post-eviction emission")(rowsFor(1L).exists(_._2 == 0))
      // and at NO point did the view chain onto the evicted signup
      assert(!rowsFor(1L).exists(_._2 == 2),
        s"view chained onto evicted state: ${rowsFor(1L).toSeq}")
    } finally q.stop()
  }

  test("streamFunnel eventIdleTimeout evicts on the WATERMARK — replay-deterministic") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    // eviction after 1 h of EVENT time: unlike the processing-time sibling,
    // the eviction points are a pure function of the event stream, so a
    // replayed historical stream evicts identically every run
    val q = StreamingViews.streamFunnel(stream.toDF(),
        Seq("signup", "view"), maxSpanHours = 24,
        eventIdleTimeout = 3600000L, watermarkDelay = "0 seconds")
      .writeStream.outputMode("update").format("memory")
      .queryName("t_funnel_evt_evict").start()
    def rowsFor(user: Long): Array[(Long, Int)] =
      spark.table("t_funnel_evt_evict").collect()
        .filter(_.getLong(0) == user).map(r => (r.getLong(1), r.getInt(2)))
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(cond, s"timed out waiting for: $what")
    }
    try {
      // batch 1: user 1 signs up at 10:00 -> deadline = 11:00 event time
      stream.addData(Seq(TestEvent(1, 1, "signup", ts("2024-01-01 10:00:00"), 0, "{}")))
      q.processAllAvailable()
      assert(rowsFor(1L).contains((1L, 1)))
      // batch 2: another user's event moves the watermark to 13:00 (end of
      // batch); the deadline is NOT yet crossed during this batch
      stream.addData(Seq(TestEvent(2, 2, "signup", ts("2024-01-01 13:00:00"), 0, "{}")))
      q.processAllAvailable()
      // the engine's post-watermark-advance batch fires user 1's timeout:
      // settled verdict re-emitted (same n_updates), state freed
      waitFor("user 1's event-time eviction")(rowsFor(1L).count(_ == (1L, 1)) >= 2)
      // user 1 returns at 14:00 with a stage-2 event: the funnel restarted
      // from empty, so the view alone reaches stage 0, never stage 2
      stream.addData(Seq(TestEvent(3, 1, "view", ts("2024-01-01 14:00:00"), 0, "{}")))
      waitFor("user 1's post-eviction emission")(rowsFor(1L).exists(_._2 == 0))
      assert(!rowsFor(1L).exists(_._2 == 2),
        s"view chained onto evicted state: ${rowsFor(1L).toSeq}")
    } finally q.stop()
  }

  test("streamFunnel eventIdleTimeout preserves batch parity when nothing evicts") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val events = Seq(
      TestEvent(1, 1, "signup", ts("2024-01-01 10:00:00"), 0, "{}"),
      TestEvent(2, 1, "view", ts("2024-01-01 10:30:00"), 0, "{}"),
      TestEvent(3, 2, "view", ts("2024-01-01 10:40:00"), 0, "{}"))
    val q = StreamingViews.streamFunnel(stream.toDF(),
        Seq("signup", "view"), maxSpanHours = 24,
        eventIdleTimeout = 86400000L, watermarkDelay = "1 hour")
      .writeStream.outputMode("update").format("memory")
      .queryName("t_funnel_evt_parity").start()
    try {
      stream.addData(events.take(1)); q.processAllAvailable()
      stream.addData(events.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val settled = Ops.latestPerKey(spark.table("t_funnel_evt_parity"),
        Seq("user_id"), Seq(col("n_updates")))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // hand-computed batch verdicts: user 1 chains signup->view (stage 2);
    // user 2 has a view but no signup (stage 0). The timeout never fires
    // (deadline 24 h past the last event), so verdicts match the
    // no-timeout streaming form exactly.
    assert(settled === Map(1L -> 2, 2L -> 0), s"got $settled")
  }

  test("streamFunnel maxLaterEvents caps the pre-stage-1 buffer deterministically") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.streamFunnel(stream.toDF(),
        Seq("signup", "view", "purchase"), maxSpanHours = 24, maxLaterEvents = 1)
      .writeStream.outputMode("update").format("memory")
      .queryName("t_funnel_cap").start()
    try {
      // two later-stage events arrive before any stage-1: the cap keeps only
      // the earliest (the view), dropping the purchase
      stream.addData(Seq(
        TestEvent(1, 1, "view", ts("2024-01-01 10:30:00"), 0, "{}"),
        TestEvent(2, 1, "purchase", ts("2024-01-01 10:40:00"), 0, "{}")))
      q.processAllAvailable()
      stream.addData(Seq(TestEvent(3, 1, "signup", ts("2024-01-01 10:00:00"), 0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val settled = Ops.latestPerKey(spark.table("t_funnel_cap"),
        Seq("user_id"), Seq(col("n_updates")))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // uncapped the user reaches stage 3; the capped buffer lost the purchase
    assert(settled(1L) === 2, s"got $settled")
  }

  test("streaming hourly anomalies equal the batch twin on the same frozen baseline") {
    val batch = allEvents.toDF()
    val hourly = batch.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour")).agg(count(lit(1)).as("cnt"))
    val baseline = hourly.groupBy("event_type")
      .agg(round(avg(col("cnt")), 6).as("mu"),
        round(stddev_samp(col("cnt")), 6).as("sd"))
    val streamed = runStream(
      StreamingViews.streamHourlyAnomalies(_, baseline, zThreshold = 1.0),
      "t_anomalies")
    val expected = hourly.join(baseline, "event_type")
      .select(col("event_type"), col("hour"), col("cnt"), col("mu"), col("sd"),
        when(col("sd") > 0,
          round((col("cnt") - col("mu")) / col("sd"), 6)).as("zscore"))
      .withColumn("is_anomaly", coalesce(abs(col("zscore")) >= 1.0, lit(false)))
    assert(rowSet(streamed) === rowSet(expected))
  }

  test("streaming bucketCounts equals batch multiGranularityCounts") {
    val streamed = runStream(StreamingViews.bucketCounts(_), "t_bucket_counts")
    val batch = Views.multiGranularityCounts(allEvents.toDF())
    assert(rowSet(streamed) === rowSet(batch))
  }

  test("streaming latestPerKey (batchwise reduction) equals batch latestInfo") {
    // per-micro-batch winners, folded again, are the global winners; users
    // 10 and 20 have events in both batches
    val (b1, b2) = allEvents.partition(_.event_id % 2 == 1)
    val r = Views.latestInfo(Views.latestInfo(b1.toDF()).union(Views.latestInfo(b2.toDF())))
    assert(rowSet(r.select("user_id", "event_id")) ===
      rowSet(Views.latestInfo(allEvents.toDF()).select("user_id", "event_id")))
  }

  test("streaming sliding-window counts equal the batch form") {
    val view = (df: org.apache.spark.sql.DataFrame) => df
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyyMMddHHmm").as("window_start"), col("cnt"))
    val streamed = runStream(view, "t_sliding")
    val batch = view(allEvents.toDF())
    assert(rowSet(streamed) === rowSet(batch))
  }

  test("queue-frame decode: full-schema round trip preserves every typed column") {
    val events = Seq(
      TestEvent(1, 10, "signup",   ts("2024-01-01 10:15:00.123456"), 1.5, """{"k": 7}"""),
      TestEvent(2, 11, "purchase", ts("2024-01-01 10:45:59.999999"), -2.25, """{"k": 0}"""),
      TestEvent(3, 12, "error",    ts("2024-01-02 00:00:00"), 0.0, "{}")
    ).toDF()
    val decoded = QueueIngest.decodeFrames(QueueIngest.encodeFrames(events))
    // µs-precision event time, doubles, and the nested props field all survive
    assert(rowSet(decoded.select($"event_id", $"user_id", $"event_type",
        $"ts".cast("string"), $"value", $"props.k")) ===
      rowSet(events.select($"event_id", $"user_id", $"event_type",
        $"ts".cast("timestamp_ntz").cast("string"), $"value",
        get_json_object($"props", "$.k").cast("long"))))
    // transport coordinates retained; partitioner is key-deterministic
    assert(decoded.select("partition").distinct().count() <= 3)
  }

  test("corrupt queue bodies route to the dead-letter side with their coordinates") {
    val events = Seq(
      TestEvent(1, 10, "signup", ts("2024-01-01 10:15:00"), 1.0, """{"k": 7}"""),
      TestEvent(2, 11, "view",   ts("2024-01-01 10:16:00"), 2.0, """{"k": 8}""")
    ).toDF()
    val framed = QueueIngest.encodeFrames(events)
    // break event 2's body (truncate past the closing brace)
    val corrupted = framed.withColumn("value",
      when(col("offset") === 2,
        col("value").cast("string")
          .substr(lit(1), length(col("value").cast("string")) - 5).cast("binary"))
        .otherwise(col("value")))
    val decoded = QueueIngest.decodeFramesWithDlq(corrupted)
    val good = QueueIngest.validEvents(decoded)
    val dead = QueueIngest.deadLetters(decoded)
    assert(rowSet(good.select("event_id")) === Set(Seq(1L)))
    assert(dead.count() === 1)
    val dl = dead.head()
    assert(dl.getLong(2) === 2L, "dead letter must keep its offset for replay")
    assert(dl.getString(0).contains("\"event_type\":\"view\""),
      "dead letter must keep the raw body")
    // the good side round-trips exactly like the plain decode path
    assert(rowSet(good) === rowSet(QueueIngest.decodeFrames(
      framed.filter(col("offset") === 1))))
  }

  test("streaming decode of a queue-framed source feeds the views: stream equals batch (S1)") {
    implicit val sqlCtx = spark.sqlContext
    val frames = QueueIngest.encodeFrames(allEvents.toDF())
      .as[QueueFrame].collect().toSeq
    val stream = MemoryStream[QueueFrame]
    val q = StreamingViews.hourCounts(
        QueueIngest.decodeFrames(stream.toDF())
          .withColumn("ts", col("ts").cast("timestamp")))
      .writeStream.outputMode("complete").format("memory")
      .queryName("t_queue_decode").start()
    try {
      stream.addData(frames.take(2)); q.processAllAvailable()
      stream.addData(frames.drop(2)); q.processAllAvailable()
    } finally q.stop()
    assert(rowSet(spark.table("t_queue_decode")) ===
      rowSet(Views.hourCounts(allEvents.toDF())))
  }

  test("streaming curation composes: decode -> quality gate -> watermarked dedup in one stream") {
    // the training-pipeline shape end to end as ONE streaming query: queue
    // frames in, language/length-gated unique documents out
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      TestEvent(1, 10, "doc", ts("2024-01-01 10:00:00"), 1.0, """{"k": 1}"""),
      TestEvent(2, 11, "doc", ts("2024-01-01 10:01:00"), 1.0, """{"k": 2}"""),
      TestEvent(1, 10, "doc", ts("2024-01-01 10:02:00"), 1.0, """{"k": 1}"""), // replay of 1
      TestEvent(3, 12, "x",   ts("2024-01-01 10:03:00"), 1.0, """{"k": 3}""")  // gated out
    )
    val frames = QueueIngest.encodeFrames(events.toDF()).as[QueueFrame].collect().toSeq
    val stream = MemoryStream[QueueFrame]
    val q = StreamingViews.dedupStream(
        QueueIngest.validEvents(QueueIngest.decodeFramesWithDlq(stream.toDF()))
          .withColumn("ts", col("ts").cast("timestamp"))
          .filter(col("event_type") === "doc"), // the quality gate of this fixture
        idCol = "event_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("t_stream_curate").start()
    try {
      stream.addData(frames.take(2)); q.processAllAvailable()
      stream.addData(frames.drop(2)); q.processAllAvailable()
    } finally q.stop()
    // one row per unique passing doc: the replay of event 1 and the gated-out
    // type are both absent
    assert(rowSet(spark.table("t_stream_curate").select("event_id")) ===
      Set(Seq(1L), Seq(2L)))
  }

  test("stateful LWW (mapGroupsWithState) converges to batch latestInfo") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.latestPerKeyStateful(stream.toDF()).writeStream
      .outputMode("update").format("memory").queryName("t_lww_state").start()
    try {
      // deliberately out of order across batches: late event 2 for user 10
      stream.addData(allEvents.filter(_.event_id != 2)); q.processAllAvailable()
      stream.addData(allEvents.filter(_.event_id == 2)); q.processAllAvailable()
    } finally q.stop()
    // update-mode memory sink appends each batch's emission; the winner per key
    // is monotone, so max(ts, id) per key is the settled state
    val settled = graft.operators.Ops.latestPerKey(spark.table("t_lww_state"),
      Seq("user_id"), Seq(col("ts_micros"), col("event_id")))
    assert(rowSet(settled.select("user_id", "event_id")) ===
      rowSet(Views.latestInfo(allEvents.toDF()).select("user_id", "event_id")))
  }

  test("stateful LWW idle TTL frees expired keys on the watermark; settled view unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    // r15 verdict ask 3: opt-in event-time idle TTL (1 h) — the default
    // NoTimeout form keeps reference parity; this spec drives the bounded
    // deployment knob
    val q = StreamingViews.latestPerKeyStateful(stream.toDF(),
        eventIdleTimeout = 3600000L, watermarkDelay = "0 seconds")
      .writeStream.outputMode("update").format("memory")
      .queryName("t_lww_ttl").start()
    def stateRows: Long = Option(q.lastProgress)
      .filter(_.stateOperators.nonEmpty).map(_.stateOperators(0).numRowsTotal)
      .getOrElse(-1L)
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(cond, s"timed out waiting for: $what")
    }
    try {
      // user 1 at 10:00 -> idle deadline 11:00 event time
      stream.addData(Seq(TestEvent(1, 1, "a", ts("2024-01-01 10:00:00"), 0, "{}")))
      q.processAllAvailable()
      waitFor("user 1's state row")(stateRows == 1L)
      // user 2 at 13:00 advances the watermark past user 1's deadline; the
      // engine's post-watermark-advance batch evicts user 1's record
      stream.addData(Seq(TestEvent(2, 2, "a", ts("2024-01-01 13:00:00"), 0, "{}")))
      q.processAllAvailable()
      waitFor("user 1's idle eviction")(stateRows == 1L &&
        spark.table("t_lww_ttl").collect().exists(_.getLong(0) == 2L))
      // eviction emitted NOTHING new for user 1 (no duplicate rows to poison
      // a multiset settle): exactly one emission for user 1 so far
      assert(spark.table("t_lww_ttl").collect().count(_.getLong(0) == 1L) === 1)
      // user 1 returns in-horizon: state restarts from empty, new winner row
      stream.addData(Seq(TestEvent(3, 1, "a", ts("2024-01-01 13:30:00"), 0, "{}")))
      q.processAllAvailable()
      waitFor("user 1's restart")(stateRows == 2L)
    } finally q.stop()
    // the settled view (argmax per key over all emissions) equals batch LWW
    // over the same events — eviction is invisible to the settled answer
    val settled = graft.operators.Ops.latestPerKey(spark.table("t_lww_ttl"),
      Seq("user_id"), Seq(col("ts_micros"), col("event_id")))
    assert(rowSet(settled.select("user_id", "event_id")) ===
      Set(Seq(1L, 3L), Seq(2L, 2L)))
  }

  test("watermark drops beyond-horizon late events (the documented W2 divergence)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = stream.toDF()
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyyMMddHH").as("b"), col("cnt"))
      .writeStream.outputMode("append").format("memory").queryName("t_late").start()
    try {
      // batch 1 advances the watermark to 2024-01-03 23:00
      stream.addData(TestEvent(1, 1, "a", ts("2024-01-04 00:00:00"), 0, "{}"))
      q.processAllAvailable()
      // batch 2: one event 2 days late (dropped), one inside the horizon (kept)
      stream.addData(
        TestEvent(2, 1, "a", ts("2024-01-02 00:30:00"), 0, "{}"),
        TestEvent(3, 1, "a", ts("2024-01-03 23:30:00"), 0, "{}"))
      q.processAllAvailable()
      // close all windows so append mode emits them
      stream.addData(TestEvent(4, 1, "a", ts("2024-01-06 00:00:00"), 0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("t_late").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!out.contains("2024010200"), s"beyond-watermark event must be dropped: $out")
    assert(out.get("2024010323").contains(1L), s"in-horizon late event must count: $out")
    assert(out.get("2024010400").contains(1L), out.toString)
  }

  test("stream-stream interval join matches the batch self-join over the same events") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.streamStreamJoin(stream.toDF(), leftType = "signup")
      .writeStream
      .outputMode("append").format("memory").queryName("t_ssj").start()
    try {
      // split so the right side of the (10: signup 10:15 → purchase 10:45) match
      // arrives in a LATER batch than its left — the join must match across batches;
      // the 30-minute gap is exactly the bound (inclusive upper edge)
      stream.addData(allEvents.take(1)); q.processAllAvailable()
      stream.addData(allEvents.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val batch = {
      val e = allEvents.toDF()
      val a = e.filter(col("event_type") === "signup").alias("a")
      val b = e.filter(col("event_type") === "purchase").alias("b")
      a.join(b, col("a.user_id") === col("b.user_id") &&
          col("b.ts") > col("a.ts") &&
          col("b.ts") <= col("a.ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("a.user_id").as("user_id"),
          col("a.event_id").as("l_event_id"), col("b.event_id").as("r_event_id"))
    }
    assert(rowSet(batch).nonEmpty, "fixture must produce at least one join match")
    assert(rowSet(spark.table("t_ssj")) === rowSet(batch))
  }

  test("stream-stream LEFT OUTER join emits non-conversions once the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.streamStreamJoin(stream.toDF(),
        leftType = "signup", watermark = "1 hour", joinType = "left_outer")
      .writeStream
      .outputMode("append").format("memory").queryName("t_ssj_outer").start()
    try {
      stream.addData(allEvents); q.processAllAvailable()
      // null-extended rows can only emit after the watermark clears l_ts + gap:
      // push it far past every left row with late heartbeat batches (watermark
      // advances at batch END, so the flush needs one more batch after it).
      // Heartbeats must be of a type a join branch KEEPS — Catalyst pushes the
      // branch filters below the EventTimeWatermark node, so a filtered-out
      // type would never reach the watermark stats and it would stay stuck.
      stream.addData(TestEvent(98, 1, "purchase", ts("2024-01-05 00:00:00"), 0.0, "{}"))
      q.processAllAvailable()
      stream.addData(TestEvent(99, 1, "purchase", ts("2024-01-06 00:00:00"), 0.0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    // signup 1 converts (purchase 2 within 30 min); signups 3 and 4 never do
    assert(rowSet(spark.table("t_ssj_outer")) === Set(
      Seq(10L, 1L, 2L),
      Seq(20L, 3L, null),
      Seq(20L, 4L, null)))
  }

  test("bucketCountsBounded: windowed keys let the watermark drop late rows") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.bucketCountsBounded(
        stream.toDF().withColumn("ts", col("ts").cast("timestamp")),
        "hourly", watermark = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("t_bcb").start()
    try {
      stream.addData(TestEvent(1, 1, "a", ts("2024-01-04 00:00:00"), 0, "{}"))
      q.processAllAvailable() // watermark → 2024-01-03 23:00
      stream.addData(
        TestEvent(2, 1, "a", ts("2024-01-02 00:30:00"), 0, "{}"),  // beyond horizon
        TestEvent(3, 1, "a", ts("2024-01-03 23:30:00"), 0, "{}"))  // inside horizon
      q.processAllAvailable()
      stream.addData(TestEvent(4, 1, "a", ts("2024-01-06 00:00:00"), 0, "{}"))
      q.processAllAvailable() // close all windows so append emits them
    } finally q.stop()
    val out = spark.table("t_bcb").collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(!out.contains("hourly:2024010200"), s"late row must be dropped: $out")
    assert(out.get("hourly:2024010323").contains(1L), out.toString)
    assert(out.get("hourly:2024010400").contains(1L), out.toString)
  }

  test("sessionizer (flatMapGroupsWithState) emits session_window-equal closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.sessionize(stream.toDF(), gapSeconds = 1800, watermark = "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("t_sess").start()
    try {
      stream.addData(allEvents.take(3)); q.processAllAvailable()
      stream.addData(allEvents.drop(3)); q.processAllAvailable()
      // closers: far-future events advance the watermark past every fixture
      // session's (last + gap); the event-time timeout then closes them
      stream.addData(TestEvent(100, 99, "x", ts("2024-03-01 00:00:00"), 0, "{}"))
      q.processAllAvailable()
      stream.addData(TestEvent(101, 99, "x", ts("2024-03-02 00:00:00"), 0, "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val got = rowSet(spark.table("t_sess")
      .filter(col("user_id") =!= 99) // the closer key's own session may be open
      .select("user_id", "session_start_micros", "session_end_micros", "n"))
    // batch truth: session_window over the same events; its `end` is
    // last-event + gap, the sessionizer reports the last event itself
    val batch = allEvents.toDF()
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_micros"),
        (unix_micros(col("session_window.end")) - 1800L * 1000000L).as("session_end_micros"),
        col("n"))
    assert(rowSet(batch).nonEmpty)
    assert(got === rowSet(batch))
  }

  test("streaming dedup drops same-id replays even with drifted timestamps") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.dedupStream(
        stream.toDF().withColumn("ts", col("ts").cast("timestamp")))
      .writeStream.outputMode("append").format("memory").queryName("t_dedup_drift").start()
    try {
      stream.addData(allEvents); q.processAllAvailable()
      // replay with the timestamp shifted — same id is still a duplicate
      stream.addData(allEvents.take(3).map(e =>
        e.copy(ts = new java.sql.Timestamp(e.ts.getTime + 60000))))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("t_dedup_drift").count() === allEvents.size.toLong)
  }

  test("streaming dedup drops replayed events across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.dedupStream(stream.toDF()).writeStream
      .outputMode("append").format("memory").queryName("t_dedup").start()
    try {
      stream.addData(allEvents); q.processAllAvailable()
      stream.addData(allEvents.take(3)); q.processAllAvailable() // replay
    } finally q.stop()
    val out = spark.table("t_dedup")
    assert(out.count() === allEvents.size.toLong)
    assert(out.select("event_id").distinct().count() === allEvents.size.toLong)
  }

  test("CDC change-log maintenance: deletes tombstone across batches, re-inserts resurrect") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val stream = MemoryStream[(Long, Long, Double, String)]
    val q = StreamingViews.maintainChangeLog(
      stream.toDF().toDF("k", "seq", "v", "op"), s"$dir/out", s"$dir/ckpt",
      Seq("k"), Seq("seq"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val b0 = Seq((1L, 1L, 10.0, "I"), (2L, 1L, 20.0, "I"), (3L, 1L, 30.0, "I"))
    val b1 = Seq((1L, 2L, 0.0, "D"),                       // delete from an EARLIER batch's insert
                 (2L, 2L, 0.0, "D"), (2L, 3L, 22.0, "I"),  // delete + resurrect within one batch
                 (3L, 2L, 33.0, "U"))                      // plain update
    try {
      stream.addData(b0); q.processAllAvailable()
      stream.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val state = StreamingViews.stateFromChangeLog(spark, s"$dir/out", Seq("k"), Seq("seq"))
    // stream state == batch applyChanges over the full change log
    assert(rowSet(state.select("k", "seq", "v")) ===
      rowSet(Ops.applyChanges((b0 ++ b1).toDF("k", "seq", "v", "op"),
        Seq("k"), Seq(col("seq"))).select("k", "seq", "v")))
    assert(rowSet(state.select("k", "seq", "v")) ===
      Set(Seq(2L, 3L, 22.0), Seq(3L, 2L, 33.0)))
  }

  test("foreachBatch view maintenance: atomic per-batch dual write, compacts to batch view") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_maintain").toString
    val stream = MemoryStream[TestEvent]
    val q = StreamingViews.maintainViews(stream.toDF(), s"$dir/out", s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      stream.addData(allEvents.take(3)); q.processAllAvailable()
      stream.addData(allEvents.drop(3)); q.processAllAvailable()
    } finally q.stop()
    // both views written per micro-batch, concurrently and not atomically
    // (unlike the reference's logged batch); a replay makes them agree
    val batches = new java.io.File(s"$dir/out/latest_increment").list().sorted.toSeq
    assert(batches === Seq("batch=0", "batch=1"))
    assert(new java.io.File(s"$dir/out/recent_log/batch=0").exists())
    // full event log survives
    assert(spark.read.parquet(s"$dir/out/recent_log").count() === allEvents.size)
    // compacted latest equals the batch view over all events
    val compacted = StreamingViews.latestFromIncrements(spark, s"$dir/out")
    assert(rowSet(compacted.select("user_id", "event_id")) ===
      rowSet(Views.latestInfo(allEvents.toDF()).select("user_id", "event_id")))
  }

  test("maintainViews increments: each batch=N holds the LWW winners of batch N's events") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_increments").toString
    // user 10 repeats in batch 0; user 30 repeats in batch 1 at one ts, so
    // event_id breaks the tie
    val batches = Seq(allEvents.take(3),
      allEvents.drop(3) :+ TestEvent(6, 30, "view", ts("2024-01-01 10:59:59"), 5.0, "{}"))
    val stream = MemoryStream[TestEvent](4)
    val q = StreamingViews.maintainViews(stream.toDF(), s"$dir/out", s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
    batches.zipWithIndex.foreach { case (b, n) =>
      val twin = Views.latestInfo(b.toDF())
      val inc = spark.read.parquet(s"$dir/out/latest_increment/batch=$n")
        .select(twin.columns.toIndexedSeq.map(col): _*)
      assert(rowList(inc).sortBy(_.toString) === rowList(twin).sortBy(_.toString), s"batch=$n")
    }
  }

  test("maintainViews failure path: a failed increment write fails the batch, and a restart repairs both views") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_maintain_fail").toString
    val out = s"$dir/out"
    val blocker = new java.io.File(s"$out/latest_increment")
    blocker.getParentFile.mkdirs()
    assert(blocker.createNewFile()) // a plain file where the increment's directory goes
    val stream = MemoryStream[TestEvent](4)
    def start() = StreamingViews.maintainViews(stream.toDF(), out, s"$dir/ckpt",
      trigger = Trigger.ProcessingTime(0))
    stream.addData(allEvents.take(3))
    val q = start()
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
    finally q.stop()
    assert(!new java.io.File(s"$dir/ckpt/commits/0").exists(), "a failed batch was committed")
    assert(blocker.delete())
    val restarted = start()
    try {
      restarted.processAllAvailable()
      stream.addData(allEvents.drop(3)); restarted.processAllAvailable()
    } finally restarted.stop()
    val events = allEvents.toDF()
    assert(rowSet(StreamingViews.latestFromIncrements(spark, out)) === rowSet(Views.latestInfo(events)))
    val twin = Views.recentLog(events)
    val log = spark.read.parquet(s"$out/recent_log").select(twin.columns.toIndexedSeq.map(col): _*)
    assert(log.count() === allEvents.size)
    assert(rowSet(log) === rowSet(twin))
  }

  /** Stream `batches` (one parquet file each, one micro-batch per file)
    * through `start` with a checkpoint, then delete the last `commits/N`
    * marker and restart, so Spark re-runs that batchId over the same
    * offsets. Returns `read` of the output directory before and after. */
  private def replayLast[T](batches: Seq[org.apache.spark.sql.DataFrame])(
      start: (org.apache.spark.sql.DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery)(read: String => T): (T, T) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay").toString
    batches.foreach(_.coalesce(1).write.mode("append").parquet(s"$dir/src"))
    val schema = spark.read.parquet(s"$dir/src").schema
    def run(): Unit = {
      val q = start(spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/src"), s"$dir/out", s"$dir/ckpt")
      try q.awaitTermination() finally q.stop()
    }
    run()
    val before = read(s"$dir/out")
    val last = batches.size - 1
    val marker = new java.io.File(s"$dir/ckpt/commits/$last")
    assert(marker.delete(), s"no commit marker for batch $last")
    new java.io.File(s"$dir/ckpt/commits/.$last.crc").delete()
    run()
    assert(marker.exists(), s"batch $last was not re-run")
    (before, read(s"$dir/out"))
  }

  test("maintainViews replay: a re-run batchId leaves recent_log and the LWW compaction unchanged") {
    val (before, after) = replayLast(Seq(allEvents.take(3).toDF(), allEvents.drop(3).toDF()))(
      StreamingViews.maintainViews(_, _, _, trigger = Trigger.AvailableNow())) { out =>
      (spark.read.parquet(s"$out/recent_log").count(),
        rowSet(StreamingViews.latestFromIncrements(spark, out)))
    }
    assert(after === before)
    assert(after._1 === allEvents.size)
    assert(after._2 === rowSet(Views.latestInfo(allEvents.toDF())))
  }

  test("maintainChangeLog replay: a re-run batchId leaves the applied state unchanged") {
    val b0 = Seq((1L, 1L, 10.0, "I"), (2L, 1L, 20.0, "I"), (3L, 1L, 30.0, "I"))
    val b1 = Seq((1L, 2L, 0.0, "D"), (2L, 2L, 0.0, "D"), (2L, 3L, 22.0, "I"),
                 (3L, 2L, 33.0, "U"))
    val (before, after) = replayLast(Seq(b0, b1).map(_.toDF("k", "seq", "v", "op")))(
      StreamingViews.maintainChangeLog(_, _, _, Seq("k"), Seq("seq"),
        trigger = Trigger.AvailableNow())) { out =>
      rowSet(StreamingViews.stateFromChangeLog(spark, out, Seq("k"), Seq("seq"))
        .select("k", "seq", "v"))
    }
    assert(after === before)
    assert(after === Set(Seq(2L, 3L, 22.0), Seq(3L, 2L, 33.0)))
  }

  test("streaming incremental dedup: in-stream repeats drop, base-corpus docs anti-join out") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq((1L, "already ingested text one"), (2L, "already ingested text two"))
      .toDF("doc_id", "text")
    val baseFps = base.select(
      graft.functions.TextFns.fastFingerprint(col("text")).as("fp"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingViews.streamIncrementalDedup(
        stream.toDF().toDF("doc_id", "text"), baseFps, unboundedStateOk = true)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_inc_dedup").start()
    try {
      stream.addData((10L, "already  INGESTED text one"), (11L, "fresh document alpha"))
      q.processAllAvailable()
      // cross-batch replay of 11's text + a base dup + a genuinely new doc
      stream.addData((12L, "fresh document alpha"), (13L, "already ingested text two"),
        (14L, "fresh document beta"))
      q.processAllAvailable()
    } finally q.stop()
    val survivors = spark.table("t_inc_dedup").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // 10 = base dup (normalize), 12 = cross-batch in-stream dup, 13 = base dup
    assert(survivors === Set(11L, 14L))
  }

  test("streaming minhash near-dup: base near-copies flag once, novel docs pass silently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "structured streaming maintains state across micro batches")
    ).toDF("doc_id", "text")
    val baseBuckets = graft.operators.Dedup.minhashBucketTable(base)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingViews.streamMinhashBaseMatches(
        stream.toDF().toDF("doc_id", "text"), baseBuckets, unboundedStateOk = true)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("t_minhash_matches").start()
    try {
      // 10 = byte-identical to base 1 (shares EVERY band), 11 = novel
      stream.addData((10L, "the quick brown fox jumps over the lazy dog again and again"),
        (11L, "completely unrelated content about parquet column pruning"))
      q.processAllAvailable()
      // replay of 10 across batches must not re-emit (dropDuplicates state);
      // 12 = identical to base 2
      stream.addData((10L, "the quick brown fox jumps over the lazy dog again and again"),
        (12L, "structured streaming maintains state across micro batches"))
      q.processAllAvailable()
    } finally q.stop()
    val flagged = spark.table("t_minhash_matches").collect().map(_.getLong(0)).toSeq
    assert(flagged.sorted === Seq(10L, 12L),
      s"exactly the base near-copies must flag, once each: $flagged")
  }

  test("streaming winnow gate: substring-quoting docs flag once, novel docs pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val shared = "zq alpha beta gamma delta epsilon zeta eta" // w+k-1 = 8 tokens
    val base = Seq(
      (1L, "base document carrying " + shared + " in the middle of it")
    ).toDF("doc_id", "text")
    val baseFps = graft.operators.Dedup.winnowFingerprints(base, k = 5, w = 4)
      .localCheckpoint(true)
    val stream = MemoryStream[(Long, String)]
    val q = StreamingViews.streamWinnowBaseMatches(
        stream.toDF().toDF("doc_id", "text"), baseFps, k = 5, w = 4,
        unboundedStateOk = true)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("t_winnow_matches").start()
    try {
      // 10 quotes the base run inside otherwise-fresh text (the case whole-doc
      // MinHash misses); 11 is novel
      stream.addData((10L, "fresh crawl text then " + shared + " then a long novel tail"),
        (11L, "completely unrelated content about parquet column pruning today"))
      q.processAllAvailable()
      // replay of 10 must not re-emit; 12 = another quoting doc
      stream.addData((10L, "fresh crawl text then " + shared + " then a long novel tail"),
        (12L, shared + " opens this otherwise new document entirely"))
      q.processAllAvailable()
    } finally q.stop()
    val flagged = spark.table("t_winnow_matches").collect().map(_.getLong(0)).toSeq
    assert(flagged.sorted === Seq(10L, 12L),
      s"exactly the quoting docs must flag, once each: $flagged")
  }

  test("stream-static match family refuses silent unbounded dedup state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseFps = graft.operators.Dedup.winnowFingerprints(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"),
      k = 5, w = 4)
    val stream = MemoryStream[(Long, String)]
    // no watermarkCol and no explicit opt-in: the unbounded per-doc
    // dropDuplicates state must be refused at plan-build time, not discovered
    // in production (advisor finding, round 11)
    val ex = intercept[IllegalArgumentException] {
      StreamingViews.streamWinnowBaseMatches(
        stream.toDF().toDF("doc_id", "text"), baseFps, k = 5, w = 4)
    }
    assert(ex.getMessage.contains("unbounded"), ex.getMessage)
    // a watermark-bounded form needs no opt-in
    val wm = StreamingViews.streamWinnowBaseMatches(
      stream.toDF().toDF("doc_id", "text")
        .withColumn("ts", org.apache.spark.sql.functions.current_timestamp()),
      baseFps, k = 5, w = 4, watermarkCol = "ts", watermark = "10 minutes")
    assert(wm.isStreaming)
  }

  test("streaming image gate: clones flag once across batches, settled set equals brute force") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("graft_img_gate").toString
    val docs = spark.range(40).select(col("id").as("doc_id"))
    val baseHashes = Multimodal.imageDHash(spark,
      Multimodal.syntheticCloneJpegsFromDocuments(spark, docs, classes = 4).toDF()).toDF()
    Multimodal.writeImageDedupIndex(baseHashes, s"$dir/idx", "graft_img_idx_sspec",
      buckets = 4)
    try {
      val idx = spark.table("graft_img_idx_sspec").localCheckpoint(true)
      // probes: two clones of base classes under fresh ids (must flag), and
      // a flat image (dHash 0 — flags only if some base hash really is
      // within Hamming 3, which the brute-force expectation decides)
      val clones = Multimodal.syntheticCloneJpegsFromDocuments(spark,
        Seq(101L, 102L).toDF("doc_id"), classes = 4).collect()
      val flat = Multimodal.MediaRecord(999L, "image/jpeg",
        Multimodal.encodeJpegGray(16, 16, (_, _) => 100))
      val probes = clones.toSeq :+ flat
      val probeHashes = Multimodal.imageDHash(spark,
        spark.createDataFrame(probes).toDF()).collect()
        .map(h => (h.media_id, h.dhash_hi, h.dhash_lo))
      val baseHs = baseHashes.collect()
        .map(r => (r.getLong(3), r.getLong(4))) // dhash_hi, dhash_lo
      val expected = probeHashes.filter { case (_, hi, lo) =>
        baseHs.exists { case (bh, bl) =>
          java.lang.Long.bitCount(hi ^ bh) + java.lang.Long.bitCount(lo ^ bl) <= 3 }
      }.map(_._1).toSet
      assert(expected.contains(101L) && expected.contains(102L),
        "clone probes must be within Hamming 0 of their class")
      val stream = MemoryStream[Multimodal.MediaRecord]
      val q = graft.streaming.StreamingViews.streamImageBaseMatches(
          stream.toDF(), idx, unboundedStateOk = true)
        .writeStream.outputMode("append").format("memory")
        .queryName("t_img_gate").start()
      try {
        stream.addData(Seq(probes(0), flat)); q.processAllAvailable()
        // batch 2: a replay of probe 0 (must NOT re-flag) plus the second clone
        stream.addData(Seq(probes(0), probes(1))); q.processAllAvailable()
      } finally q.stop()
      val settled = spark.table("t_img_gate").collect().map(_.getLong(0))
      assert(settled.toSet === expected, s"settled ${settled.toSet} != brute $expected")
      assert(settled.length === settled.distinct.length,
        "a replayed image re-flagged — the once-per-media settle leaked")
    } finally spark.sql("DROP TABLE IF EXISTS graft_img_idx_sspec")
  }

  test("streaming cosine near-dup: base-neighborhood vectors flag once, novel pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Seq((1L, Array(1.0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val baseTags = graft.operators.Similarity.hyperplaneTagTable(
      base, dim = 4, nbits = 4, tables = 2)
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingViews.streamCosineBaseMatches(
        stream.toDF().toDF("vec_id", "embedding"), baseTags,
        dim = 4, nbits = 4, tables = 2, unboundedStateOk = true)
      .select("vec_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("t_cos_matches").start()
    try {
      // 10 = identical to base 1 (shares every bucket); 11 = antipodal
      // (opposite sign on every plane -> never shares a bucket)
      stream.addData((10L, Array(1.0f, 0f, 0f, 0f)), (11L, Array(-1.0f, 0f, 0f, 0f)))
      q.processAllAvailable()
      // replay of 10 must not re-emit; 12 = identical to base again
      stream.addData((10L, Array(1.0f, 0f, 0f, 0f)), (12L, Array(1.0f, 0f, 0f, 0f)))
      q.processAllAvailable()
    } finally q.stop()
    val flagged = spark.table("t_cos_matches").collect().map(_.getLong(0)).toSeq
    assert(flagged.sorted === Seq(10L, 12L),
      s"exactly the base-neighborhood vectors must flag, once each: $flagged")
  }

  test("multi-benchmark stateless decontamination streams in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val benches = Seq(
      (0L, "leaked eval answer text here"),
      (1L, "another benchmark question body")).toDF("bench_id", "text")
    val models = graft.operators.Curation.benchmarkGramHashSets(benches, n = 3)
    val stream = MemoryStream[(Long, String)]
    // append mode proves the k-model explode stays stateless (no join, no agg)
    val q = graft.operators.Curation.decontaminateBatchStateless(
        stream.toDF().toDF("doc_id", "text"), models, n = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_stream_decon_batch").start()
    try {
      stream.addData(
        (1L, "contains leaked eval answer inside"),   // hits bench 0 only
        (2L, "totally clean words in this doc"))      // hits neither
      q.processAllAvailable()
      stream.addData(
        (3L, "leaked eval answer and another benchmark question too")) // hits BOTH
      q.processAllAvailable()
    } finally q.stop()
    val r = spark.table("t_stream_decon_batch").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    // bench 0 trigrams: {leaked eval answer, eval answer text, answer text here}
    // bench 1 trigrams: {another benchmark question, benchmark question body}
    assert(r === Map(
      (1L, 0L) -> 1L,         // 'leaked eval answer'
      (3L, 0L) -> 1L,         // 'leaked eval answer'
      (3L, 1L) -> 1L),        // 'another benchmark question'
      s"got $r")
  }

  test("stateless decontamination runs in append mode over a document stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq((90L, "leaked eval answer text here")).toDF("doc_id", "text")
    val hashes = graft.operators.Curation.benchmarkGramHashes(bench, n = 3)
    val stream = MemoryStream[(Long, String)]
    // append mode proves the operator is stateless (an aggregation would
    // demand update/complete mode)
    val q = graft.operators.Curation.decontaminateAgainstHashes(
        stream.toDF().toDF("doc_id", "text"), hashes, n = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_stream_decon").start()
    try {
      stream.addData((1L, "contains leaked eval answer inside"), (2L, "totally clean words"))
      q.processAllAvailable()
      stream.addData((3L, "eval answer text appears again"))
      q.processAllAvailable()
    } finally q.stop()
    val r = spark.table("t_stream_decon").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    // bench trigrams: {leaked eval answer, eval answer text, answer text here};
    // doc 1 shares 'leaked eval answer', doc 3 shares 'eval answer text'
    assert(r(1L) === ((1L, true)), s"got $r")
    assert(r(2L) === ((0L, false)))
    assert(r(3L) === ((1L, true)))
  }
}
