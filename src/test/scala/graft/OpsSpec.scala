package graft

import org.apache.spark.sql.functions._
import graft.operators.Ops

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def events = Seq(
    TestEvent(1, 10, "view",     ts("2024-01-01 10:02:00"), 1.0, "{}"),
    TestEvent(2, 10, "purchase", ts("2024-01-01 10:04:30"), 5.0, "{}"),
    TestEvent(3, 10, "view",     ts("2024-01-01 10:07:00"), 2.0, "{}"),
    TestEvent(4, 20, "view",     ts("2024-01-01 11:59:59"), 3.0, "{}"),
    TestEvent(5, 20, "purchase", ts("2024-01-02 00:00:00"), 7.0, "{}"),
    // same ts as event 3, different id — exercises every tie-break
    TestEvent(6, 10, "view",     ts("2024-01-01 10:07:00"), 4.0, "{}")
  ).toDF()

  test("P8 time buckets: hour, day, 5-minute floor") {
    val r = events.filter($"event_id" === 2).select(
      Ops.hourBucket($"ts"), Ops.dayBucket($"ts"), Ops.min5Bucket($"ts")).head()
    assert(r.toSeq === Seq("2024010110", "20240101", "202401011000"))
    // 5-min floor at an exact boundary stays at the boundary
    val b = events.filter($"event_id" === 4).select(Ops.min5Bucket($"ts")).head()
    assert(b.getString(0) === "202401011155")
  }

  test("P9 bucket key composition") {
    val r = events.filter($"event_id" === 1)
      .select(Ops.bucketKey("hourly", Ops.hourBucket($"ts"))).head()
    assert(r.getString(0) === "hourly:2024010110")
  }

  test("sessionize: strict gap splits sessions, running seq numbers them, ties stay together") {
    def seqs(gap: Long): Map[Long, Long] =
      Ops.sessionize(events, Seq("user_id"), "ts", "event_id", gap)
        .select("event_id", "session_seq").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r = seqs(1800L)
    // user 10: all events within 5 minutes (incl. the ts-tied pair) -> one session
    assert(Seq(1L, 2L, 3L, 6L).forall(r(_) === 1L), r.toString)
    // user 20: 12h+ gap -> second session
    assert(r(4) === 1L && r(5) === 2L, r.toString)
    // the split is STRICTLY greater-than: user 20's gap is exactly 43201 s
    val boundary = seqs(43201L)
    assert(boundary(5) === 1L, "gap == threshold must not split")
    assert(seqs(43200L)(5) === 2L, "gap one past threshold must split")
  }

  test("skew-safe sessionize equals the one-level form, including cross-range chains") {
    // fixture events span hours/days per user, so a small rangeSeconds forces
    // many ranges per key and exercises boundary merges + multi-range chains
    val fixture = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    for (rangeSec <- Seq(1800L, 3600L, 86400L)) {
      val one = Ops.sessionize(fixture, Seq("user_id"), "ts", "event_id", 1800L)
        .select("event_id", "session_seq").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val two = Ops.sessionizeSkewSafe(fixture, Seq("user_id"), "ts", "event_id",
          1800L, rangeSec)
        .select("event_id", "session_seq").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(two === one, s"rangeSeconds=$rangeSec diverged from one-level sessionize")
    }
    // rangeSeconds < gapSeconds would let non-adjacent ranges merge undetected
    intercept[IllegalArgumentException] {
      Ops.sessionizeSkewSafe(events, Seq("user_id"), "ts", "event_id", 1800L, 60L)
    }
  }

  test("A4 latestPerKey: a real ts always beats a null ts") {
    // ord = struct(ts, id): a null ts field sorts below every real ts in the
    // struct ordering (asc nulls-first) — a null-event-time replay must never
    // overwrite a real profile
    val df = spark.sql(
      """SELECT * FROM VALUES
         (1L, 10L, TIMESTAMP'2024-01-01 10:00:00', 'real'),
         (2L, 10L, CAST(NULL AS TIMESTAMP), 'null-ts'),
         (3L, 20L, CAST(NULL AS TIMESTAMP), 'only-null')
         AS t(event_id, user_id, ts, tag)""")
    val r = Ops.latestPerKey(df, Seq("user_id"), Seq($"ts", $"event_id"))
    assert(rowSet(r.select("user_id", "event_id")) === Set(Seq(10L, 1L), Seq(20L, 3L)))
  }

  test("A4 latestPerKey keeps exactly one deterministic row per key") {
    val r = Ops.latestPerKey(events, Seq("user_id"), Seq($"ts", $"event_id"))
    // user 10: events 3 and 6 tie on ts; id desc wins -> 6. user 20: event 5.
    assert(rowSet(r.select("user_id", "event_id")) ===
      Set(Seq(10L, 6L), Seq(20L, 5L)))
  }

  test("applyChanges: latest op per key wins, deletes remove, re-inserts resurrect") {
    val ch = Seq(
      (1L, 1L, 10.0, "I"), (1L, 2L, 11.0, "U"), (1L, 3L, 0.0, "D"), // ends deleted
      (2L, 1L, 20.0, "I"), (2L, 2L, 0.0, "D"), (2L, 3L, 22.0, "I"), // resurrected
      (3L, 5L, 30.0, "I")                                           // plain insert
    ).toDF("k", "seq", "v", "op")
    val r = rowSet(Ops.applyChanges(ch, Seq("k"), Seq(col("seq"))))
    assert(r === Set(Seq(2L, 3L, 22.0), Seq(3L, 5L, 30.0)))
  }

  test("T1 topN with tie-break is deterministic and ordered") {
    val r = Ops.topN(events.select("event_id", "ts"), 3,
      Seq($"ts".desc, $"event_id".asc))
    assert(rowList(r.select("event_id")).flatten === Seq(5L, 4L, 3L))
  }

  test("T2 topNPerGroup ranks within groups") {
    val r = Ops.topNPerGroup(events, Seq("event_type"),
      Seq($"ts".desc, $"event_id".asc), 2)
    assert(rowSet(r.select("event_type", "event_id", "rn")) === Set(
      Seq("view", 4L, 1), Seq("view", 3L, 2),          // 3 beats 6 on id asc
      Seq("purchase", 5L, 1), Seq("purchase", 2L, 2)))
  }

  test("J1 enrichLookup defaults on miss and broadcasts the dim") {
    val dim = Seq((10L, "Alice")).toDF("user_id", "name")
    val r = Ops.enrichLookup(events.select("event_id", "user_id"), dim,
      Seq("user_id"), Map("name" -> lit("Unknown")))
    assert(rowSet(r.filter($"user_id" === 20).select("name")) === Set(Seq("Unknown")))
    assert(rowSet(r.filter($"user_id" === 10).select("name").distinct()) === Set(Seq("Alice")))
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("as-of join attaches latest right row at or before left ts, per key") {
    val left = Seq((1L, 10L, ts("2024-01-01 10:05:00")),
                   (2L, 10L, ts("2024-01-01 10:00:00")),
                   (3L, 20L, ts("2024-01-01 09:00:00"))).toDF("id", "k", "t")
    val right = Seq((100L, 10L, ts("2024-01-01 10:00:00")),
                    (101L, 10L, ts("2024-01-01 10:03:00")),
                    (102L, 20L, ts("2024-01-01 09:30:00"))).toDF("rid", "k", "rt")
    val r = Ops.asofJoin(left, right, Seq("k"), "t", "rt",
      col("id"), col("rid"), Map("matched_rid" -> col("rid")))
    assert(rowSet(r.select("id", "matched_rid")) === Set(
      Seq(1L, 101L),   // latest <= 10:05 is 10:03
      Seq(2L, 100L),   // exactly-equal ts IS eligible
      Seq(3L, null)))  // nothing at or before 09:00
  }

  test("asofJoin is row-wise: newest matched row's null payload is NOT backfilled") {
    val left = Seq((1L, 10L, ts("2024-01-01 10:05:00"))).toDF("id", "k", "t")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 09:00:00"), Option(5L)),
      (101L, 10L, ts("2024-01-01 10:00:00"), Option.empty[Long])
    ).toDF("rid", "k", "rt", "pay")
    val r = Ops.asofJoin(left, right, Seq("k"), "t", "rt",
      col("id"), col("rid"), Map("pay" -> col("pay"), "matched_rid" -> col("rid")))
    // the matched ROW is 101 (newest <= t); its null pay must come through as
    // null, not be backfilled from row 100's non-null value
    assert(rowSet(r.select("id", "matched_rid", "pay")) === Set(Seq(1L, 101L, null)))
  }

  test("asofJoinTolerance nulls out matches staler than the bound, keeps fresh ones") {
    val left = Seq((1L, 10L, ts("2024-01-01 10:05:00")),
                   (2L, 10L, ts("2024-01-01 11:00:00")),
                   (3L, 20L, ts("2024-01-01 09:00:00"))).toDF("id", "k", "t")
    val right = Seq((100L, 10L, ts("2024-01-01 10:00:00")),
                    (102L, 20L, ts("2024-01-01 08:59:00"))).toDF("rid", "k", "rt")
    val r = Ops.asofJoinTolerance(left, right, Seq("k"), "t", "rt",
      col("id"), col("rid"), Map("matched_rid" -> col("rid")),
      expr("INTERVAL 10 MINUTES"))
    assert(rowSet(r.select("id", "matched_rid")) === Set(
      Seq(1L, 100L),  // 5 min stale: within tolerance
      Seq(2L, null),  // 60 min stale: nulled out, row preserved (left-preserving)
      Seq(3L, 102L))) // exactly 1 min: within
  }

  test("banded range self-join pairs within the band only") {
    val r = Ops.rangeSelfJoin(
      events.select("user_id", "ts", "event_id"),
      Seq("user_id"), "ts", "event_id", expr("INTERVAL 5 MINUTES"))
    // user 10: 1->2 (2.5m), 2->3 (2.5m), 2->6; 1->3 is 5m exactly (<= band), 1->6.
    assert(rowSet(r.select("a_event_id", "b_event_id")) === Set(
      Seq(1L, 2L), Seq(2L, 3L), Seq(2L, 6L), Seq(1L, 3L), Seq(1L, 6L)))
  }

  test("hash sampling is deterministic, consistent across rates, and stratified") {
    val big = spark.range(10000).toDF("event_id")
    val s10 = Ops.hashSample(big, "event_id", 0.1)
    val s20 = Ops.hashSample(big, "event_id", 0.2)
    assert(rowSet(s10) === rowSet(Ops.hashSample(big.repartition(7), "event_id", 0.1)),
      "must not depend on partitioning")
    assert(rowSet(s10).subsetOf(rowSet(s20)), "smaller sample nests in larger")
    val n = s10.count()
    assert(n > 700 && n < 1300, s"~10% of 10000 expected, got $n")
    // strata: full purchase retention, absent stratum dropped
    val typed = events
    val strat = Ops.stratifiedHashSample(typed, "event_id", "event_type",
      Map("purchase" -> 1.0))
    assert(rowSet(strat.select("event_id")) ===
      rowSet(typed.filter($"event_type" === "purchase").select("event_id")))
  }

  test("HLL sketch re-aggregation: merged partials equal the direct sketch, within error of exact") {
    import org.apache.spark.sql.functions._
    val events = (1L to 2000L).map(i =>
      (i, i % 700, if (i % 3 == 0) "purchase" else "view", (i % 5).toInt))
      .toDF("event_id", "user_id", "event_type", "day_off")
      .withColumn("day", date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("day_off")))
    // partial sketches per (day, type), merged per type
    val merged = events
      .groupBy(col("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    // direct whole-corpus sketch per type
    val direct = events.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
    // DataSketches HLL unions are NOT bit-identical to the direct sketch (the
    // union operator carries a different internal target type), so the honest
    // contract is estimate-level: merged and direct agree within the sketch's
    // own error band, and both track the exact count.
    val directByType = direct.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    merged.collect().foreach { r =>
      val (t, est) = (r.getString(0), r.getLong(1))
      val err = math.abs(est - exact(t)).toDouble / exact(t)
      val drift = math.abs(est - directByType(t)).toDouble / directByType(t)
      info(f"$t: merged=$est direct=${directByType(t)} exact=${exact(t)} err=${err * 100}%.2f%% drift=${drift * 100}%.2f%%")
      assert(err <= 0.05, f"HLL error $err%.3f beyond 5%% at default lgK")
      assert(drift <= 0.02, f"merged vs direct drift $drift%.3f beyond 2%%")
    }
  }

  test("A2 bucketCounts: one row per granularity x bucket with exact counts") {
    val r = Ops.bucketCounts(events, "ts")
    val daily = rowSet(r.filter($"granularity" === "daily")
      .select("time_bucket", "cnt"))
    assert(daily === Set(Seq("daily:20240101", 5L), Seq("daily:20240102", 1L)))
    val total = r.groupBy("granularity").agg(sum("cnt")).collect()
      .map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    assert(total === Map("5min" -> 6L, "hourly" -> 6L, "daily" -> 6L))
  }

  test("driver contract: SparkEntry.entry returns rows on the sf0.001 fixture") {
    // the harness smoke-checks exactly this (rows > 0); pin it in the suite
    // so a refactor that breaks the flagship entry fails here first
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
