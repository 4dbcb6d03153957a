package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}
import graft.operators.{Ops, Views}

/** Structured-Streaming maintenance of the reference's five materialized views —
  * the write path of `cassandra_subscriber.py:102-233` re-expressed as streaming
  * transforms. The batch forms live in [[graft.operators.Views]]; the implicit
  * contract (stream result ≡ batch result over the same events) is asserted by
  * `StreamingSpec`.
  *
  * Semantics decisions vs the reference (SURVEY.md §7.4):
  *  - exactly-once: the reference acks after write, so replays double-count its
  *    counters (`cassandra_subscriber.py:109, 226-231` — a real bug). Micro-batch
  *    checkpointing + idempotent sinks fix that here.
  *  - late data: the reference accepts unboundedly-late events; a streaming state
  *    store cannot. Watermark is a caller-supplied divergence knob.
  */
object StreamingViews {

  /** A1 streaming: tumbling 1-hour counts by group (counter table
    * `new_customer_geo_counts_by_hour`). Update output mode = the counter UPDATE.
    * Keyed by an item column it is also the exact streaming heavy-hitters count:
    * rank the settled aggregate with [[topKPerWindow]]; [[streamHeavyHittersSketch]]
    * is the bounded-state form for unbounded item domains. */
  def hourCounts(events: DataFrame, groupCol: String = "event_type",
                 watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col(groupCol))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("window.start"), "yyyyMMddHH").as("hour_bucket"),
        col(groupCol), col("cnt"))

  /** A2 streaming: multi-granularity prefixed bucket counts
    * (`new_products_total_count_by_time`). One explode + one windowless groupBy on
    * the bucket string — state key is (granularity, bucket), exactly the reference's
    * counter PK.
    *
    * State contract: UNBOUNDED — run in complete/update mode. The group keys are
    * derived bucket strings, not an event-time window, so Spark cannot evict state;
    * this exactly mirrors the reference's Cassandra counters, which keep every
    * bucket forever and accept unboundedly-late events
    * (`cassandra_subscriber.py:113, 210-218`). For the bounded-state production
    * form use [[bucketCountsBounded]] (one query per granularity, real windows,
    * watermark-evicted). */
  def bucketCounts(events: DataFrame): DataFrame = {
    val t = col("ts")
    events
      .select(t, explode(array(
        struct(lit("5min").as("granularity"), Ops.bucketKey("5min", Ops.min5Bucket(t)).as("time_bucket")),
        struct(lit("hourly").as("granularity"), Ops.bucketKey("hourly", Ops.hourBucket(t)).as("time_bucket")),
        struct(lit("daily").as("granularity"), Ops.bucketKey("daily", Ops.dayBucket(t)).as("time_bucket"))
      )).as("g"))
      .groupBy(col("g.granularity").as("granularity"), col("g.time_bucket").as("time_bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Carried per-window Misra-Gries state: update counter + the bounded
    * counter map. */
  case class MgSketchState(nUpdates: Long, counts: Map[String, Long])

  /** Streaming Misra-Gries heavy hitters with BOUNDED state per window — the
    * unbounded-item-domain form of [[hourCounts]]' exact count: the
    * exact windowed count keeps one state row per (window, item), which an
    * unbounded domain (URLs, user agents, raw tokens) grows without limit;
    * here `flatMapGroupsWithState` keeps capacity-bounded sketches (the
    * `Ops.approxHeavyHitters` update rule: increment, claim a free slot, or
    * decrement-all-and-drop-zeros), so state is `windows × shards × capacity`
    * whatever the stream carries. Each trigger emits a sketch's current
    * counters tagged with its update counter — settle by max `n_updates` per
    * (window, shard) ([[settleSketch]], the [[streamFunnel]] argmax
    * discipline), then rank with [[topKPerWindow]].
    *
    * SHARDING (the 100 TB hot-key fix): keying state by the
    * window alone funnels EVERY event of a window through one task — and for
    * a live stream the current hour is the single hottest possible key, so
    * that one task serializes the whole feed. `shards > 1` re-keys state to
    * `(hour_bucket, pmod(xxhash64(item), shards))`: a window's events spread
    * across `shards` tasks, and because item→shard is DETERMINISTIC every
    * item's counts live in exactly one shard, so the per-shard MG guarantee
    * holds verbatim — never overcounts, per-(window, shard) undercount ≤
    * n_shard/(capacity+1) (n_shard ≤ n_window, so sharding only TIGHTENS the
    * window-level bound) — and the settled shard union is a plain union
    * (each (window, item) appears in one shard). With capacity ≥ a shard's
    * distinct items no decrement ever fires and the settled counts are EXACT
    * (the driver-gated regime, equal to the batch windowed count).
    *
    * EVICTION: `eventTimeEviction = true` watermarks the
    * stream (`watermarkDelay`) and arms an event-time timeout per sketch at
    * `window_end + allowedLatenessMs`: once the watermark passes it, the
    * sketch re-emits its settled counters one last time (same `n_updates` —
    * idempotent under the max-settle) and FREES the state, so a long-running
    * stream holds sketches only for windows inside the lateness horizon
    * instead of every hour bucket ever. Beyond-horizon stragglers restart a
    * window's sketch from empty with a RESET `n_updates`; the max-settle
    * keeps the pre-eviction emission — i.e. horizon-late data is dropped
    * from the settled view, the same W2 divergence knob as every watermarked
    * operator here. Off by default to preserve the exact unbounded-lateness
    * twin. */
  def streamHeavyHittersSketch(events: DataFrame, itemCol: String = "event_type",
                               capacity: Int = 64, shards: Int = 1,
                               eventTimeEviction: Boolean = false,
                               watermarkDelay: String = "10 seconds",
                               allowedLatenessMs: Long = 0L): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val spark = events.sparkSession
    import spark.implicits._
    // the watermarked event-time column must reach the stateful operator
    // (EventTimeTimeout contract — see sessionize/streamFunnel), so `ts`
    // rides the projection; window_end_ms is per-row but constant within a
    // group (all rows of a group share the hour bucket).
    val base = events
      .select(col("ts").cast("timestamp").as("ts"),
        date_format(col("ts"), "yyyyMMddHH").as("hour_bucket"),
        pmod(xxhash64(col(itemCol).cast("string")), lit(shards.toLong)).cast("int").as("shard"),
        col(itemCol).cast("string").as("item"),
        // end of the SESSION-TIMEZONE hour, like hour_bucket above: raw
        // UTC epoch-hour arithmetic diverges from
        // date_format's bucket in a fractional-offset session (e.g.
        // +05:30), letting the eviction deadline land mid-bucket — the
        // sketch would evict early and the max-settle could keep either
        // emission. date_trunc truncates in the session zone, so bucket
        // and deadline always move together (identical under UTC).
        (unix_millis(date_trunc("hour", col("ts").cast("timestamp"))) + lit(3600000L))
          .cast("long").as("window_end_ms"))
    val bounded =
      if (eventTimeEviction) base.withWatermark("ts", watermarkDelay) else base
    val timeoutConf =
      if (eventTimeEviction) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    bounded
      .select(col("hour_bucket"), col("shard"), col("item"), col("window_end_ms"),
        col("ts"))
      .as[(String, Int, String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[MgSketchState, (String, Int, Long, String, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update, timeoutConf) {
        case ((bucket, shard), rows, state) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed window_end + lateness: final idempotent
            // re-emission (same n_updates), then free the sketch
            val prev = state.get
            state.remove()
            prev.counts.iterator.map { case (item, c) =>
              (bucket, shard, prev.nUpdates, item, c)
            }
          } else {
            val prev = state.getOption.getOrElse(MgSketchState(0L, Map.empty))
            val counts = scala.collection.mutable.HashMap[String, Long](prev.counts.toSeq: _*)
            var windowEndMs = 0L
            rows.foreach { case (_, _, v, wEnd, _) =>
              windowEndMs = wEnd
              if (counts.contains(v) || counts.size < capacity)
                counts.update(v, counts.getOrElse(v, 0L) + 1L)
              else counts.keys.toArray.foreach { k =>
                val c = counts(k)
                if (c == 1L) counts.remove(k) else counts.update(k, c - 1L)
              }
            }
            val next = MgSketchState(prev.nUpdates + 1, counts.toMap)
            state.update(next)
            if (eventTimeEviction)
              // clamp above the current watermark: a legal late arrival can
              // carry a window whose eviction deadline already passed
              state.setTimeoutTimestamp(math.max(windowEndMs + allowedLatenessMs,
                state.getCurrentWatermarkMs() + 1))
            next.counts.iterator.map { case (item, c) =>
              (bucket, shard, next.nUpdates, item, c)
            }
          }
      }
      .toDF("hour_bucket", "shard", "n_updates", "item", "est_count")
  }

  /** Settle [[streamHeavyHittersSketch]]'s update-mode emissions: per
    * (window, shard) sketch, keep the LAST emission's counters (max
    * `n_updates` — each micro-batch that touched the sketch emitted once
    * with a higher counter), then drop the shard tag: item-deterministic
    * sharding puts each (window, item) in exactly one shard, so the union
    * across settled shards has one row per (window, item) — no re-merge
    * needed. Input is sketch-bounded (windows × shards × capacity per
    * emission), so the settle window sort is over sketch rows, never
    * events. Accepts pre-sharding emissions (no `shard` column) too.
    * The final distinct collapses event-time-eviction re-emissions, which
    * carry the SAME `n_updates` as the sketch's last data emission by
    * design (idempotence) and would otherwise survive the max filter as
    * exact duplicate rows. */
  def settleSketch(emissions: DataFrame): DataFrame = {
    val parts =
      if (emissions.columns.contains("shard")) Seq(col("hour_bucket"), col("shard"))
      else Seq(col("hour_bucket"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(parts: _*)
    emissions
      .withColumn("__max", max(col("n_updates")).over(w))
      .filter(col("n_updates") === col("__max"))
      .select(col("hour_bucket"), col("item"), col("est_count"))
      .distinct()
  }

  /** Per-window top-k over a settled (windowCol, itemCol, cntCol) aggregate:
    * rank = `row_number` by (cnt DESC, item ASC) — the library's standard
    * deterministic tie-break — filtered to k. Input is already aggregated
    * (one row per window×item), so the window sort is over counts, not
    * events. */
  def topKPerWindow(settledCounts: DataFrame, windowCol: String,
                    itemCol: String, cntCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(windowCol)).orderBy(col(cntCol).desc, col(itemCol).asc)
    settledCounts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** [[bucketCounts]], bounded-state form: ONE granularity per query, grouped on a
    * real `window(ts, …)` so the watermark actually evicts closed buckets and
    * drops beyond-horizon late rows. A deployment runs three of these (5min /
    * hourly / daily) against the same source — the streaming analog of the
    * reference's three counter UPDATEs per event — each with state bounded by
    * (watermark horizon / granularity) buckets instead of all buckets ever. */
  def bucketCountsBounded(events: DataFrame, granularity: String,
                          watermark: String = "1 day"): DataFrame = {
    val (dur, fmt) = granularity match {
      case "5min"   => ("5 minutes", "yyyyMMddHHmm")
      case "hourly" => ("1 hour", "yyyyMMddHH")
      case "daily"  => ("1 day", "yyyyMMdd")
      case other => throw new IllegalArgumentException(
        s"granularity must be 5min|hourly|daily, got $other")
    }
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), dur))
      .agg(count(lit(1)).as("cnt"))
      .select(lit(granularity).as("granularity"),
        concat(lit(granularity + ":"), date_format(col("window.start"), fmt))
          .as("time_bucket"),
        col("cnt"))
  }

  /** Carried LWW state: the winning (event time, id) per key. */
  case class LwwState(tsMicros: Long, eventId: Long)

  /** A4/W6 streaming, true stateful form: `mapGroupsWithState` keeps the winning
    * (ts, event_id) per key across micro-batches — the state-store analog of the
    * reference's Cassandra upsert (`cassandra_subscriber.py:124-144`), with the
    * wall-clock write race replaced by deterministic (event time, id) ordering.
    * Run in `update` output mode; each batch emits the current winner for every
    * key that saw traffic. Scale: state is one 16-byte record per key, hash
    * partitioned — 10^9 keys ≈ tens of GB across a cluster's state stores.
    *
    * IDLE TTL: the default keeps every key's record forever —
    * exact reference parity (Cassandra rows don't expire either). For bounded
    * deployments, `eventIdleTimeout` (milliseconds of EVENT time) arms an
    * event-time timeout per key at `winner_ts + ttl` — the winner's ts is the
    * newest event time the key has seen, so the deadline is monotone within a
    * state lifetime — and `watermarkDelay` watermarks the source (the
    * EventTimeTimeout contract, as [[streamFunnel]]/[[streamHeavyHittersSketch]]).
    * When the watermark passes the deadline the key's state FREES silently
    * (no re-emission — the winner was already emitted, and a duplicate would
    * poison multiset stream≡batch gates): the SETTLED view (argmax over all
    * emissions per key) is unchanged, because per-lifetime winners are
    * monotone and the global argmax equals the true LWW answer; only the
    * transient per-batch "current winner" can restart lower after a
    * post-eviction straggler — the same W2 divergence knob as every
    * watermarked operator here. */
  def latestPerKeyStateful(events: DataFrame, keyCol: String = "user_id",
                           eventIdleTimeout: Long = 0L,
                           watermarkDelay: String = "10 seconds"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    if (eventIdleTimeout <= 0L)
      events
        .select(col(keyCol).cast("long"),
          unix_micros(col("ts").cast("timestamp")),
          col("event_id").cast("long"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .mapGroupsWithState[LwwState, (Long, Long, Long)](GroupStateTimeout.NoTimeout) {
          case (key, rows, state) =>
            val best = (rows.map(r => LwwState(r._2, r._3)) ++ state.getOption)
              .maxBy(s => (s.tsMicros, s.eventId))
            state.update(best)
            (key, best.tsMicros, best.eventId)
        }
        .toDF(keyCol, "ts_micros", "event_id")
    else {
      def micros(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      events
        // the watermarked event-time column itself must reach the stateful
        // op (the EventTimeTimeout contract — see sessionize/the MG sketch)
        .select(col(keyCol).cast("long").as("k"),
          col("ts").cast("timestamp").as("ts"),
          col("event_id").cast("long").as("eid"))
        .withWatermark("ts", watermarkDelay)
        .as[(Long, java.sql.Timestamp, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[LwwState, (Long, Long, Long)](
          org.apache.spark.sql.streaming.OutputMode.Update,
          GroupStateTimeout.EventTimeTimeout) {
          case (key, rows, state) =>
            if (rows.isEmpty && state.hasTimedOut) {
              // idle past the TTL: free the 16-byte record, emit nothing
              // (the winner is already in the emission history)
              state.remove()
              Iterator.empty
            } else {
              val best = (rows.map(r => LwwState(micros(r._2), r._3)) ++ state.getOption)
                .maxBy(s => (s.tsMicros, s.eventId))
              state.update(best)
              // clamp above the current watermark: a legal late arrival can
              // carry a winner whose idle deadline already passed
              state.setTimeoutTimestamp(math.max(
                best.tsMicros / 1000L + eventIdleTimeout,
                state.getCurrentWatermarkMs() + 1))
              Iterator((key, best.tsMicros, best.eventId))
            }
        }
        .toDF(keyCol, "ts_micros", "event_id")
    }
  }

  /** Accumulating session state: bounds + count of the in-flight session. */
  case class SessionState(startMicros: Long, lastMicros: Long, n: Long)

  /** Closed-session sessionization via `flatMapGroupsWithState` + event-time
    * timeout: per key, consecutive events closer than `gapSeconds` extend the
    * session; a gap (or the watermark passing last-event-time + gap) CLOSES it,
    * emitting one (key, session_start, session_end, n) row. This is the custom-
    * state form of `session_window` — use it when the emitted record needs
    * logic a windowed agg can't express (e.g. first/last event payloads,
    * abandoned-cart flags). State per key is one fixed-size record; the
    * event-time timeout + watermark evict idle keys, so state is bounded by
    * ACTIVE keys, not all keys ever seen. Append output mode. */
  def sessionize(events: DataFrame, keyCol: String = "user_id",
                 gapSeconds: Long = 1800L, watermark: String = "1 day"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapSeconds * 1000000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    events
      // the watermarked event-time column itself must reach the stateful op
      // (a projection that rewrites it unregisters the watermark)
      .select(col(keyCol).cast("long").as("k"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, (Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed last + gap with no new events: close the session
            val s = state.get
            state.remove()
            Iterator((key, s.startMicros, s.lastMicros, s.n))
          } else {
            // Canonical interval sweep-merge over (carried state ∪ batch
            // events) sorted by start: any two runs within `gap` of each other
            // merge, EXACTLY batch session_window semantics within the batch —
            // including late runs that a newer event retroactively bridges to
            // the open session. The latest merged run stays OPEN in state; the
            // earlier ones close and emit. Residual divergence (W2 knob): a
            // closed run cannot merge with still-later arrivals in FUTURE
            // batches — inherent to emitting before the watermark horizon.
            val intervals =
              (state.getOption.map(s => SessionState(s.startMicros, s.lastMicros, s.n)).toList ++
                rows.map(r => { val t = micros(r._2); SessionState(t, t, 1) }).toList)
                .sortBy(s => (s.startMicros, s.lastMicros))
            val merged = intervals.foldLeft(List.empty[SessionState]) {
              case (Nil, iv) => iv :: Nil
              case (cur :: done, iv) =>
                // inclusive gap bound — session_window still merges an event
                // exactly `gap` later
                if (iv.startMicros <= cur.lastMicros + gapMicros)
                  SessionState(cur.startMicros,
                    math.max(cur.lastMicros, iv.lastMicros), cur.n + iv.n) :: done
                else iv :: cur :: done
            }.reverse
            val open = merged.last
            val closed = merged.init // ascending start order
            state.update(open)
            // timeout must sit above the current watermark; if the watermark
            // already passed last+gap, fire at the next batch
            state.setTimeoutTimestamp(math.max(
              open.lastMicros / 1000L + gapSeconds * 1000L,
              state.getCurrentWatermarkMs() + 1))
            closed.iterator.map(s => (key, s.startMicros, s.lastMicros, s.n))
          }
      }
      .toDF(keyCol, "session_start_micros", "session_end_micros", "n")
  }

  /** Streaming exact dedup: at-most-once per id within the watermark horizon —
    * the streaming half of the training-pipeline dedup story (batch half:
    * [[graft.operators.Dedup.exactDedup]]). `dropDuplicatesWithinWatermark` keys
    * state on the id ALONE (a replay with the same id but a drifted timestamp is
    * still a duplicate) and evicts each id once the watermark passes its event
    * time; later-than-watermark duplicates are the documented divergence (W2). */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Shared settle step of the stream-static match family: collapse a row's
    * multiple matching tags/fingerprints to ONE emission per `key`. With
    * `watermarkCol` empty this is plain streaming `dropDuplicates(key)` —
    * UNBOUNDED per-key state for the lifetime of the query — which is only
    * safe for bounded test streams and short-lived backfills, so that form
    * requires the explicit `unboundedStateOk = true` opt-in instead of
    * being the silent default a production caller could drift into. Streams
    * that carry event time pass `watermarkCol` and get watermark-bounded
    * dedup state. */
  private def settleOncePerKey(matched: DataFrame, key: String,
                               watermarkCol: String, watermark: String,
                               unboundedStateOk: Boolean): DataFrame =
    if (watermarkCol.isEmpty) {
      require(unboundedStateOk,
        s"watermarkCol is empty: streaming dropDuplicates($key) keeps unbounded " +
          "per-key state for the query's lifetime. Pass an event-time " +
          "watermarkCol to bound it, or set unboundedStateOk = true for " +
          "bounded test/backfill streams.")
      matched.dropDuplicates(key)
    } else matched.withWatermark(watermarkCol, watermark)
      .dropDuplicatesWithinWatermark(key)

  /** Streaming incremental dedup — the intake gate of a continuously-crawled
    * corpus: new documents stream in, drop in-stream repeats, then drop
    * anything already in the STATIC base corpus via a stream-static LEFT ANTI
    * join against its fingerprint table (the batch half:
    * [[graft.operators.Dedup.incrementalDedup]]).
    *
    * Scale shape: the anti join is STATELESS — each micro-batch probes the
    * static side (at 100 TB a `Lake.writeBucketed(fps, .., "fp", n)` table, so
    * the probe is one-sided onto the bucketed layout); the only streaming
    * state is the in-stream `dropDuplicates` keyed on the 8-byte fingerprint.
    * Without an event-time watermark that state grows with the distinct-doc
    * count (8 bytes per doc — the honest cost of GLOBAL exact dedup); pass
    * `watermarkCol`/`watermark` when the stream carries event time to bound it
    * to the horizon instead. */
  def streamIncrementalDedup(docs: DataFrame, baseFps: DataFrame,
                             watermarkCol: String = "", watermark: String = "1 day",
                             unboundedStateOk: Boolean = false): DataFrame = {
    val fp = docs.withColumn("fp", graft.functions.TextFns.fastFingerprint(col("text")))
    val deduped = settleOncePerKey(fp, "fp", watermarkCol, watermark, unboundedStateOk)
    deduped.join(baseFps.select(col("fp")), Seq("fp"), "left_anti")
  }

  /** Streaming NEAR-dup suspect stream — the fuzzy sibling of
    * [[streamIncrementalDedup]]: emits each streamed doc that shares at least
    * one MinHash band bucket with the STATIC base corpus
    * ([[graft.operators.Dedup.minhashBucketTable]] — at 100 TB a persisted
    * table bucketed on (band, bucket)). A router sends these to quarantine /
    * batch re-verification (the exact-Jaccard check needs both signatures;
    * candidate-level flagging is the append-mode-expressible half) and the
    * rest onward.
    *
    * Why map-only signatures: a streaming groupBy would need watermarked
    * state just to build the signature; the per-row
    * [[graft.functions.MinHashSigExpr]] (bit-identical to the batch
    * aggregate, DedupSpec-asserted) makes tag generation a projection, so
    * the whole pipeline is a stateless stream-static LEFT SEMI join plus the
    * one `dropDuplicates(doc_id)` that collapses a doc's multiple matching
    * bands — 8 bytes of state per flagged doc (bound it with
    * `watermarkCol`/`watermark` like the exact form when the stream carries
    * event time). */
  def streamMinhashBaseMatches(docs: DataFrame, baseBuckets: DataFrame,
                               shingleSize: Int = 3, bands: Int = 16, rows: Int = 4,
                               watermarkCol: String = "", watermark: String = "1 day",
                               unboundedStateOk: Boolean = false): DataFrame = {
    val sigs = docs
      .withColumn("__toks", graft.functions.TextFns.tokens(col("text")))
      .withColumn("__hs", transform(
        array_distinct(graft.functions.TextFns.shinglesFromTokens(col("__toks"), shingleSize)),
        s => xxhash64(s)))
      .withColumn("sig",
        graft.functions.MinHashSigExpr.minhashSigRow(col("__hs"), bands * rows))
      .filter(col("sig").isNotNull)
    val tagged = sigs
      .withColumn("bb", explode(graft.functions.TextFns.minhashBands(col("sig"), bands, rows)))
      .select((docs.columns.map(col) :+ col("bb.band").as("band") :+
        col("bb.bucket").as("bucket")): _*)
    val matched = tagged
      .join(baseBuckets.select(col("band"), col("bucket")), Seq("band", "bucket"), "left_semi")
      .drop("band", "bucket")
    settleOncePerKey(matched, "doc_id", watermarkCol, watermark, unboundedStateOk)
  }

  /** Streaming near-dup suspect stream, WINNOWING edition: emits each
    * streamed doc sharing at least one winnowing fingerprint with the static
    * base corpus's persisted fingerprint table
    * ([[graft.operators.Dedup.winnowFingerprints]] — the ~2/(w+1)-sampled
    * artifact a snapshot keeps precisely so live ingest can probe it). The
    * [[streamMinhashBaseMatches]] contract for SUBSTRING-level overlap: the
    * w+k-1 guarantee means any streamed doc sharing a run of that many tokens
    * with the base flags here, where whole-doc MinHash similarity can stay
    * below its threshold (a long fresh doc quoting one base paragraph). The
    * winnow selection ([[graft.functions.WinnowExpr]]) is a per-row
    * projection — no streaming aggregation state — so the pipeline is the
    * same stateless stream-static LEFT SEMI join + one doc-keyed
    * dropDuplicates (watermark-boundable). Candidate-level flagging; the
    * exact span/containment re-check runs in batch quarantine.
    * `md5Keys` must match how the base table was built. */
  def streamWinnowBaseMatches(docs: DataFrame, baseFps: DataFrame,
                              k: Int = 5, w: Int = 4, md5Keys: Boolean = false,
                              watermarkCol: String = "", watermark: String = "1 day",
                              unboundedStateOk: Boolean = false): DataFrame = {
    import graft.functions.{TextFns, WinnowExpr}
    val hash = graft.operators.Dedup.winnowGramHash(md5Keys)
    val tagged = docs
      .withColumn("__toks", TextFns.tokens(col("text")))
      .withColumn("__grams", TextFns.shinglesFromTokens(col("__toks"), k))
      .withColumn("__hs", transform(col("__grams"), hash))
      .withColumn("__f", explode(WinnowExpr.winnow(col("__hs"), w)))
      .select((docs.columns.map(col) :+ col("__f.fp").as("fp")): _*)
    val matched = tagged
      .join(baseFps.select(col("fp")), Seq("fp"), "left_semi")
      .drop("fp")
    settleOncePerKey(matched, "doc_id", watermarkCol, watermark, unboundedStateOk)
  }

  /** Streaming near-dup suspect stream, EMBEDDING edition: emits each streamed
    * vector sharing at least one hyperplane-LSH bucket with the static base
    * corpus ([[graft.operators.Similarity.hyperplaneTagTable]] — persisted,
    * bucketed on (tbl, bucket)). The [[streamMinhashBaseMatches]] contract for
    * the modality where "near-dup" means "same embedding neighborhood"; the
    * bucket expression ([[graft.functions.HyperplaneBucketExpr]]) is already
    * per-row, so tag generation is a projection and the pipeline is the same
    * stateless stream-static LEFT SEMI join + one vec-keyed dropDuplicates
    * (watermark-boundable). Candidate-level flagging, as in the MinHash form:
    * the exact cosine re-check runs in batch quarantine. */
  def streamCosineBaseMatches(vecs: DataFrame, baseTags: DataFrame, dim: Int,
                              nbits: Int = 8, tables: Int = 4,
                              watermarkCol: String = "", watermark: String = "1 day",
                              unboundedStateOk: Boolean = false): DataFrame = {
    import graft.functions.VectorFns
    val tagged = vecs
      .withColumn("__emb", VectorFns.toDoubleArray(col("embedding")))
      .withColumn("bb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          VectorFns.hyperplaneBucket(col("__emb"), dim, nbits, seed = t).as("bucket"))
      }: _*)))
      .select((vecs.columns.map(col) :+ col("bb.tbl").as("tbl") :+
        col("bb.bucket").as("bucket")): _*)
    val matched = tagged
      .join(baseTags.select(col("tbl"), col("bucket")), Seq("tbl", "bucket"), "left_semi")
      .drop("tbl", "bucket")
    settleOncePerKey(matched, "vec_id", watermarkCol, watermark, unboundedStateOk)
  }

  /** Streaming near-dup suspect stream, IMAGE edition — completing the
    * stream-static gate family (MinHash / winnow / cosine) for the visual
    * modality: emits each streamed image whose dHash lies within
    * `maxHamming` of some base-corpus image in the persisted band index
    * ([[graft.operators.Multimodal.writeImageDedupIndex]] — band rows
    * bucketed on `bkey`, so the static side reads co-located). Unlike the
    * text/vector gates, this one VERIFIES in-stream: index rows carry the
    * full 64-bit hash, so the band-candidate join is followed by the exact
    * `bit_count(xor)` Hamming check and the flagged stream carries no
    * banding false positives — no batch quarantine pass needed. Decode +
    * dHash are map-only ([[graft.operators.Multimodal.imageDHash]]'s typed
    * mapPartitions), the probe is a stateless stream-static equi join, and
    * the only streaming state is the one media-keyed dropDuplicates
    * (watermark-boundable via `watermarkCol`, the family contract). `maxDf`
    * df-bounds degenerate band keys exactly like the batch probe. */
  def streamImageBaseMatches(media: DataFrame, baseIndex: DataFrame,
                             maxHamming: Int = 3, maxDf: Int = 1000,
                             watermarkCol: String = "", watermark: String = "1 day",
                             unboundedStateOk: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding guarantees recall only for Hamming <= 3, got $maxHamming")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    import graft.operators.Multimodal
    val spark = media.sparkSession
    val probe = Multimodal.dHashBandRows(
      Multimodal.imageDHash(spark, media).toDF())
    val good = baseIndex.groupBy("bkey").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("bkey")
    // materialize the df-bounded base slice ONCE at query construction: a
    // stream-static join re-evaluates its static subtree every
    // micro-batch, so an unmaterialized plan would re-scan the full index
    // AND re-run the df aggregation shuffle per trigger — defeating the
    // zero-base-exchange probe at scale. The checkpointed slice is
    // (bkey, hi, lo) per band row — a fraction of index size — and
    // LogicalRDD preserves its bkey clustering for the per-batch join.
    val base = baseIndex.join(good, Seq("bkey"), "left_semi")
      .select(col("bkey"), col("dhash_hi").as("__hi_b"), col("dhash_lo").as("__lo_b"))
      .localCheckpoint(true)
    val matched = probe.join(base, Seq("bkey"))
      .filter((bit_count(col("dhash_hi").bitwiseXOR(col("__hi_b"))) +
        bit_count(col("dhash_lo").bitwiseXOR(col("__lo_b")))) <= maxHamming)
      .select(col("media_id"), col("dhash_hi"), col("dhash_lo"))
    settleOncePerKey(matched, "media_id", watermarkCol, watermark, unboundedStateOk)
  }

  /** Live approximate distinct-user counter per hour: HLL++ partial
    * aggregation (`approx_count_distinct`) — streaming state per hour bucket
    * is one fixed-size sketch, not a user set, so a bot flood of novel ids
    * cannot grow state; the batch twin's error gate
    * (`q_approx_distinct_bounds`) applies, wired driver-visible in
    * `w_stream_approx_distinct_bounds`. */
  def hourlyApproxDistinct(events: DataFrame, idCol: String = "user_id",
                           rsd: Double = 0.02): DataFrame =
    events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyyMMddHH").as("hour_bucket"))
      .agg(approx_count_distinct(col(idCol), rsd).as("est"))

  /** Funnel state: emission counter, best stage-1 entry time, and the
    * horizon-bounded buffer of later-stage (stageIdx, tsMicros) events. */
  case class FunnelState(nUpdates: Long, t1: Long, later: List[(Int, Long)])

  /** Streaming twin of [[graft.operators.Analytics.funnel]], W6 custom-state
    * form: per-user ordered-funnel progress through `mapGroupsWithState`,
    * EXACTLY batch-equivalent under ANY arrival order — each batch recomputes
    * the stage chain from buffered state, so a late stage-1 event that moves
    * the horizon window (and can legitimately DEMOTE a user, which is why
    * naive forward-only stage machines diverge from batch) is handled. Emits
    * `(user_id, n_updates, stage_reached)` per active user per batch in
    * update mode; settle to final verdicts via the max-`n_updates` emission
    * (the argmax settle, as `w6_stream_lww`).
    *
    * State per user is NOT the raw history: one (t1, counter) pair plus
    * later-STAGE events only, pruned by the funnel horizon — an event past
    * `t1 + horizon` can never re-qualify (t1 is monotone non-increasing, so
    * the window only moves earlier) and drops immediately. Pre-stage-1
    * arrivals of later stages are kept until a stage-1 event bounds them —
    * a watermark alone does NOT evict `mapGroupsWithState` state, so three
    * explicit bounds cover adversarial streams: `idleTimeout` (e.g.
    * `"2 hours"`) arms a PROCESSING-time timeout per user — a user silent
    * that long emits a final verdict and FREES its state (a later event
    * restarts the funnel from empty: the deployment trade-off vs unbounded
    * retention, off by default to preserve exact batch equivalence);
    * `eventIdleTimeout` is the EVENT-time sibling (milliseconds of event
    * time) — the state evicts when the WATERMARK passes lastEventTime +
    * eventIdleTimeout, so a replayed historical stream evicts at the same
    * points every run (processing-time eviction depends on wall-clock batch
    * cadence and does not); it applies `watermarkDelay` to the source. And `maxLaterEvents` caps the later-event buffer per user
    * ONLY while no stage-1 event has arrived (t1 unknown — the unbounded
    * regime; once t1 exists the horizon filter is the bound, and capping
    * there could evict within-horizon events still needed to complete the
    * chain, undercounting vs batch), keeping the EARLIEST
    * events by (ts, stage) (deterministic; earliest events are the ones a
    * yet-unseen stage-1 window can still qualify). Defaults preserve the
    * exact-batch-equivalent behavior of the hash-gated entry. */
  def streamFunnel(events: DataFrame, stages: Seq[String],
                   maxSpanHours: Int = 168, idleTimeout: String = "",
                   maxLaterEvents: Int = 0, eventIdleTimeout: Long = 0L,
                   watermarkDelay: String = "10 seconds"): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got ${stages.size}")
    require(idleTimeout.isEmpty || eventIdleTimeout == 0L,
      "pick ONE eviction clock: processing-time idleTimeout or event-time eventIdleTimeout")
    val spark = events.sparkSession
    import spark.implicits._
    val k = stages.size
    val horizon = maxSpanHours * 3600L * 1000000L
    def chainReached(t1: Long, later: List[(Int, Long)]): Int = {
      var reached = if (t1 == Long.MaxValue) 0 else 1
      var tPrev = t1
      var stage = 1
      while (stage < k && reached == stage) {
        val cand = later.collect { case (i, ts) if i == stage && ts >= tPrev => ts }
        if (cand.nonEmpty) { reached = stage + 1; tPrev = cand.min }
        stage += 1
      }
      reached
    }
    val timeoutConf =
      if (idleTimeout.nonEmpty) GroupStateTimeout.ProcessingTimeTimeout
      else if (eventIdleTimeout > 0L) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val idxMap = map_from_arrays(array(stages.map(lit): _*),
      array(stages.indices.map(i => lit(i)): _*))
    // the watermarked timestamp column stays in the projection all the way to
    // the stateful operator — EventTimeTimeout requires the watermark to reach
    // it, and projecting the tagged column away would sever that
    val tagged = events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id").cast("long").as("user_id"),
        element_at(idxMap, col("event_type")).as("stage_idx"),
        col("ts").cast("timestamp").as("ts"))
    val bounded =
      if (eventIdleTimeout > 0L) tagged.withWatermark("ts", watermarkDelay)
      else tagged
    bounded
      .select(col("user_id"), col("stage_idx"), unix_micros(col("ts")).as("us"),
        col("ts"))
      .as[(Long, Int, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelState, (Long, Long, Int)](timeoutConf) {
        case (user, rows, state) =>
          if (state.hasTimedOut) {
            // idle eviction: re-emit the settled verdict (same n_updates —
            // idempotent under the max-n_updates settle) and free the state
            val prev = state.get
            state.remove()
            (user, prev.nUpdates, chainReached(prev.t1, prev.later))
          } else {
            val prev = state.getOption.getOrElse(FunnelState(0L, Long.MaxValue, Nil))
            val incoming = rows.map { case (u, i, us, _) => (u, i, us) }.toList
            val t1 = (prev.t1 :: incoming.collect { case (_, 0, ts) => ts }).min
            val unbounded = (prev.later ++
                incoming.collect { case (_, i, ts) if i > 0 => (i, ts) })
              .filter { case (_, ts) => t1 == Long.MaxValue || ts <= t1 + horizon }
            // cap ONLY the pre-stage-1 regime: with t1 known the horizon
            // filter above is the bound, and trimming there could drop
            // within-horizon events a chain still needs (undercount vs batch)
            val later =
              if (maxLaterEvents > 0 && t1 == Long.MaxValue &&
                  unbounded.size > maxLaterEvents)
                unbounded.sortBy { case (i, ts) => (ts, i) }.take(maxLaterEvents)
              else unbounded
            val next = FunnelState(prev.nUpdates + 1, t1, later)
            state.update(next)
            if (idleTimeout.nonEmpty) state.setTimeoutDuration(idleTimeout)
            if (eventIdleTimeout > 0L) {
              // evict when the WATERMARK passes lastEventTime + eventIdleTimeout
              // (ms); clamp above the current watermark — a legal late arrival
              // can carry an event time whose deadline is already in the past
              val lastMs = incoming.map(_._3).max / 1000L
              state.setTimeoutTimestamp(
                math.max(lastMs + eventIdleTimeout, state.getCurrentWatermarkMs() + 1))
            }
            (user, next.nUpdates, chainReached(t1, later))
          }
      }
      .toDF("user_id", "n_updates", "stage_reached")
  }

  /** Streaming twin of [[graft.operators.Analytics.hourlyAnomalies]]: live
    * hourly counters per event type, flagged against a FROZEN per-type
    * baseline (mean/stddev of historical hourly counts — fit in batch, e.g.
    * yesterday's [[graft.operators.Analytics.hourlyAnomalies]] inputs). The
    * baseline joins the event stream BEFORE the aggregation (stream-static
    * broadcast enrich — stateless, and legal in any output mode, where a
    * post-aggregation join is not), and rides the group key as a constant;
    * the only state is the windowed count itself. Settled complete-mode
    * output equals the batch twin on the same baseline — hash-oracled. */
  def streamHourlyAnomalies(events: DataFrame, baseline: DataFrame,
                            zThreshold: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    events
      .join(broadcast(baseline), Seq("event_type"))
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        col("mu"), col("sd"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("hour"), col("cnt"), col("mu"), col("sd"),
        when(col("sd") > 0,
          round((col("cnt") - col("mu")) / col("sd"), 6)).as("zscore"))
      .withColumn("is_anomaly", coalesce(abs(col("zscore")) >= zThreshold, lit(false)))
  }

  /** Stream-stream interval join (absent from the reference — CQL cannot join at
    * all): each left-branch event pairs with the right-branch events of the SAME
    * key whose time falls in (left.ts, left.ts + maxGap]. Both branches carry a
    * watermark and the join condition bounds event time on both sides, so Spark
    * evicts join state once the watermark passes `ts + maxGap` — state is bounded
    * by the gap horizon, not the stream length (the 100 TB requirement for any
    * stream-stream join).
    *
    * `joinType` "inner": matches emit as soon as both sides arrive (append mode),
    * no watermark wait. "left_outer" also reports the non-conversions ("views
    * with NO purchase within T"): an unmatched left row can only emit once the
    * watermark passes `l_ts + maxGap` (before that a matching right event could
    * still arrive), so null-extended rows trail the watermark — the inherent
    * outer-join latency, not a bug; state eviction is the same as inner.
    *
    * Operational note: the watermark only advances on rows that REACH the
    * EventTimeWatermark operator at runtime — Catalyst pushes the branch
    * filters below it, so event types kept by neither branch do not move the
    * watermark, and a quiet period on the joined types delays null-extended
    * emission even while other traffic flows (StreamingSpec demonstrates
    * with heartbeat rows of a kept type).
    *
    * Shape precedent: the reference correlates a customer's events only through
    * per-key tables; this is the general "what followed X within T" correlation
    * (e.g. view → purchase attribution). */
  def streamStreamJoin(events: DataFrame, keyCol: String = "user_id",
                       leftType: String = "view", rightType: String = "purchase",
                       maxGap: String = "30 minutes",
                       watermark: String = "1 day",
                       joinType: String = "inner"): DataFrame = {
    val wm = events.withWatermark("ts", watermark)
    val left = wm.filter(col("event_type") === leftType)
      .select(col(keyCol).as("k"), col("event_id").as("l_event_id"), col("ts").as("l_ts"))
    val right = wm.filter(col("event_type") === rightType)
      .select(col(keyCol).as("rk"), col("event_id").as("r_event_id"), col("ts").as("r_ts"))
    left.join(right,
        col("k") === col("rk") &&
          col("r_ts") > col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxGap"),
        joinType)
      .select(col("k").as(keyCol), col("l_event_id"), col("r_event_id"))
  }

  /** S4 streaming: the reference's LOGGED BATCH writes each customer event to
    * `customer_latest_info` AND `global_recent_customers` atomically
    * (`cassandra_subscriber.py:121-163`). Here one foreachBatch body derives
    * both views from the same persisted micro-batch and writes them
    * concurrently, each to its own `batch=N` path: `recent_log` on the batch
    * thread, `latest_increment` on a thread started inside the body, so it
    * inherits the batch's job group and `query.stop()` cancels it too.
    *
    * The increment is the batch's LWW winners over `batch.coalesce(1)`: one
    * task per micro-batch, no shuffle, one file per batch. A micro-batch is
    * bound by fixed per-job cost, not by rows, so a shuffle's second stage
    * and its re-planning cost more than spreading the batch over tasks saves.
    *
    * The body joins the increment thread whether or not `recent_log` threw,
    * then rethrows the first failure (`recent_log`'s, else the increment's),
    * so the batch fails and Spark does not commit it. The pair is NOT
    * atomic: a crash or a failure in one write can leave batch N in one view
    * and missing from the other, and only Spark's replay of batch N makes
    * them agree. A cross-view commit marker (ROADMAP.md item 3) must publish
    * after the join, never before it. The deterministic per-batchId paths
    * make that replay idempotent — a replayed batch overwrites itself,
    * fixing the reference's at-least-once double-count, SURVEY.md §2 W3.
    * Increments compact on read via [[latestFromIncrements]] — the
    * append-plus-compact pattern a real deployment would hand to a table
    * format's MERGE. */
  def maintainViews(events: DataFrame, outDir: String, checkpointDir: String,
                    trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.persist()
        var incrementFailure: Throwable = null
        val increment = new Thread(() =>
          try Views.latestInfo(batch.coalesce(1)).write.mode("overwrite")
            .parquet(s"$outDir/latest_increment/batch=$batchId")
          catch { case t: Throwable => incrementFailure = t },
          s"maintainViews-increment-$batchId")
        increment.start()
        try batch.write.mode("overwrite").parquet(s"$outDir/recent_log/batch=$batchId")
        finally try increment.join() finally batch.unpersist()
        if (incrementFailure != null) throw incrementFailure
      }
      .start()

  /** Read-side compaction of [[maintainViews]] increments: LWW over the per-batch
    * LWW winners is the global LWW (the fold is associative). */
  def latestFromIncrements(spark: SparkSession, outDir: String): DataFrame =
    Ops.latestPerKey(spark.read.parquet(s"$outDir/latest_increment"),
      Seq("user_id"), Seq(col("ts"), col("event_id")))
      .drop("batch")

  /** CDC ingest: maintain a change log (insert/update/delete ops) from a
    * stream of change events. The streaming half of [[graft.operators.Ops.applyChanges]]
    * — the upsert-only reference table can't express deletes
    * (`cassandra_subscriber.py:124-144`); a real CDC feed must. Each
    * micro-batch pre-compacts WITHIN the batch to the per-key winning change —
    * crucially keeping winning DELETE rows as tombstones (filtering deletes
    * here would let an older batch's insert resurrect a deleted key at read
    * time) — and writes idempotently by batchId path, so replays overwrite
    * themselves (same exactly-once story as [[maintainViews]]). */
  def maintainChangeLog(changes: DataFrame, outDir: String, checkpointDir: String,
                        keys: Seq[String], orderCols: Seq[String],
                        trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Ops.latestPerKey(batch, keys, orderCols.map(col))
          .write.mode("overwrite")
          .parquet(s"$outDir/changes/batch=$batchId")
        ()
      }
      .start()

  /** Read-side final state of [[maintainChangeLog]]: apply-changes over the
    * per-batch winners — associative like the LWW fold (the latest change per
    * key across batches is the latest change per key overall), with tombstones
    * dropped only at this outermost fold. */
  def stateFromChangeLog(spark: SparkSession, outDir: String, keys: Seq[String],
                         orderCols: Seq[String], opCol: String = "op",
                         deleteOp: String = "D"): DataFrame =
    Ops.applyChanges(spark.read.parquet(s"$outDir/changes"),
        keys, orderCols.map(col), opCol, deleteOp)
      .drop("batch")

  // Staged source dirs and their schemas, keyed by original path — one staging
  // and one footer read per source file per JVM, shared by every streaming
  // query in a Verify/Bench run (harness cost, not operator cost).
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (String, org.apache.spark.sql.types.StructType)]()

  /** Run any streaming view over a bounded parquet path via the file source and a
    * named memory sink, synchronously; returns the settled result. This is how the
    * oracle-checked `w1_stream_hour_counts` query executes a REAL streaming query
    * inside the batch Verify harness. The stream's state-store count is the
    * session's `spark.sql.shuffle.partitions`, read once at its first batch. */
  def runToMemory(spark: SparkSession, path: String, sinkName: String,
                  view: DataFrame => DataFrame,
                  outputMode: String = "complete"): DataFrame = {
    // The file stream source lists a DIRECTORY; the testdata tables are single
    // parquet files, so stage the file into a temp dir once per JVM (tiny at
    // verify SF; a real deployment streams from a landing directory anyway).
    val (srcPath, schema) = stagedDirs.computeIfAbsent(path, { p =>
      val f = new java.io.File(p)
      val dir = if (f.isFile) {
        val tmp = java.nio.file.Files.createTempDirectory("graft_stream_src")
        java.nio.file.Files.copy(f.toPath, tmp.resolve(f.getName))
        tmp.toFile.deleteOnExit()
        tmp.toString
      } else p
      (dir, spark.read.parquet(dir).schema)
    })
    val src = spark.readStream.schema(schema).parquet(srcPath)
    val q = view(src).writeStream
      .outputMode(outputMode).format("memory").queryName(sinkName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName)
  }
}
