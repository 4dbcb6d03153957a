package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generalized operator library — one reusable function per SURVEY.md §2 pattern,
  * re-expressed Spark-first. Each doc comment cites the reference pattern it
  * generalizes (file:line under /root/reference).
  *
  * Scale notes are part of the contract: every operator here must survive a
  * 1000-executor / 100 TB deployment, which mostly means (a) declare, don't iterate —
  * all functions return lazy plans that Catalyst optimizes; (b) shuffle on the
  * right key, once; (c) broadcast the small side of every lookup join.
  */
object Ops {

  // ---------------------------------------------------------------- sampling

  /** Deterministic hash sampling: keep rows whose key hashes into the first
    * `rate` share of buckets. Unlike `df.sample` (seeded per-partition RNG —
    * resample changes with partitioning), this is a pure function of the key:
    * reproducible across runs, partitionings, and engines sharing the hash, and
    * consistent — a row is in the 10% sample iff it is in the 20% sample. The
    * sampling primitive a training-data pipeline needs for stable held-out
    * splits. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double,
                 buckets: Int = 1000000): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1], got $rate")
    df.filter(pmod(xxhash64(col(keyCol)), lit(buckets)) < (rate * buckets).toLong)
  }

  /** [[hashSample]] with per-stratum rates (the `sampleBy` analog): one pass,
    * rate looked up from a map literal by the stratum column. Strata absent
    * from `rates` are dropped (rate 0). */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
                           rates: Map[String, Double],
                           buckets: Int = 1000000): DataFrame = {
    val rateMap = map(rates.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), lit((v * buckets).toLong)) }: _*)
    df.filter(pmod(xxhash64(col(keyCol)), lit(buckets)) <
      coalesce(element_at(rateMap, col(stratumCol)), lit(0L)))
  }

  // ---------------------------------------------------------------- time buckets

  /** P8: hour bucket `'%Y%m%d%H'` — `cassandra_subscriber.py:86-88`. */
  def hourBucket(ts: Column): Column = date_format(ts, "yyyyMMddHH")

  /** P8: day bucket `'%Y%m%d'` — `cassandra_subscriber.py:90`. */
  def dayBucket(ts: Column): Column = date_format(ts, "yyyyMMdd")

  /** P8: 5-minute floor bucket `(minute // 5) * 5` then `'%Y%m%d%H%M'` —
    * `cassandra_subscriber.py:92-94`. String form so it is oracle-comparable;
    * semantically identical to `window(ts, "5 minutes")`.
    */
  def min5Bucket(ts: Column): Column =
    concat(date_format(ts, "yyyyMMddHH"),
      lpad((floor(minute(ts) / 5) * 5).cast("string"), 2, "0"))

  /** P9: string bucket-key composition `'hourly:' + bucket` —
    * `cassandra_subscriber.py:96-98`, `realtime_api.py:243-255`. */
  def bucketKey(granularity: String, bucket: Column): Column =
    concat(lit(granularity), lit(":"), bucket)

  // ---------------------------------------------------------------- dedup / recency

  /** A4: last-write-wins per key (the reference's Cassandra upsert into
    * `customer_latest_info`, `cassandra_subscriber.py:124-144` + PK `README.md:217`).
    * Keeps exactly one row per key: the one with the greatest `ordCols`,
    * compared lexicographically as a struct (pass e.g. (ts, event_id) — the
    * unique tie-break makes the result deterministic under replay/reorder,
    * mirroring the reference's clustering-key tie-break, `README.md:281-282`).
    * A null field sorts below every real value, so a real `ts` beats a null.
    *
    * Scale: a hash-aggregatable argmax ([[graft.functions.ArgMaxAgg]]) —
    * partial aggregation reduces every hot key map-side before the one keyed
    * shuffle, and ObjectHashAggregate needs no sort anywhere. NOT `max_by`:
    * its struct buffer is not hash-aggregate-mutable, so Catalyst lowers it
    * to SortAggregate, a full per-partition sort by the grouping key. */
  def latestPerKey(df: DataFrame, keys: Seq[String], ordCols: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(graft.functions.ArgMaxAgg.argMax(struct(ordCols: _*), payload).as("__p"))
      .select(col("__p.*"))
  }

  /** Gap-based batch sessionization: number each key's events into sessions —
    * a new session starts when the gap since the key's previous event exceeds
    * `gapSeconds`. The batch twin of the streaming sessionizer
    * ([[graft.streaming.StreamingViews]]'s session windows): one window pass
    * (lag to detect boundaries + running sum to number them), fully
    * deterministic via the (ts, tieBreak) ordering.
    *
    * Scale: one shuffle on `keys`, then a per-key partition sort — the key's
    * history is the irreducible unit of work for any batch sessionizer. A key
    * too hot to sort on one task belongs to the streaming sessionizer
    * (bounded state, watermark eviction) instead. */
  def sessionize(events: DataFrame, keys: Seq[String], tsCol: String,
                 tieBreak: String, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"session gap must be positive, got $gapSeconds")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tieBreak))
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
          unix_micros(col(tsCol).cast("timestamp")) -
            unix_micros(col("__prev").cast("timestamp")) > gapSeconds * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_seq", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new")
  }

  /** Skew-safe two-level sessionization — identical output to [[sessionize]],
    * but no single task ever sorts a whole hot key's history. Level 1
    * partitions each key's events into coarse time ranges of `rangeSeconds`
    * and sessionizes WITHIN each (key, range) — the per-task sort is bounded
    * by the key's event rate × `rangeSeconds`, however hot the key. Level 2
    * merges boundary sessions: per (key, range) only three numbers survive
    * (local session count, first/last event time), a per-key window over this
    * range-count-sized summary decides which range-boundary sessions chain
    * (gap <= `gapSeconds`) and computes each range's global numbering offset,
    * and the offsets join back on the SAME (key, range) key the events are
    * already partitioned on (dim-sized side — AQE broadcasts it).
    *
    * Requires `rangeSeconds >= gapSeconds`: then two events in NON-adjacent
    * ranges are separated by a full empty range (> gapSeconds), so only
    * adjacent-range sessions can ever merge and the lag-based boundary test is
    * exhaustive. The offset algebra: a range's sessions start numbering at
    * (sum of prior ranges' local counts) − (number of merges up to and
    * including this range) + local_seq — each merge collapses a range's first
    * local session into the previous range's last, shifting everything after
    * it down by one. OpsSpec asserts equality with the one-level form on a
    * fixture whose keys span many ranges; ScaleSmoke runs the 2M-event hot key
    * through both. */
  def sessionizeSkewSafe(events: DataFrame, keys: Seq[String], tsCol: String,
                         tieBreak: String, gapSeconds: Long,
                         rangeSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"session gap must be positive, got $gapSeconds")
    require(rangeSeconds >= gapSeconds,
      s"rangeSeconds ($rangeSeconds) must be >= gapSeconds ($gapSeconds) so only adjacent ranges merge")
    val tsUs = unix_micros(col(tsCol).cast("timestamp"))
    val ranged = events.withColumn("__range", floor(tsUs / (rangeSeconds * 1000000L)))
    val kr = keys :+ "__range"
    // level 1: bounded per-(key, range) sort + local session numbering
    val w = Window.partitionBy(kr.map(col): _*).orderBy(col(tsCol), col(tieBreak))
    val local = ranged
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
          unix_micros(col(tsCol).cast("timestamp")) -
            unix_micros(col("__prev").cast("timestamp")) > gapSeconds * 1000000L,
          1L).otherwise(0L))
      .withColumn("__local_seq", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new")
    // level 2: one summary row per (key, range) — the only thing that crosses
    // the per-key merge window, never the events themselves
    val bounds = local.groupBy(kr.map(col): _*)
      .agg(max(col("__local_seq")).as("__n_local"),
        min(tsUs).as("__first_us"), max(tsUs).as("__last_us"))
    val wk = Window.partitionBy(keys.map(col): _*).orderBy(col("__range"))
    val offsets = bounds
      .withColumn("__merge", when(
          col("__first_us") - lag(col("__last_us"), 1).over(wk) <= gapSeconds * 1000000L,
          1L).otherwise(0L)) // null lag (first range) -> otherwise-branch 0
      .withColumn("__offset",
        coalesce(sum(col("__n_local")).over(
          wk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) -
        sum(col("__merge")).over(
          wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select((kr.map(col) :+ col("__offset")).toIndexedSeq: _*)
    local.join(offsets, kr, "inner")
      .withColumn("session_seq", col("__offset") + col("__local_seq"))
      .drop("__range", "__local_seq", "__offset")
  }

  /** Approximate heavy hitters via mergeable Misra-Gries summaries (Misra &
    * Gries 1982; merge bound per Agarwal et al. 2012, "Mergeable Summaries"):
    * each partition keeps at most `capacity` counters — an incoming item
    * either increments its counter, claims a free slot, or decrements ALL
    * counters by one (dropping zeros) — then partials merge by per-item sum.
    * Estimates UNDERCOUNT by at most n/(capacity+1) total, so every item with
    * true frequency above that bound is guaranteed to survive; with
    * `capacity` >= the column's distinct count no decrement ever fires and the
    * counts are EXACT (the hash-oracled regime of `q_heavy_hitters`).
    *
    * Scale: the one genuinely per-partition-imperative operator in the library
    * (a bounded mutable map per task — `mapPartitions` is the right tool, cf.
    * Multimodal's decoder); the shuffle carries at most capacity rows per
    * partition, never the raw column. The exact `groupBy(col).count()` twin
    * shuffles one row per DISTINCT value — prefer it unless the domain is
    * unbounded (URLs, user agents, raw tokens), which is exactly where a
    * capacity-bounded sketch is the only thing that survives 100 TB. */
  def approxHeavyHitters(df: DataFrame, valueCol: String, k: Int,
                         capacity: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(k >= 1 && capacity >= k, s"need capacity >= k >= 1, got k=$k capacity=$capacity")
    val partials = df.select(col(valueCol).cast("string").as("v")).as[String]
      .mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { v =>
          if (counts.contains(v) || counts.size < capacity) {
            counts.update(v, counts.getOrElse(v, 0L) + 1L)
          } else {
            // decrement-all: O(capacity), amortized O(1) per input item
            counts.keys.toArray.foreach { key =>
              val c = counts(key)
              if (c == 1L) counts.remove(key) else counts.update(key, c - 1L)
            }
          }
        }
        counts.iterator
      }.toDF("item", "est_count")
    partials.groupBy("item")
      .agg(sum(col("est_count")).as("est_count"))
      .orderBy(col("est_count").desc, col("item").asc)
      .limit(k)
  }

  /** Skew-safe equi-JOIN (the join twin of [[saltedSumCount]]): the big side
    * salts each row into one of `salts` buckets by a high-cardinality column
    * (`saltSource` — e.g. the event id, NOT the join key), the dim side
    * replicates once per salt, and the join runs on (key, salt) — a hot key's
    * rows spread across `salts` tasks instead of one. Output is EXACTLY the
    * plain inner join (salting touches only the physical key). Use when the
    * dim side is too large to broadcast but the fact side has hot keys;
    * replication costs |dim|·salts rows, so size `salts` to the skew, not
    * to the cluster. */
  def saltedJoin(big: DataFrame, dim: DataFrame, key: String, salts: Int,
                 saltSource: Column): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val salted = big.withColumn("__salt", pmod(xxhash64(saltSource), lit(salts.toLong)))
    val replicated = dim.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Per-GROUP Misra-Gries heavy hitters: top `k` items within each group key
    * — "the dominant domains per language", "the hot users per event type".
    * Same mergeable-sketch contract as [[approxHeavyHitters]] (never
    * overcounts; per-group undercount ≤ n_g/(capacity+1)); exact when a
    * group's distinct items fit `capacity`.
    *
    * Scale shape: each task keeps ONE `capacity`-bounded sketch per group it
    * sees — intended for low-cardinality group keys (languages, domains,
    * event types), where per-task memory is |groups|·capacity entries. The
    * exchange carries only sketch rows (≤ partitions·|groups|·capacity), the
    * merge is a plain (group, item) sum, and the per-group top-k runs on the
    * |groups|·capacity-row merged table — the raw stream never shuffles. */
  def approxHeavyHittersByKey(df: DataFrame, keyCol: String, valueCol: String,
                              k: Int, capacity: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(k >= 1 && capacity >= k, s"need capacity >= k >= 1, got k=$k capacity=$capacity")
    val partials = df
      .select(col(keyCol).cast("string").as("g"), col(valueCol).cast("string").as("v"))
      .as[(String, String)]
      .mapPartitions { it =>
        val sketches = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.HashMap[String, Long]]
        it.foreach { case (g, v) =>
          val counts = sketches.getOrElseUpdate(g,
            scala.collection.mutable.HashMap.empty[String, Long])
          if (counts.contains(v) || counts.size < capacity) {
            counts.update(v, counts.getOrElse(v, 0L) + 1L)
          } else {
            counts.keys.toArray.foreach { key =>
              val c = counts(key)
              if (c == 1L) counts.remove(key) else counts.update(key, c - 1L)
            }
          }
        }
        sketches.iterator.flatMap { case (g, counts) =>
          counts.iterator.map { case (v, c) => (g, v, c) }
        }
      }.toDF("g", "item", "est_count")
    val merged = partials.groupBy("g", "item")
      .agg(sum(col("est_count")).as("est_count"))
    merged
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("est_count").desc, col("item"))))
      .filter(col("rn") <= k).drop("rn")
      .withColumnRenamed("g", keyCol)
  }

  /** CDC merge (`MERGE INTO` / `APPLY CHANGES` semantics): collapse a change
    * log of upserts and deletes into final table state. Generalizes the
    * reference's upsert-only LWW table (`customer_latest_info`,
    * `cassandra_subscriber.py:124-144` — Cassandra upserts can't delete a key
    * through the same path; real CDC feeds carry deletes) to the full
    * insert/update/delete contract a lakehouse merge needs: per key the
    * LATEST change by `ordCols` wins, and when that winner is a delete the key
    * vanishes from the output.
    *
    * Scale: the shuffle shape of [[latestPerKey]] — ONE keyed argmax
    * exchange, then a map-side delete filter; the delete filter runs after
    * the argmax so a delete followed by a re-insert (by `ordCols`) correctly
    * resurrects the key.
    */
  def applyChanges(changes: DataFrame, keys: Seq[String], ordCols: Seq[Column],
                   opCol: String = "op", deleteOp: String = "D"): DataFrame =
    latestPerKey(changes, keys, ordCols)
      .filter(col(opCol) =!= deleteOp)
      .drop(opCol)

  /** T1: global top-N with full tie-break — the `global_recent_customers` read
    * (`realtime_api.py:143-149`, clustering order `README.md:281-282`).
    *
    * Scale: Catalyst plans this as TakeOrderedAndProject — per-partition heap top-N
    * then a single driver merge of N×partitions rows. No global sort, no hot
    * partition (the reference's `fixed_partition_key='all_customers'` single-partition
    * design, `README.md:117`, does not survive scale; this does).
    */
  def topN(df: DataFrame, n: Int, order: Seq[Column]): DataFrame =
    df.orderBy(order: _*).limit(n)

  /** T2 (generalized all-groups form): top-N per group — the
    * `latest_product_category_trends` read (`realtime_api.py:282-288`,
    * clustering `README.md:269-270`) without the single-category filter.
    *
    * Scale: one shuffle on `partCols`; rank-filter prunes to N per group before
    * anything downstream. Skewed groups: AQE skew-join/shuffle handling applies.
    */
  def topNPerGroup(df: DataFrame, partCols: Seq[String], order: Seq[Column], n: Int,
                   rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= n)
  }

  // ---------------------------------------------------------------- joins

  /** J1: broadcast lookup join with miss-default — the `GEOGRAPHY_MAP` enrich
    * (`cassandra_subscriber.py:53, 81-84, 118`; miss → "Unknown" at `:84`).
    *
    * @param defaults columns (from the dim side) to default on join miss:
    *                 name → default value.
    * Scale: `broadcast(dim)` pins a BroadcastHashJoin — no shuffle of the fact side,
    * the single most important join decision at 100 TB.
    */
  def enrichLookup(fact: DataFrame, dim: DataFrame, joinCols: Seq[String],
                   defaults: Map[String, Column]): DataFrame = {
    val joined = fact.join(broadcast(dim), joinCols, "left")
    defaults.foldLeft(joined) { case (d, (c, dflt)) =>
      d.withColumn(c, coalesce(col(c), dflt))
    }
  }

  /** As-of join (extension beyond the reference surface; SURVEY.md §2.9 lists it as
    * absent there): for each left row, attach the latest right row with
    * `rightTs <= leftTs` within the same `key`.
    *
    * Implemented as union + last(ignoreNulls) over a single window — one shuffle on
    * `key`, NO range/cross join, no per-row subquery. This is the scalable shape: a
    * naive `left JOIN right ON key AND rts <= lts` + argmax explodes quadratically in
    * events-per-key, while this is O(n log n) per key.
    *
    * Ties: a right row at exactly `leftTs` is eligible (<=); among equal timestamps
    * the greatest `rightTieBreak` wins — fully deterministic.
    *
    * @param rightPayload (name → column of `right`) values to carry to the left rows.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: Seq[String],
               leftTs: String, rightTs: String,
               leftTieBreak: Column, rightTieBreak: Column,
               rightPayload: Map[String, Column]): DataFrame = {
    val payloadNames = rightPayload.keys.toSeq.sorted
    // Payloads ride in ONE struct so the fill is ROW-wise: the matched right
    // row contributes ALL its payload values, nulls included. Filling each
    // payload column independently with last(ignoreNulls) would mix values
    // from different right rows whenever the newest row holds a null.
    val bundleType = right.select(
      struct(payloadNames.map(n => rightPayload(n).as(n)): _*)).schema.head.dataType
    val lSide = left.withColumn("__ts", col(leftTs))
      .withColumn("__is_l", lit(1))
      .withColumn("__tie", leftTieBreak)
      .withColumn("__p", lit(null).cast(bundleType))
    val rSide = right.select(
      key.map(col) ++ Seq(col(rightTs).as("__ts"), lit(0).as("__is_l"),
        rightTieBreak.as("__tie"),
        struct(payloadNames.map(n => rightPayload(n).as(n)): _*).as("__p")): _*)
    // right rows sort before left rows at equal ts (__is_l 0 < 1) so "<=" holds.
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("__ts").asc, col("__is_l").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lSide.unionByName(rSide, allowMissingColumns = true)
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__is_l") === 1)
      .select(left.columns.toSeq.map(col) ++
        payloadNames.map(n => col("__p").getField(n).as(n)): _*)
  }

  /** [[asofJoin]] with a match-freshness bound (pandas `merge_asof`'s
    * `tolerance`): payloads null out when the matched right row is more than
    * `tolerance` older than the left timestamp. Same single-shuffle window
    * plan — the matched right timestamp rides along as one extra carried
    * column and the bound is a post-window projection, not a second join. */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, key: Seq[String],
                        leftTs: String, rightTs: String,
                        leftTieBreak: Column, rightTieBreak: Column,
                        rightPayload: Map[String, Column],
                        tolerance: Column): DataFrame = {
    val joined = asofJoin(left, right, key, leftTs, rightTs,
      leftTieBreak, rightTieBreak,
      rightPayload + ("__match_ts" -> col(rightTs)))
    val fresh = col("__match_ts").isNotNull &&
      col(leftTs) <= col("__match_ts") + tolerance
    rightPayload.keys.foldLeft(joined) { (d, n) =>
      d.withColumn(n, when(fresh, col(n)))
    }.drop("__match_ts")
  }

  /** Banded range join: pairs within the same `key` with
    * `0 < ts(b) - ts(a) <= band`. The equi-key keeps it a hash join (shuffle on key),
    * the band predicate is applied post-match — no cartesian product.
    * Per-key pair cost is O(events-per-key²); when single keys are hot, use
    * [[rangeSelfJoinBucketed]].
    */
  def rangeSelfJoin(df: DataFrame, key: Seq[String], tsCol: String, idCol: String,
                    band: Column): DataFrame = {
    val a = df.select((key ++ Seq(tsCol, idCol)).map(col): _*).alias("a")
    val b = df.select((key ++ Seq(tsCol, idCol)).map(col): _*).alias("b")
    val keyCond = key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    a.join(b, keyCond &&
        col(s"b.$tsCol") > col(s"a.$tsCol") &&
        col(s"b.$tsCol") <= col(s"a.$tsCol") + band)
      .select(key.map(k => col(s"a.$k").as(k)) ++
        Seq(col(s"a.$idCol").as(s"a_$idCol"), col(s"b.$idCol").as(s"b_$idCol")): _*)
  }

  /** [[rangeSelfJoin]], 100 TB form: adds a coarse time-bucket to the equi-key so a
    * hot key's rows are split across buckets — the join compares each left row only
    * against right rows in ITS bucket and the NEXT one (a right match is at most
    * `bandSeconds` later, so it lives in one of those two), never the whole key
    * history. Bucket width = band width ⇒ per-task work is O(rows-per-bucket²),
    * bounded by the event rate, not the retention window.
    * Exactly equal to [[rangeSelfJoin]] output (property-tested). */
  def rangeSelfJoinBucketed(df: DataFrame, key: Seq[String], tsCol: String,
                            idCol: String, bandSeconds: Long): DataFrame = {
    val base = df.select((key ++ Seq(tsCol, idCol)).map(col): _*)
    val bucket = floor(unix_micros(col(tsCol).cast("timestamp")) / (bandSeconds * 1000000L))
    val left = base.withColumn("__bucket", bucket)
    // right side appears under its own bucket AND the previous one, so every
    // (left.bucket == right-entry.bucket) match covers left.ts..left.ts+band
    val right = base.withColumn("__b0", bucket)
      .withColumn("__bucket", explode(array(col("__b0"), col("__b0") - 1)))
      .drop("__b0")
    val a = left.alias("a")
    val b = right.alias("b")
    val keyCond = (key :+ "__bucket").map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    a.join(b, keyCond &&
        col(s"b.$tsCol") > col(s"a.$tsCol") &&
        col(s"b.$tsCol") <= col(s"a.$tsCol") + expr(s"INTERVAL $bandSeconds SECONDS"))
      .select(key.map(k => col(s"a.$k").as(k)) ++
        Seq(col(s"a.$idCol").as(s"a_$idCol"), col(s"b.$idCol").as(s"b_$idCol")): _*)
  }

  // ---------------------------------------------------------------- aggregation

  /** Explicit two-stage distinct count: dedup on (key, value) — partial
    * aggregation collapses duplicates map-side — then count per key.
    *
    * Honest scope: for a SINGLE distinct aggregate Spark already plans this
    * rewrite internally (Expand + two aggregates), so the built-in is fine
    * there (ScaleSmoke confirms). The explicit form matters when a query mixes
    * SEVERAL distinct columns — the built-in's Expand then replicates the
    * input once per distinct group, while chaining this per column keeps each
    * pass linear. Same result as `countDistinct` (oracle-checked in
    * `q_distinct_agg_skewsafe`). */
  def distinctCountSkewSafe(df: DataFrame, key: String, value: String,
                            as: String = "distinct_cnt"): DataFrame =
    df.select(key, value).distinct()
      .groupBy(key).agg(count(lit(1)).as(as))

  /** Two-stage SALTED aggregation for skewed group keys: stage 1 aggregates on
    * (key, salt) — a hot key's rows spread over `salts` reducers — stage 2
    * combines the per-salt partials. The salt is a deterministic hash of
    * `saltCol` (never `rand()`: results must be stable under retries/replays).
    *
    * Honest scope: for plain sum/count Spark's map-side partial aggregation
    * already bounds per-reducer work, so the built-in `groupBy` is fine there.
    * Salting is the tool when per-key REDUCE state is the hot spot — huge
    * collect_set/distinct state, or a key so hot its single final-agg task
    * dominates the stage. Same result as the direct form (oracle-checked in
    * `q_salted_agg`; property-tested against the unsalted plan). */
  def saltedSumCount(df: DataFrame, key: Seq[String], valueCol: Column,
                     saltCol: Column, salts: Int = 16,
                     sumAs: String = "sum_v", cntAs: String = "cnt"): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltCol), lit(salts)))
      .groupBy((key.map(col) :+ col("__salt")): _*)
      .agg(sum(valueCol).as("__ps"), count(lit(1)).as("__pc"))
      .groupBy(key.map(col): _*)
      .agg(sum(col("__ps")).as(sumAs), sum(col("__pc")).as(cntAs))

  /** A2: multi-granularity tumbling-window counts — the reference's three counter
    * `+1`s per product event (`cassandra_subscriber.py:210-218`, buckets `:86-99`),
    * generalized.
    *
    * Scale, two-level rollup: the CORPUS pass aggregates once on the 5-minute
    * floor as plain integer arithmetic (`unix_micros` modulo — codegen-friendly,
    * no per-row formatter); hourly and daily are exact rollups of that
    * (tiny — minutes-in-range) result, so the explode and all `date_format`
    * string building run over thousands of post-aggregation rows, never the
    * event stream. Replaced the explode-first form, which ran three
    * `date_format`s per EVENT and tripled the rows entering aggregation —
    * measured 36 s → ~1.3 s at 10M events (ScaleSmoke). Identical output: every
    * ts in a 5-minute window floors to one `t5`, and hour/day buckets are
    * unions of 5-minute buckets. */
  def bucketCounts(events: DataFrame, ts: String): DataFrame = {
    val t = col(ts).cast("timestamp") // ntz-safe: sessions pin UTC, as the oracles do
    val m5 = events
      .select((unix_micros(t) - pmod(unix_micros(t), lit(300000000L))).as("t5u"))
      .groupBy("t5u").agg(count(lit(1)).as("cnt"))
      .select(timestamp_micros(col("t5u")).as("t5"), col("cnt"))
    m5.select(explode(array(
        struct(lit("5min").as("granularity"), bucketKey("5min", min5Bucket(col("t5"))).as("time_bucket")),
        struct(lit("hourly").as("granularity"), bucketKey("hourly", hourBucket(col("t5"))).as("time_bucket")),
        struct(lit("daily").as("granularity"), bucketKey("daily", dayBucket(col("t5"))).as("time_bucket"))
      )).as("g"), col("cnt"))
      .select(col("g.granularity").as("granularity"),
        col("g.time_bucket").as("time_bucket"), col("cnt"))
      .groupBy("granularity", "time_bucket")
      .agg(sum(col("cnt")).as("cnt"))
  }
}
