package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's five hand-maintained Cassandra materialized views
  * (`/root/reference/README.md:216-289`, write path `cassandra_subscriber.py:102-233`)
  * as pure batch DataFrame transforms over an event table. The streaming forms live in
  * [[graft.streaming.StreamingViews]]; stream ≡ batch parity is the contract the
  * reference keeps implicitly between its subscriber and its API.
  *
  * Column-name conventions follow the testdata role mapping (FIXTURES.md §B):
  * `user_id` plays `customer_alternate_key`, `ts` plays the AMQP event time,
  * `event_type` plays the `type` discriminator.
  */
object Views {

  /** `customer_latest_info` (`README.md:216-248`): last-write-wins latest row per key.
    * The Cassandra upsert keeps the latest write; we keep the latest EVENT TIME with a
    * deterministic id tie-break (the upsert's wall-clock race, made reproducible). */
  def latestInfo(events: DataFrame, key: String = "user_id"): DataFrame =
    Ops.latestPerKey(events, Seq(key), Seq(col("ts"), col("event_id")))

  /** `global_recent_customers` (`README.md:272-282`): global recency log. The
    * reference pins one hot partition (`fixed_partition_key='all_customers'`,
    * `cassandra_subscriber.py:152`) to buy a presorted read — an anti-pattern at
    * scale (`README.md:117`). We keep it a plain table; the top-N READ is what's
    * O(small) via TakeOrderedAndProject (see [[recentTopN]]). */
  def recentLog(events: DataFrame): DataFrame =
    events.select("event_id", "user_id", "event_type", "ts", "value")

  /** Read side of the recency log: `GET /customers/global_recent?limit=N`
    * (`realtime_api.py:129-184`), tie-break per clustering key `README.md:281-282`. */
  def recentTopN(events: DataFrame, n: Int): DataFrame =
    Ops.topN(recentLog(events), n, Seq(col("ts").desc, col("event_id").asc))

  /** `new_customer_geo_counts_by_hour` (`README.md:250-256`): tumbling 1-hour counts
    * by (hour bucket, group) — counter `+1` per event at
    * `cassandra_subscriber.py:169-176`. The reference groups by (country, city); over
    * the testdata the grouping column is `event_type`. */
  def hourCounts(events: DataFrame, groupCol: String = "event_type"): DataFrame =
    events.groupBy(Ops.hourBucket(col("ts")).as("hour_bucket"), col(groupCol))
      .agg(count(lit(1)).as("cnt"))

  /** [[hourCounts]] with the reference's FULL geo key: the counter table is
    * `new_customer_geo_counts_by_hour (hour_bucket, country_region_name, city)`
    * (`cassandra_subscriber.py:169-176`). Over the testdata role mapping,
    * `event_type` plays country and `props.$.k` plays city. One grouped count —
    * the per-city resolution the geo endpoint returns (`realtime_api.py:210-217`).
    * `props` is JSON text in the events table and `STRUCT<k>` after
    * [[graft.streaming.QueueIngest.decodeFrames]]; both read the same `k`. */
  def geoCounts(events: DataFrame, countryCol: String = "event_type"): DataFrame = {
    val city = events.schema("props").dataType match {
      case _: StructType => col("props.k")
      case _ => get_json_object(col("props"), "$.k")
    }
    events.groupBy(
        Ops.hourBucket(col("ts")).as("hour_bucket"),
        col(countryCol).as("country"),
        city.cast("long").as("city"))
      .agg(count(lit(1)).as("new_customers_count"))
  }

  /** `new_products_total_count_by_time` (`README.md:258-261`): multi-granularity
    * prefixed bucket counters (`cassandra_subscriber.py:208-221`). */
  def multiGranularityCounts(events: DataFrame): DataFrame =
    Ops.bucketCounts(events, "ts")

  /** `latest_product_category_trends` (`README.md:263-270`): per-group recency log;
    * read = top-10 most recent within a group (`realtime_api.py:282-288`). */
  def trendsTopNPerGroup(events: DataFrame, n: Int = 10): DataFrame =
    Ops.topNPerGroup(
      events.select("event_id", "user_id", "event_type", "ts"),
      Seq("event_type"), Seq(col("ts").desc, col("event_id").asc), n)

  /** Read-time SUM over grouped counter rows (A3, `realtime_api.py:218`): total per
    * hour across the per-(hour, group) counts. Two-level aggregation — the second
    * level reuses the first's shuffle output. */
  def hourTotals(events: DataFrame): DataFrame =
    hourCounts(events).groupBy("hour_bucket").agg(sum(col("cnt")).as("total"))

  /** Counter point-read with null-default (S6 + P12, `realtime_api.py:257-260`):
    * the count for one (granularity, bucket) key, 0 when the bucket has no rows. */
  def counterLookup(events: DataFrame, granularity: String, bucket: String): DataFrame =
    multiGranularityCounts(events)
      .filter(col("granularity") === granularity && col("time_bucket") === bucket)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("cnt"))
}
