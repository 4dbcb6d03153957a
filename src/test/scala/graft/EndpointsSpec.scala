package graft

import java.time.Instant
import graft.operators.Endpoints
import graft.streaming.QueueIngest

class EndpointsSpec extends SparkSpec {
  import spark.implicits._

  private def events = Seq(
    TestEvent(1, 10, "signup",   ts("2024-01-01 10:15:00"), 1.0, """{"k": 7}"""),
    TestEvent(2, 10, "purchase", ts("2024-01-01 10:45:00"), 9.0, """{"k": 7}"""),
    TestEvent(3, 20, "signup",   ts("2024-01-01 11:05:00"), 2.0, """{"k": 8}"""),
    TestEvent(4, 20, "signup",   ts("2024-01-02 09:00:00"), 3.0, """{"k": 9}"""),
    TestEvent(5, 30, "signup",   ts("2024-01-01 10:59:00"), 4.0, """{"k": 9}"""),
    TestEvent(6, 40, "signup",   ts("2024-01-01 10:01:00"), 5.0, """{"k": 9}""")
  ).toDF()

  test("customerLatest: point read of the LWW view") {
    val r = rowSet(Endpoints.customerLatest(events, 10).select("event_id"))
    assert(r === Set(Seq(2L)))
    assert(Endpoints.customerLatest(events, 99).count() === 0)
  }

  test("globalRecent: default limit and P11 validation") {
    assert(rowList(Endpoints.globalRecent(events, 2).select("event_id")).flatten
      === Seq(4L, 3L))
    val e = intercept[IllegalArgumentException](Endpoints.globalRecent(events, 0))
    assert(e.getMessage.contains("limit"))
  }

  test("geoDistributionHourly: per-city rows plus total, bucket validated") {
    // reference payload parity (realtime_api.py:210-225): one row per city of
    // the (hour, country) partition, each carrying the partition total
    val r = Endpoints.geoDistributionHourly(events, "2024010110", "signup")
      .select("city", "new_customers_count", "total_in_hour_for_country")
    assert(rowSet(r) === Set(Seq(7L, 1L, 3L), Seq(9L, 2L, 3L)))
    // empty partition → no city rows (reference emits an empty distribution list)
    assert(Endpoints.geoDistributionHourly(events, "1999010100", "signup").count() === 0)
    intercept[IllegalArgumentException](
      Endpoints.geoDistributionHourly(events, "not-a-bucket", "signup"))
  }

  test("geoDistributionHourly reads props as decoded STRUCT<k> the same as JSON text") {
    val decoded = QueueIngest.decodeFrames(QueueIngest.encodeFrames(events))
    val fromText = Endpoints.geoDistributionHourly(events, "2024010110", "signup")
    val fromFrames = Endpoints.geoDistributionHourly(decoded, "2024010110", "signup")
    assert(rowSet(fromText).nonEmpty)
    assert(rowSet(fromFrames) === rowSet(fromText))
  }

  test("newProductsCount: parameterized clock selects the bucket; bad period rejected") {
    val now = Instant.parse("2024-01-01T10:17:00Z")
    assert(Endpoints.newProductsCount(events, "hourly", now).head().getLong(0) === 4L)
    assert(Endpoints.newProductsCount(events, "daily", now).head().getLong(0) === 5L)
    assert(Endpoints.newProductsCount(events, "5min", now).head().getLong(0) === 1L)
    intercept[IllegalArgumentException](
      Endpoints.newProductsCount(events, "weekly", now))
  }

  test("bucketFor floors 5min buckets and formats UTC") {
    val now = Instant.parse("2024-01-01T10:17:59Z")
    assert(Endpoints.bucketFor("5min", now) === "202401011015")
    assert(Endpoints.bucketFor("hourly", now) === "2024010110")
    assert(Endpoints.bucketFor("daily", now) === "20240101")
  }

  test("categoryTrends: per-group recency read") {
    val r = rowList(Endpoints.categoryTrends(events, "signup", 2).select("event_id"))
    assert(r.flatten === Seq(4L, 3L))
  }
}
