package graft

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Endpoints, Similarity}
import graft.sources.Tables

/** Switching guide as runnable code: every REST question the reference answers
  * (`realtime_api.py:82-322`), asked through this library, plus the
  * training-pipeline layer — what a user of the reference runs on day one
  * after switching. `sbt "runMain graft.Demo [sf-dir]"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.sources.Sessions.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val events = Tables.events(spark, d)

    println("== GET /customers/latest_info/11  (LWW latest profile)")
    Endpoints.customerLatest(events, 11).show(3, truncate = false)

    println("== GET /customers/global_recent?limit=5")
    Endpoints.globalRecent(events, 5).show(truncate = false)

    println("== GET /analytics/geo_distribution_hourly_by_country  (per-city rows + total)")
    Endpoints.geoDistributionHourly(events, "2024010712", "purchase").show(truncate = false)

    println("== GET /products/new_count?period=hourly  (explicit clock)")
    Endpoints.newProductsCount(events, "hourly",
      Instant.parse("2024-01-01T10:30:00Z")).show()

    println("== GET /products/category_trends/view  (top-5)")
    Endpoints.categoryTrends(events, "view", 5).show(truncate = false)

    println("== Training-data layer: curated corpus (lang=en, quality-gated, deduped)")
    Curation.curateCorpus(Tables.documents(spark, d)).orderBy("doc_id").show(5)

    println("== Training-data layer: ANN top-3 neighbors of vec 0 (trained IVF)")
    Similarity.ivfTopK(Tables.embeddings(spark, d),
      Tables.embeddings(spark, d).filter(col("vec_id") === 0), 3,
      nlist = 8, nprobe = 5).show()

    println("== Ad-hoc SQL over the registered views")
    graft.sources.Lake.registerAll(spark, d)
    spark.sql("""SELECT event_type, count(*) AS n FROM events
                 GROUP BY event_type ORDER BY n DESC""").show()

    // The reference's full ingest-to-read lifecycle in one artifact
    // (`cassandra_subscriber.py:102-233` -> `realtime_api.py:82-322`): file
    // stream -> foreachBatch view maintenance (both views written per
    // micro-batch, concurrently and not atomically; a replay makes them
    // agree, see `StreamingViews.maintainViews`) -> endpoint read over the
    // compacted view, asserted equal to the batch-computed view.
    println("== Streaming lifecycle: file stream -> maintainViews -> endpoint read")
    val tmp = java.nio.file.Files.createTempDirectory("graft_demo_stream")
    val diff = try {
      val srcDir = java.nio.file.Files.createDirectories(tmp.resolve("src"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$d/events.parquet"), srcDir.resolve("events.parquet"))
      val schema = spark.read.parquet(srcDir.toString).schema
      val src = Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(srcDir.toString))
      val q = graft.streaming.StreamingViews.maintainViews(src,
        s"$tmp/out", s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      try q.processAllAvailable() finally q.stop()
      val streamed = graft.streaming.StreamingViews.latestFromIncrements(spark, s"$tmp/out")
      val batch = graft.operators.Views.latestInfo(events)
      // full-row comparison over the columns both forms carry — the demo is the
      // first artifact a user runs, so divergence must FAIL the process (exit 1),
      // not print and scroll by
      val common = streamed.columns.toSeq.intersect(batch.columns.toSeq).sorted
      val sRows = streamed.select(common.map(col): _*)
      val bRows = batch.select(common.map(col): _*)
      val diff = sRows.exceptAll(bRows).count() + bRows.exceptAll(sRows).count()
      if (diff != 0) {
        System.err.println(
          s"DEMO FAILED: streamed view diverged from batch-computed view " +
          s"($diff differing rows over columns ${common.mkString(", ")})")
      } else {
        println(s"maintained latest-profile view: ${streamed.count()} rows " +
          s"== batch-computed view (diff=0); endpoint point-read over the maintained view:")
        // the endpoint's point read against the ALREADY-MAINTAINED view is a bare
        // key filter — the serving shape the reference's API does per request
        streamed.filter(col("user_id") === 11).show(3, truncate = false)
      }
      diff
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)

    spark.stop()
    if (diff != 0) System.exit(1)
  }
}
