package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

/** Mixed `SparkEntry` queries from eight threads on ONE session: a result
  * must not depend on what else runs in the session, and no operator may
  * leave a session conf changed behind it. */
class ConcurrencySpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"
  // graph, streaming, gate and relational entries, each once: a streaming
  // entry's memory-sink name is fixed per entry
  private val entries = Seq("q_pagerank", "q_pagerank_weighted", "q_label_propagation",
    "w1_stream_hour_counts", "q_hash_sample_bounds",
    "q1_pricing_summary", "q5_region_revenue", "q3_join_topn")

  /** The result's rows, order-insensitive. */
  private def digest(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, d).collect().map(_.toString).sorted.toSeq

  test("eight mixed entries run from eight threads on one session equal their serial runs") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(spark.conf.get)
    val serial = entries.map(q => q -> digest(q)).toMap
    val pool = Executors.newFixedThreadPool(entries.size)
    val concurrent = try {
      val start = new CountDownLatch(1)
      val futures = entries.map(q => q -> pool.submit(new Callable[Seq[String]] {
        def call(): Seq[String] = { start.await(); digest(q) }
      }))
      start.countDown()
      futures.map { case (q, f) => q -> f.get(10, TimeUnit.MINUTES) }.toMap
    } finally pool.shutdownNow()
    for (q <- entries)
      assert(concurrent(q) === serial(q), s"$q differs when run concurrently")
    assert(keys.map(spark.conf.get) === before)
  }
}
