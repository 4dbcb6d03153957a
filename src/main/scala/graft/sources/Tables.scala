package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness test tables (TESTDATA.md / FIXTURES.md §B).
  *
  * The reference declares its schemas as CQL DDL (`/root/reference/README.md:216-289`);
  * our parquet inputs are self-describing, so loaders stay thin. The one normalization
  * that matters for oracle parity is timestamp precision: `events.ts` is ns-precision
  * parquet, which Spark reads at µs precision — every DuckDB oracle casts the same way
  * (`CAST(ts AS TIMESTAMP)`), see SparkEntry.oracleSql.
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the API takes a
  * directory so callers never hardcode paths.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")

  /** The event stream in batch form. Mirrors the reference's RabbitMQ JSON messages
    * (`cassandra_subscriber.py:102-113`): `ts` plays the AMQP `properties.timestamp`
    * role (event time), `event_type` the `type` discriminator, `props` the JSON payload.
    *
    * `ts` is ns-precision parquet, which Spark 4 refuses to read as a timestamp
    * (PARQUET_TYPE_ILLEGAL); we read it as a long (legacy conf) and truncate to a
    * µs `timestamp_ntz` — exactly DuckDB's `CAST(ts AS TIMESTAMP)`. The conf is
    * the session's, set by `Sessions.builder`: a loader never changes it, since
    * that would change every other query on the session.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong").toBoolean,
      "Tables.events needs spark.sql.legacy.parquet.nanosAsLong=true; " +
        "build the session with graft.sources.Sessions.builder")
    normalizeEventTs(table(spark, dir, "events"))
  }

  /** ns-long `ts` → µs `timestamp_ntz`; pass-through when already a timestamp. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts",
        org.apache.spark.sql.functions.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    else df

  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
