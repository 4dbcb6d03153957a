package graft.sources

import org.apache.spark.sql.SparkSession

/** The one place the library's session defaults live — every entry point
  * (the Bench, Verify and Demo mains, perfbench, the test suite) builds from
  * here, so a session-level tuning is one edit, not one per main.
  *
  * The defaults and why:
  *  - UTC session timezone: every DuckDB oracle compares naive timestamps;
  *  - ANSI off: the oracles pin pre-ANSI arithmetic/cast semantics;
  *  - nanosAsLong: `events.ts` is ns-precision parquet Spark 4 otherwise
  *    refuses ([[Tables.events]] requires it and truncates to µs);
  *  - objectHashAggregate fallback threshold 1M (default 128): the native
  *    aggregates here ([[graft.functions.ArgMaxAgg]],
  *    [[graft.functions.TopKByScoreAgg]], [[graft.functions.MinHashSigAgg]])
  *    keep bounded buffers, while the 128-key default is sized for giant
  *    collect_list state — at the default, a 100k-key LWW silently degrades
  *    to sort-based aggregation. 1M is the buffer-size × keys-per-task
  *    budget, not "as high as possible": the largest
  *    bounded buffer is MinHashSigAgg's 64-long signature (~600 B with
  *    object overhead) → 1M buffers ≈ 0.6 GB/task worst case, inside a
  *    multi-GB executor-task budget; ArgMax (one row ≈ 200 B) and TopK
  *    (k-bounded heap) are smaller. ASSUMPTION: no hot-path aggregate holds
  *    unbounded per-key state — the one variable-size buffer in the library
  *    (maxDf-bounded posting lists) keeps maxDf × 8 B per key, so callers
  *    pushing maxDf beyond ~10k should shard ([[graft.operators.Search]]'s
  *    sharded index) rather than raise this further;
  *  - no UI: these are batch/test processes.
  */
object Sessions {
  /** One `cores` knob drives both the local master and the shuffle-partition
    * count — a pair like ("local[32]", 4) would silently skew every measured
    * number, so the API makes it unrepresentable. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.ui.enabled", "false")
}
