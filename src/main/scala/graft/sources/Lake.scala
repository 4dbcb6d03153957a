package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout helpers — the piece of the 100 TB design that lives at WRITE
  * time. The reference bakes its read performance into Cassandra primary keys
  * (`/root/reference/README.md:135-141`); the Spark-native equivalent is
  * directory partitioning (coarse pruning key) + many parquet files per
  * partition (parallelism), so time-ranged queries prune whole directories
  * before any I/O (PlanSpec asserts the `PartitionFilters`).
  */
object Lake {

  /** Write the event table date-partitioned: `path/event_date=YYYY-MM-DD/...`.
    * Daily granularity keeps partition count ~365/year (catalog-friendly) while
    * letting every hour/day-bucketed view prune to the days it touches.
    * `spark.read.parquet(path)` reads it back with `event_date` available
    * for partition pruning. */
  def writeEventsPartitioned(events: DataFrame, path: String): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(path)

  /** Bucketed layout: hash-cluster a table on its join/agg key at WRITE time, so
    * every future equi-join or aggregation on that key reads co-located buckets
    * and skips the shuffle entirely (Spark plans SortMergeJoin with NO Exchange
    * when both sides are bucketed by the join key into the same bucket count).
    * This is the Spark-native analog of the reference keeping each Cassandra
    * table pre-partitioned by its query key (`README.md:135-141`) — pay the
    * shuffle once at ingest, amortize it over every read. Bucket count is a
    * layout constant: pick ~(table size / target partition size) and keep it
    * stable across tables that join together. */
  def writeBucketed(df: DataFrame, path: String, table: String,
                    bucketCol: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** APPEND a delta to an existing bucketed table — the build-once /
    * append-often half of the bucketed-layout lifecycle: the delta pays its
    * bucketing shuffle once at write (new bucket files land beside the old
    * ones; nothing is rewritten), and every co-located read keeps working
    * because the bucket spec (column + count) must match the existing
    * table's — Spark refuses a mismatched append, which is exactly the
    * layout-drift guard a persisted index needs. */
  def appendBucketed(df: DataFrame, path: String, table: String,
                     bucketCol: String, buckets: Int): Unit =
    df.write.mode("append")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)

  /** Bucket id encoded in a bucketed-table data file's name. Spark writes
    * `part-<task>-<uuid>_<bucketId>.c000.snappy.parquet` — the id is the
    * digit run after the last underscore (the same pattern Spark's own
    * reader uses to group files by bucket). None for non-bucketed names
    * (`_SUCCESS`, hidden files, plain parquet parts). */
  private val BucketedFileName = """.*_(\d+)(?:\..*)?$""".r
  private[graft] def bucketIdOfFile(name: String): Option[Int] = name match {
    case _ if name.startsWith("_") || name.startsWith(".") => None
    case BucketedFileName(id) => Some(id.toInt)
    case _ => None
  }

  /** A bucketed table's live data files grouped by bucket id. */
  private[graft] def bucketFiles(fs: org.apache.hadoop.fs.FileSystem,
                                 path: String): Map[Int, Seq[org.apache.hadoop.fs.Path]] =
    fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isFile)
      .flatMap(st => bucketIdOfFile(st.getPath.getName).map(_ -> st.getPath))
      .groupBy(_._1).map { case (b, fs0) => b -> fs0.map(_._2).toSeq }

  /** Swap the `affected` buckets' files of a FLAT bucketed layout: live files
    * move aside into a trash dir (checked renames — never a destructive
    * delete), staged replacements move in, and only after EVERY move
    * succeeded do trash and staging drop. A failed step aborts loudly with
    * trash + staging intact on disk, so recovery is a rename back — the
    * file-level analog of [[graft.operators.Similarity.deleteFromIvfIndex]]'s
    * per-cell directory swap (bucketed tables are flat: the bucket id lives
    * in the FILE name, so the unit of swap is the file, not a directory).
    * SINGLE-WRITER like every file-layout mutation without a table format:
    * a probe listing the table mid-swap can see a partial bucket — serialize
    * maintenance against reads, or adopt a transactional table format.
    * Refuses to proceed (nothing touched) if the trash path cannot be
    * created, which is also the abort the crash spec drives. */
  private[graft] def swapBucketFiles(spark: SparkSession, livePath: String,
                                     stagingPath: String, affected: Seq[Int]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(livePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = new org.apache.hadoop.fs.Path(livePath + ".swap_trash")
    if (fs.exists(trash) || !fs.mkdirs(trash))
      sys.error(s"cannot create trash dir $trash — layout unchanged; " +
        s"staging kept at $stagingPath")
    val affectedSet = affected.toSet
    val live = bucketFiles(fs, livePath).filter { case (b, _) => affectedSet(b) }
    val staged = bucketFiles(fs, stagingPath).filter { case (b, _) => affectedSet(b) }
    live.values.flatten.foreach { f =>
      if (!fs.rename(f, new org.apache.hadoop.fs.Path(trash, f.getName)))
        sys.error(s"swap aborted: cannot move live $f aside — moved files are " +
          s"in $trash, staging kept at $stagingPath; recover by renaming back")
    }
    staged.values.flatten.foreach { f =>
      if (!fs.rename(f, new org.apache.hadoop.fs.Path(livePath, f.getName)))
        sys.error(s"swap aborted: cannot move staged $f into place — old files " +
          s"are in $trash; recover by renaming them back into $livePath")
    }
    fs.delete(trash, true)
    fs.delete(new org.apache.hadoop.fs.Path(stagingPath), true)
  }

  /** Name of the marker file [[rebucketBucketed]] holds through its
    * non-atomic catalog swap: written into the table path after staging
    * completes, immediately before the file swap begins (never before
    * staging, whose failure leaves the table fully correct), deleted only
    * after the catalog entry matches the new file layout. Underscore-prefixed,
    * so parquet readers and [[bucketIdOfFile]] ignore it. */
  private[graft] val CatalogSwapMarker = "_catalog_swap_pending"

  /** Verify a bucketed table's catalog spec matches its on-disk layout —
    * a loud-failure guard: a crash between
    * [[rebucketBucketed]]'s file swap and its catalog recreate leaves the
    * catalog planning zero-exchange co-located joins against files that
    * hash elsewhere, which silently returns WRONG results. Checks, in
    * order: (1) no [[CatalogSwapMarker]] (an interrupted catalog swap —
    * the marker body carries the recovery instruction); (2) no leftover
    * `.swap_trash` (an interrupted file swap — recover by renaming back);
    * (3) the catalog bucket spec is exactly (bucketCol, buckets); (4) no
    * live file carries a bucket id ≥ the catalog count. Every layout
    * mutation here runs it first, and probe paths can via
    * [[readBucketedVerified]]. */
  def assertCatalogMatchesLayout(spark: SparkSession, path: String,
                                 table: String, bucketCol: String,
                                 buckets: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, CatalogSwapMarker)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      sys.error(s"interrupted catalog swap on $table: $body — finish the " +
        s"recovery, then delete $marker")
    }
    val trash = new org.apache.hadoop.fs.Path(path + ".swap_trash")
    if (fs.exists(trash))
      sys.error(s"interrupted file swap on $table: $trash still holds the " +
        "displaced files — rename them back (or complete the swap) before " +
        "mutating or trusting this layout")
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec
    require(spec.exists(s => s.numBuckets == buckets &&
        s.bucketColumnNames == Seq(bucketCol)),
      s"catalog bucket spec of $table is $spec, expected ($bucketCol, " +
        s"$buckets) — a drifted spec plans co-located joins that return " +
        "wrong results; recreate the catalog entry to match the files")
    val stray = bucketFiles(fs, path).keys.filter(_ >= buckets)
    require(stray.isEmpty,
      s"live files of $table carry bucket ids $stray >= the catalog count " +
        s"$buckets — the files follow a newer layout than the catalog; " +
        "recreate the catalog entry to match")
  }

  /** Read a bucketed table through [[assertCatalogMatchesLayout]] — the
    * probe-side entry point that refuses a layout whose catalog and files
    * disagree instead of silently planning wrong co-located joins. */
  def readBucketedVerified(spark: SparkSession, path: String, table: String,
                           bucketCol: String, buckets: Int): DataFrame = {
    assertCatalogMatchesLayout(spark, path, table, bucketCol, buckets)
    spark.table(table)
  }

  /** CONTENT-level layout audit (the optional deep check):
    * sample up to `perFileRows` rows from each live bucket file and verify
    * every sampled row hashes into the bucket its FILE NAME claims under
    * `(bucketCol, buckets)`. This is the one drift
    * [[assertCatalogMatchesLayout]]'s structural checks cannot see — files
    * whose ids all lie under the catalog count but whose rows follow an
    * OLDER layout (e.g. a 4-bucket table recovered under an 8-bucket
    * catalog: every old id < 8, the stray-id check passes, and co-located
    * joins silently drop matches). Cost is one LIMIT-bounded scan per file
    * (footer + first row group), so it is a maintenance-window audit, not a
    * per-probe gate — run it after manual recovery, before re-enabling
    * probes. Returns the number of files sampled; throws on the first file
    * whose sample holds a row hashing elsewhere. */
  def auditBucketContentSample(spark: SparkSession, path: String,
                               bucketCol: String, buckets: Int,
                               perFileRows: Int = 100): Int = {
    require(perFileRows >= 1, s"perFileRows must be >= 1, got $perFileRows")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = bucketFiles(fs, path).toSeq.sortBy(_._1)
    files.foreach { case (b, paths) =>
      paths.foreach { f =>
        val bad = spark.read.parquet(f.toString)
          .limit(perFileRows)
          .filter(pmod(hash(col(bucketCol)), lit(buckets)) =!= b)
          .count()
        require(bad == 0L,
          s"$bad sampled rows of $f hash outside its claimed bucket $b " +
            s"under ($bucketCol, $buckets) — the file follows a different " +
            "bucket layout than the catalog; rebuild or recover the table " +
            "before trusting any co-located join")
      }
    }
    files.map(_._2.size).sum
  }

  /** The ONE staged bucket-rewrite protocol every bucketed-layout mutation
    * shares (compaction below, `Dedup.deleteFromWinnowIndex`): re-cluster the
    * replacement rows by the bucket spec's own hash (`pmod(hash(col), n)`, so
    * each write task holds exactly one bucket → one file), stage them as a
    * bucketed table beside the live one, swap the affected buckets' files via
    * [[swapBucketFiles]]'s checked trash-then-rename, drop the staging table
    * even on abort (its files stay for recovery — the swap deletes them only
    * on success), and refresh the catalog/path caches so open sessions see
    * the new file list. Two call sites, one protocol — a fix here fixes
    * both. */
  private[graft] def rewriteBuckets(spark: SparkSession, path: String,
                                    table: String, bucketCol: String,
                                    buckets: Int, affected: Seq[Int],
                                    replacement: DataFrame,
                                    stagingSuffix: String,
                                    beforeSwap: () => Unit = () => ()): Unit = {
    val stagingPath = path + stagingSuffix
    val stagingTable = table + stagingSuffix.replace('.', '_')
    try {
      writeBucketed(replacement.repartition(buckets, col(bucketCol)),
        stagingPath, stagingTable, bucketCol, buckets)
      // hook between staging and swap: [[rebucketBucketed]] plants its
      // catalog-swap marker HERE — after staging succeeded (a staging
      // failure leaves layout + catalog untouched, so no marker should
      // outlive it) and before the first live file can move
      beforeSwap()
      swapBucketFiles(spark, path, stagingPath, affected)
    } finally spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
    spark.catalog.refreshTable(table)
    spark.catalog.refreshByPath(path)
  }

  /** COMPACT a bucketed table's fragmented buckets — the maintenance half of
    * the build/append lifecycle: every [[appendBucketed]] lands a fresh file
    * per bucket beside the old ones, so after N appends each co-located read
    * opens N small files per bucket; at 100 TB the file-open + footer cost
    * dominates the probe. Rewrites ONLY the buckets holding more than one
    * file (cost tracks fragmentation, never table size): their rows are read
    * file-pruned, re-clustered into exactly ONE file per bucket (the input is
    * pre-partitioned by the bucket spec's own hash — `pmod(hash(col), n)`, so
    * each write task holds exactly one bucket), staged fully, then swapped in
    * via [[swapBucketFiles]]'s checked trash-then-rename. Rows, bucket spec,
    * and within-file sort order are preserved exactly — every co-located
    * probe answers identically (spec- and driver-gated). Returns the number
    * of buckets compacted. One file per bucket is the right target because
    * bucket count is already the layout's parallelism/file-size knob —
    * re-bucket (rebuild) when buckets themselves outgrow the target size. */
  def compactBucketed(spark: SparkSession, path: String, table: String,
                      bucketCol: String, buckets: Int): Int = {
    assertCatalogMatchesLayout(spark, path, table, bucketCol, buckets)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fragmented = bucketFiles(fs, path).filter(_._2.size > 1)
    if (fragmented.isEmpty) return 0
    val affected = fragmented.keys.toSeq.sorted
    val rows = spark.read.parquet(fragmented.values.flatten.map(_.toString).toSeq: _*)
    rewriteBuckets(spark, path, table, bucketCol, buckets, affected, rows,
      ".compact_staging")
    affected.length
  }

  /** RE-BUCKET a bucketed table to a new bucket count — the one layout
    * mutation [[compactBucketed]] explicitly defers to ("re-bucket (rebuild)
    * when buckets themselves outgrow the target size"): bucket count is the
    * layout's parallelism/file-size knob, and once steady appends push every
    * bucket past the efficient scan size the fix is n → n′ buckets, not more
    * compaction. Full staged rewrite through the ONE shared
    * [[rewriteBuckets]] protocol (every row re-clusters by
    * `pmod(hash(col), n′)`, staged fully, then swapped via
    * [[swapBucketFiles]]'s checked trash-then-rename — a crash leaves trash
    * + staging on disk for rename-back recovery), then the catalog entry is
    * recreated with the n′ bucket spec so co-located reads keep planning
    * zero-exchange against the new layout. Rows and per-bucket sort order
    * are preserved exactly — every probe answers identically (spec- and
    * driver-gated on the winnow index). SINGLE-WRITER like every file-layout
    * mutation here, with one extra wrinkle: the catalog swap (drop +
    * recreate) is the non-atomic tail, so a session reading BETWEEN the file
    * swap and the recreate could plan with the stale bucket spec — serialize
    * maintenance against reads, or adopt a transactional table format.
    * Unlike compaction this rewrites the WHOLE table (cost tracks table
    * size) — it is the rare scheduled rebuild, not routine maintenance. */
  def rebucketBucketed(spark: SparkSession, path: String, table: String,
                       bucketCol: String, oldBuckets: Int, newBuckets: Int): Unit = {
    require(oldBuckets >= 1 && newBuckets >= 1 && newBuckets != oldBuckets,
      s"re-bucket needs a different positive bucket count, got $oldBuckets -> $newBuckets")
    assertCatalogMatchesLayout(spark, path, table, bucketCol, oldBuckets)
    val rows = spark.read.parquet(path)
    val schemaDdl = rows.schema.toDDL
    // the affected set derives from the LIVE FILES, never the caller's
    // oldBuckets (the API contract above): an understated
    // count would otherwise leave live files beyond it unswapped — stale
    // rows that hash elsewhere under n′, silently corrupting co-located
    // reads (the trap resplitIvfIndex avoids by listing cells from disk)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveBuckets = bucketFiles(fs, path).keys.toSeq
    // the file-then-catalog swap is the non-atomic tail (acknowledged in
    // the API doc); hold a marker through it so a crash FAILS LOUDLY at the
    // next mutation/verified read instead of planning wrong co-located
    // joins against a stale spec. The marker is written AFTER staging
    // succeeds, immediately before the first live file can move: a crash
    // during staging leaves files AND catalog at oldBuckets — correct, no
    // recovery needed — and a marker written earlier would instruct
    // recreating a newBuckets catalog over oldBuckets files, passing the
    // stray-id check when growing and silently mis-planning every
    // co-located join. With this ordering the marker's
    // recreate-into-newBuckets instruction is right in every crash window
    // it can survive: mid-swap (trash present — its own recovery runs
    // first) or between swap and catalog recreate.
    val marker = new org.apache.hadoop.fs.Path(path, CatalogSwapMarker)
    def plantMarker(): Unit = {
      val out = fs.create(marker, false)
      out.write((s"files of $table are re-clustering from $oldBuckets to " +
        s"$newBuckets buckets (staging complete, file swap started) but the " +
        s"catalog may still say $oldBuckets; recover: (1) if $path.swap_trash " +
        "exists, finish the interrupted file swap (or rename the trash files " +
        s"back) first; (2) confirm the live files follow the $newBuckets " +
        s"layout (max file bucket id < $newBuckets and >= $oldBuckets for a " +
        "grown count); (3) DROP TABLE " +
        s"$table then CREATE TABLE $table ($schemaDdl) USING PARQUET " +
        s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $newBuckets " +
        s"BUCKETS LOCATION '$path'; (4) delete this marker")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }
    try rewriteBuckets(spark, path, table, bucketCol, newBuckets,
      affected = (liveBuckets ++ (0 until newBuckets)).distinct.sorted, rows,
      ".rebucket_staging", beforeSwap = plantMarker)
    catch { case e: Throwable =>
      // clean aborts must not brick a healthy table: if no
      // live file reached the trash, the layout is byte-identical and the
      // catalog still correct — release the marker (and the empty trash
      // dir the refused swap may have created; the entry guard proved no
      // pre-existing trash, so any trash here is this call's own). Once a
      // live file sits in trash the marker and trash both stay: recovery
      // really is pending.
      val trashP = new org.apache.hadoop.fs.Path(path + ".swap_trash")
      val swapStarted = fs.exists(trashP) && fs.listStatus(trashP).nonEmpty
      if (!swapStarted) {
        if (fs.exists(trashP)) fs.delete(trashP, true)
        fs.delete(marker, false)
      }
      throw e
    }
    // the files now carry the n′ layout; make the catalog's bucket spec
    // follow them (EXTERNAL table: drop touches metadata only, never files)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"CREATE TABLE $table ($schemaDdl) USING PARQUET " +
      s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) " +
      s"INTO $newBuckets BUCKETS LOCATION '$path'")
    spark.catalog.refreshTable(table)
    spark.catalog.refreshByPath(path)
    // catalog and files agree again — release the marker
    fs.delete(marker, false)
    ()
  }

  /** Z-order (Morton) interleave key over numeric columns: each column
    * quantizes to `bits` bits against its [min, max] range, then the bits
    * interleave (column j contributes bit i at position i·ncols + j, so all
    * columns share the high-order positions equally). Rows close in EVERY
    * dimension get close keys — range-partitioning and sorting by this key
    * clusters multi-dimensional boxes into few files/row groups, which is what
    * parquet min-max statistics can then skip. A single-column sort layout
    * only ever prunes predicates on that column; Z-order trades a little
    * per-column locality for pruning on ALL the interleaved columns.
    * Pure column expression tree (constant size: ncols · bits terms) — no UDF,
    * stays inside whole-stage codegen. */
  def zorderKey(cols: Seq[Column], mins: Seq[Double], maxs: Seq[Double],
                bits: Int = 16): Column = {
    require(cols.nonEmpty && cols.length == mins.length && cols.length == maxs.length,
      "one (min, max) per z-order column")
    val nc = cols.length
    require(nc * bits <= 63, s"ncols * bits must fit a long, got $nc x $bits")
    val maxQ = (1L << bits) - 1
    val quantized = cols.zipWithIndex.map { case (c, j) =>
      val span = math.max(maxs(j) - mins(j), Double.MinPositiveValue)
      least(greatest(
          ((c.cast("double") - mins(j)) / span * maxQ).cast("long"), lit(0L)),
        lit(maxQ))
    }
    (for (i <- 0 until bits; j <- 0 until nc) yield
      shiftleft(shiftright(quantized(j), i).bitwiseAND(lit(1L)), i * nc + j))
      .reduce(_.bitwiseOR(_))
  }

  /** Write `df` clustered by the Z-order of `zCols`: range-partition into
    * `numFiles` files by the interleave key and sort within each file, so both
    * file-level and row-group-level min-max stats become selective for
    * multi-column range predicates. Column ranges are computed in one tiny
    * aggregate pass (at 100 TB: use known domain bounds or a sample instead —
    * quantization only needs approximate ranges; clamping handles outliers). */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    numFiles: Int, bits: Int = 16): Unit = {
    val aggs = zCols.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val mins = zCols.indices.map(i => stats.getDouble(2 * i))
    val maxs = zCols.indices.map(i => stats.getDouble(2 * i + 1))
    df.withColumn("__z", zorderKey(zCols.map(col), mins, maxs, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction — the maintenance job every streaming lake needs:
    * micro-batch sinks (e.g. [[graft.streaming.StreamingViews.maintainViews]]'s
    * per-batch paths) accrete files far below the efficient scan size, and at
    * 100 TB the file-open + footer cost of millions of small files dominates
    * reads. Rewrites `inPath` into ceil(bytes / targetFileBytes) files (floor 1)
    * at `outPath`, preserving rows exactly; the file count derives from the
    * ACTUAL on-disk byte size, not a row-count guess, so it tracks schema width
    * and compression. Write-then-swap (never in place): readers keep a
    * consistent view of `inPath` until the atomic directory swap a deployment's
    * catalog/manifest layer performs. Optional `sortCols` re-sorts within
    * output files so min-max stats stay selective after compaction. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil): Long = {
    val df = spark.read.parquet(inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = ((bytes + BigInt(targetFileBytes) - 1) / targetFileBytes).toInt.max(1)
    val repartitioned =
      if (sortCols.isEmpty) df.repartition(files)
      else df.repartitionByRange(files, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    repartitioned.write.mode("overwrite").parquet(outPath)
    files.toLong
  }

  /** Register every testdata table plus derived views as temp views so the whole
    * engine surface is reachable from `spark.sql(...)` — the general query
    * interface the reference lacks (its five endpoints are hardcoded). */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, dir) else Tables.table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
    graft.operators.Views.latestInfo(Tables.events(spark, dir))
      .createOrReplaceTempView("customer_latest_info")
    graft.operators.Views.hourCounts(Tables.events(spark, dir))
      .createOrReplaceTempView("geo_counts_by_hour")
    graft.operators.Views.multiGranularityCounts(Tables.events(spark, dir))
      .createOrReplaceTempView("counts_by_time")
  }
}
