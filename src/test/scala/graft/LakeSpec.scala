package graft

import org.apache.spark.sql.functions._
import graft.sources.Lake

/** Storage sources: the table loaders' session contract, and storage-layout
  * maintenance — the bucketed-table compaction half of the build/append
  * lifecycle ([[Lake.compactBucketed]]) and the file-level swap machinery it
  * shares with `Dedup.deleteFromWinnowIndex`. */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  test("Tables.events refuses a session without nanosAsLong and leaves its conf alone") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val other = spark.newSession()
    other.conf.set(key, "false")
    val e = intercept[IllegalArgumentException](
      graft.sources.Tables.events(other, "/root/testdata/sf0.001"))
    assert(e.getMessage.contains("Sessions.builder"), e.getMessage)
    assert(other.conf.get(key) === "false")
    assert(spark.conf.get(key) === "true")
  }

  private def fsFor(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(path: String): Map[Int, Seq[String]] =
    Lake.bucketFiles(fsFor(path), path)
      .map { case (b, fs0) => b -> fs0.map(_.getName) }

  test("bucketIdOfFile parses Spark bucket file names, skips non-data files") {
    assert(Lake.bucketIdOfFile("part-00000-abc-123_00003.c000.snappy.parquet") === Some(3))
    assert(Lake.bucketIdOfFile("part-00017-def_00000.c000.parquet") === Some(0))
    assert(Lake.bucketIdOfFile("_SUCCESS") === None)
    assert(Lake.bucketIdOfFile(".part-00000-abc_00003.c000.snappy.parquet.crc") === None)
    assert(Lake.bucketIdOfFile("data.parquet") === None)
  }

  test("compactBucketed: fragmented buckets become one file each; rows and probe answers unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val path = s"$dir/t"
    try {
      def slice(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(($"id" % 50).as("fp"), $"id".as("doc_id"))
      Lake.writeBucketed(slice(0, 400).toDF(), path, "graft_t_compact", "fp", 4)
      Lake.appendBucketed(slice(400, 800).toDF(), path, "graft_t_compact", "fp", 4)
      Lake.appendBucketed(slice(800, 1000).toDF(), path, "graft_t_compact", "fp", 4)
      val before = dataFiles(path)
      assert(before.values.exists(_.size > 1), "appends must fragment at least one bucket")
      val rowsBefore = rowSet(spark.table("graft_t_compact"))
      val compacted = Lake.compactBucketed(spark, path, "graft_t_compact", "fp", 4)
      assert(compacted === before.count(_._2.size > 1),
        "exactly the fragmented buckets compact")
      val after = dataFiles(path)
      assert(after.values.forall(_.size == 1), s"one file per bucket after compaction: $after")
      assert(after.keySet === before.keySet, "no bucket may appear or vanish")
      assert(rowSet(spark.table("graft_t_compact")) === rowsBefore,
        "compaction must preserve rows exactly")
      // single-file buckets are untouched: re-compaction is a no-op
      assert(Lake.compactBucketed(spark, path, "graft_t_compact", "fp", 4) === 0)
      assert(dataFiles(path) === after, "a no-op compaction must not rewrite any file")
      // the compacted layout still answers a co-located aggregation correctly
      assert(spark.table("graft_t_compact").groupBy("fp").count().count() === 50L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_t_compact")
  }

  test("compactBucketed keeps files hash-consistent: each output file holds only its bucket's rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_hash").toString
    val path = s"$dir/t"
    try {
      def slice(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(concat(lit("k"), $"id" % 37).as("fp"), $"id".as("doc_id"))
      Lake.writeBucketed(slice(0, 300).toDF(), path, "graft_t_compact_h", "fp", 4)
      Lake.appendBucketed(slice(300, 600).toDF(), path, "graft_t_compact_h", "fp", 4)
      assert(Lake.compactBucketed(spark, path, "graft_t_compact_h", "fp", 4) > 0)
      Lake.bucketFiles(fsFor(path), path).foreach { case (b, files) =>
        val off = spark.read.parquet(files.map(_.toString): _*)
          .filter(pmod(hash(col("fp")), lit(4)) =!= b).count()
        assert(off === 0L, s"bucket $b holds $off rows hashed elsewhere — " +
          "a co-located join would silently drop matches")
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_t_compact_h")
  }

  test("rebucketBucketed: n -> n' rewrite; rows, hash layout, and catalog spec all follow") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebucket").toString
    val path = s"$dir/t"
    try {
      def slice(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(($"id" % 50).as("fp"), $"id".as("doc_id"))
      Lake.writeBucketed(slice(0, 400).toDF(), path, "graft_t_reb", "fp", 4)
      Lake.appendBucketed(slice(400, 800).toDF(), path, "graft_t_reb", "fp", 4)
      val rowsBefore = rowSet(spark.table("graft_t_reb"))
      Lake.rebucketBucketed(spark, path, "graft_t_reb", "fp", 4, 8)
      val after = dataFiles(path)
      assert(after.keySet.forall(_ < 8), s"bucket ids must lie under n'=8: $after")
      assert(after.values.forall(_.size == 1), s"one file per bucket after re-bucket: $after")
      assert(rowSet(spark.table("graft_t_reb")) === rowsBefore,
        "re-bucketing must preserve rows exactly")
      // every file holds ONLY rows hashing to its n'=8 bucket — the invariant
      // a zero-exchange co-located join relies on
      Lake.bucketFiles(fsFor(path), path).foreach { case (b, files) =>
        val off = spark.read.parquet(files.map(_.toString): _*)
          .filter(pmod(hash(col("fp")), lit(8)) =!= b).count()
        assert(off === 0L, s"bucket $b holds $off rows hashed elsewhere under n'=8")
      }
      // the catalog entry followed the files to the n' spec
      val desc = spark.sql("DESCRIBE TABLE EXTENDED graft_t_reb").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("Num Buckets").exists(_.trim == "8"),
        s"catalog bucket spec must be 8, got ${desc.get("Num Buckets")}")
      // and the mutation is symmetric: re-bucket back down re-clusters again
      Lake.rebucketBucketed(spark, path, "graft_t_reb", "fp", 8, 4)
      assert(dataFiles(path).keySet.forall(_ < 4))
      assert(rowSet(spark.table("graft_t_reb")) === rowsBefore)
      assert(spark.table("graft_t_reb").groupBy("fp").count().count() === 50L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_t_reb")
  }

  test("rebucketBucketed staging failure: clean abort — no marker, layout byte-identical, table usable") {
    // r15 advisory (medium): the swap marker used to be planted BEFORE
    // staging, so a staging crash left a marker instructing a newBuckets
    // catalog over oldBuckets files — assertCatalogMatchesLayout passes when
    // growing (old ids all < newBuckets) and co-located joins silently
    // mis-plan. The marker now lands only after staging succeeds, and a
    // clean abort releases it, so a healthy table never bricks.
    val dir = java.nio.file.Files.createTempDirectory("graft_rebucket_crash").toString
    val path = s"$dir/t"
    try {
      def slice(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(($"id" % 50).as("fp"), $"id".as("doc_id"))
      Lake.writeBucketed(slice(0, 400).toDF(), path, "graft_t_stagefail", "fp", 4)
      val fs = fsFor(path)
      def layout() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(_.isFile).map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
        .toSet
      val before = layout()
      // plant a garbage "bucket file" in the live table: staging's
      // read-back of the table fails mid-write (or at schema planning),
      // i.e. the rebuild dies BEFORE any live file moves
      val corrupt = new org.apache.hadoop.fs.Path(path,
        "part-99999-corrupt_00003.c000.snappy.parquet")
      val o = fs.create(corrupt, false)
      o.write("not a parquet file".getBytes("UTF-8")); o.close()
      intercept[Exception] {
        Lake.rebucketBucketed(spark, path, "graft_t_stagefail", "fp", 4, 8)
      }
      val marker = new org.apache.hadoop.fs.Path(path, Lake.CatalogSwapMarker)
      assert(!fs.exists(marker),
        "a staging failure must not leave the catalog-swap marker — the " +
          "files and catalog are both still at oldBuckets, recovery would corrupt")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path.swap_trash")),
        "a staging failure must not leave swap trash")
      fs.delete(corrupt, false)
      assert(layout() === before, "aborted re-bucket must not touch a live file")
      // the table is NOT bricked: the guard passes and reads keep working
      Lake.assertCatalogMatchesLayout(spark, path, "graft_t_stagefail", "fp", 4)
      assert(Lake.readBucketedVerified(spark, path, "graft_t_stagefail", "fp", 4)
        .count() === 400L)
      // and with the corruption cleared the same rebucket succeeds
      Lake.rebucketBucketed(spark, path, "graft_t_stagefail", "fp", 4, 8)
      assert(dataFiles(path).keySet.forall(_ < 8))
      assert(spark.table("graft_t_stagefail").count() === 400L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_t_stagefail")
  }

  test("assertCatalogMatchesLayout: marker, leftover trash, spec drift, stray ids all fail loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_guard").toString
    val path = s"$dir/t"
    try {
      def slice(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(($"id" % 50).as("fp"), $"id".as("doc_id"))
      Lake.writeBucketed(slice(0, 400).toDF(), path, "graft_t_guard", "fp", 4)
      // healthy layout passes
      Lake.assertCatalogMatchesLayout(spark, path, "graft_t_guard", "fp", 4)
      assert(Lake.readBucketedVerified(spark, path, "graft_t_guard", "fp", 4)
        .count() === 400L)
      // (1) a drifted expectation fails before any wrong co-located plan runs
      val e1 = intercept[IllegalArgumentException] {
        Lake.assertCatalogMatchesLayout(spark, path, "graft_t_guard", "fp", 8)
      }
      assert(e1.getMessage.contains("bucket spec"))
      // (2) a pending catalog-swap marker (crash between file swap and
      // catalog recreate) fails loud and carries the recovery instruction
      val fs = fsFor(path)
      val marker = new org.apache.hadoop.fs.Path(path, Lake.CatalogSwapMarker)
      val out = fs.create(marker, false)
      out.write("recover: CREATE TABLE ... INTO 8 BUCKETS".getBytes("UTF-8")); out.close()
      val e2 = intercept[RuntimeException] {
        Lake.assertCatalogMatchesLayout(spark, path, "graft_t_guard", "fp", 4)
      }
      assert(e2.getMessage.contains("interrupted catalog swap") &&
        e2.getMessage.contains("8 BUCKETS"))
      fs.delete(marker, false)
      // (3) leftover swap trash (interrupted file swap) fails loud
      val trash = new org.apache.hadoop.fs.Path(s"$path.swap_trash")
      fs.mkdirs(trash)
      val e3 = intercept[RuntimeException] {
        Lake.assertCatalogMatchesLayout(spark, path, "graft_t_guard", "fp", 4)
      }
      assert(e3.getMessage.contains("interrupted file swap"))
      fs.delete(trash, true)
      // (4) a completed re-bucket releases the marker and the guard follows
      // the new spec — the old expectation now fails, the new one passes
      Lake.rebucketBucketed(spark, path, "graft_t_guard", "fp", 4, 8)
      assert(!fs.exists(marker), "re-bucket must release the swap marker")
      Lake.assertCatalogMatchesLayout(spark, path, "graft_t_guard", "fp", 8)
      intercept[IllegalArgumentException] {
        Lake.assertCatalogMatchesLayout(spark, path, "graft_t_guard", "fp", 4)
      }
      // and mutations refuse a guarded layout: squat the marker again and
      // compaction must not touch a file
      val out2 = fs.create(marker, false); out2.write("x".getBytes); out2.close()
      intercept[RuntimeException] {
        Lake.compactBucketed(spark, path, "graft_t_guard", "fp", 8)
      }
      fs.delete(marker, false)
    } finally spark.sql("DROP TABLE IF EXISTS graft_t_guard")
  }

  test("auditBucketContentSample: healthy layout passes; old-layout rows under a grown catalog fail") {
    // the r15 advisory's residual hole, now directly detectable: files whose
    // ids all lie under the catalog count but whose ROWS follow an older
    // bucket layout (the structural checks cannot see inside the files)
    val dir = java.nio.file.Files.createTempDirectory("graft_content_audit").toString
    val pathA = s"$dir/a"
    val pathB = s"$dir/b"
    try {
      def slice(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(($"id" % 50).as("fp"), $"id".as("doc_id"))
      Lake.writeBucketed(slice(0, 400).toDF(), pathA, "graft_t_audit_a", "fp", 8)
      assert(Lake.auditBucketContentSample(spark, pathA, "fp", 8) > 0,
        "healthy 8-bucket table must pass the content audit")
      // simulate the silent-corruption scenario: a 4-bucket layout's file
      // copied under an 8-bucket table (all old ids < 8 — the stray-id
      // structural check passes; the rows hash elsewhere under n'=8)
      Lake.writeBucketed(slice(0, 400).toDF(), pathB, "graft_t_audit_b", "fp", 4)
      val fs = fsFor(pathA)
      val donor = Lake.bucketFiles(fs, pathB)(1).head
      org.apache.hadoop.fs.FileUtil.copy(fs, donor, fs,
        new org.apache.hadoop.fs.Path(pathA, donor.getName),
        false, spark.sparkContext.hadoopConfiguration)
      Lake.assertCatalogMatchesLayout(spark, pathA, "graft_t_audit_a", "fp", 8)
      val e = intercept[IllegalArgumentException] {
        Lake.auditBucketContentSample(spark, pathA, "fp", 8)
      }
      assert(e.getMessage.contains("hash outside its claimed bucket"),
        e.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_t_audit_a")
      spark.sql("DROP TABLE IF EXISTS graft_t_audit_b")
    }
  }

  test("compactBucketed crash-abort: a failed swap start leaves the layout byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_crash").toString
    val path = s"$dir/t"
    try {
      def slice(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(($"id" % 20).as("fp"), $"id".as("doc_id"))
      Lake.writeBucketed(slice(0, 200).toDF(), path, "graft_t_compact_c", "fp", 4)
      Lake.appendBucketed(slice(200, 400).toDF(), path, "graft_t_compact_c", "fp", 4)
      val fs = fsFor(path)
      def layout() = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .filter(_.isFile).map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
        .toSet
      val before = layout()
      val trash = new org.apache.hadoop.fs.Path(s"$path.swap_trash")
      fs.create(trash, false).close() // a file squatting on the trash path
      val e = intercept[RuntimeException] {
        Lake.compactBucketed(spark, path, "graft_t_compact_c", "fp", 4)
      }
      // the r15 layout guard now refuses FIRST (a pre-existing trash dir
      // reads as an interrupted swap); either refusal leaves the layout
      // byte-identical, which the next assert is the real check of
      assert(e.getMessage.contains("interrupted file swap") ||
        e.getMessage.contains("layout unchanged"))
      assert(layout() === before, "aborted compaction must not touch a single live file")
      fs.delete(trash, false)
      assert(Lake.compactBucketed(spark, path, "graft_t_compact_c", "fp", 4) > 0)
      assert(spark.table("graft_t_compact_c").count() === 400L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_t_compact_c")
  }
}
