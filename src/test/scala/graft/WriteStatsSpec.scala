package graft

import graft.lake.{FileEntry, InlineFiles, LakeTable, Maintenance, PathBloom}
import graft.merge.MergeInto
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

/** The write path's fixed costs: the manifest stats the write tasks gather
  * must describe the rows each file really holds, the merge target is
  * planned from the manifest without a listing job, and the merge's
  * reduce stage is sized to the session's shuffle parallelism. */
class WriteStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Unsigned UTF-8 byte order: parquet's binary order, which neither
    * `String.compareTo` (UTF-16 units) nor a signed byte compare matches. */
  private val utf8Order: Ordering[String] =
    (a, b) => java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  private final case class FileRows(lsns: Seq[Long], repos: Seq[String], paths: Seq[String],
                                    deleted: Seq[Option[Boolean]])

  /** Every data file's rows, grouped by the file they came from. */
  private def rowsByFile(table: LakeTable, files: Seq[FileEntry]): Map[String, FileRows] =
    spark.read.parquet(files.map(f => s"${table.root}/${f.relPath}"): _*)
      .select(col("_metadata.file_path").as("fp"), col("lsn"), col("repo"), col("path"),
        col(LakeTable.DeletedCol))
      .collect().toSeq
      // file_path is the file's URI; its last four segments are the relPath
      .groupBy(_.getString(0).split('/').takeRight(4).mkString("/"))
      .map { case (rel, rows) =>
        rel -> FileRows(rows.map(_.getLong(1)), rows.map(_.getString(2)), rows.map(_.getString(3)),
          rows.map(r => if (r.isNullAt(4)) None else Some(r.getBoolean(4))))
      }

  /** The manifest stats of `files` equal the values computed from their
    * own rows; returns the checked rows for fixture assertions. */
  private def assertStatsMatchData(table: LakeTable, files: Seq[FileEntry],
                                   what: String): Map[String, FileRows] = {
    val data = rowsByFile(table, files)
    val nonEmpty = files.filter(_.nKeys != 0L)
    assert(nonEmpty.nonEmpty, s"$what: no files")
    nonEmpty.foreach { f =>
      val d = data.getOrElse(f.relPath, fail(s"$what: ${f.relPath} not readable"))
      val at = s"$what ${f.relPath}"
      assert(f.nKeys == d.lsns.size.toLong, at)
      assert(f.minLsn == d.lsns.min && f.maxLsn == d.lsns.max, at)
      assert(f.nLive == d.deleted.count(_.contains(false)).toLong, at)
      assert(f.minRepo == d.repos.min(utf8Order) && f.maxRepo == d.repos.max(utf8Order),
        s"$at: repo range [${f.minRepo}, ${f.maxRepo}]")
      assert(f.minPath == d.paths.min(utf8Order) && f.maxPath == d.paths.max(utf8Order),
        s"$at: path range [${f.minPath}, ${f.maxPath}]")
      assert(f.nBytes > 0L, at)
      assert(f.pathBloom != null, s"$at: no path bloom")
      val bloom = PathBloom.decode(f.pathBloom)
      d.paths.foreach(p => assert(PathBloom.mayContain(bloom, p) && f.mayContain(null, p),
        s"$at: path $p filtered out"))
    }
    data
  }

  test("stats taken at write time match the data: merge, compact and rebucket outputs") {
    import spark.implicits._
    val work = TestSpark.tmpDir("writestats")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    // multi-byte keys whose orders disagree: unsigned bytes put U+10000
    // (F0 ..) above U+FFFF (EF ..) and both above ASCII; String.compareTo
    // puts U+FFFF above the surrogate pair; a signed byte compare puts
    // ASCII above every multi-byte key. Long keys would expose a bound
    // truncated the way parquet truncates its column-index stats.
    val supp = new String(Character.toChars(0x10000))
    val marks = Seq("a", "z", "é", "日本", "￿", supp)
    val long = "ファイル" * 12
    def key(i: Int): (String, String) =
      (s"r-${marks(i % marks.size)}${i % 7}",
        s"p/${marks((i / 3) % marks.size)}-$i" + (if (i % 5 == 0) s"/$long" else ""))
    def events(lo: Int, hi: Int, lsn0: Long, op: Int => String) = (lo until hi).map { i =>
      val (r, p) = key(i)
      (lsn0 + i, op(i), ts, r, p, "c", "text", s"body-$lsn0-$i")
    }.toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")

    merge.apply(events(0, 300, 0L, _ => "I"), 0L): Unit
    merge.apply(events(100, 400, 1000L, i => if (i % 4 == 0) "D" else "U"), 1L): Unit
    val merged = table.currentSnapshot().get.allFiles
    val mergedRows = assertStatsMatchData(table, merged, "merge")
    assert(mergedRows.values.exists(d => d.deleted.contains(Some(true))), "no tombstones written")
    // the fixture really separates the orders: some file's byte-order max
    // is not its String max
    assert(mergedRows.values.exists(d => d.repos.max(utf8Order) != d.repos.max) &&
      mergedRows.values.exists(d => d.paths.max(utf8Order) != d.paths.max),
      "fixture does not distinguish UTF-8 byte order from String order")

    // a legacy file with NULL tombstone flags (no stats in its entry):
    // compaction carries the NULLs through, and they must not count as live
    val snap = table.currentSnapshot().get
    val nullRepo = "r-null"
    val b = Math.floorMod(org.apache.spark.sql.graftx.Bridge.xxhash64(nullRepo), 4)
    val legacyDir = s"${table.root}/data/legacy/b=$b"
    (0 until 5).map(i => (5000L + i, ts, nullRepo, s"p/null-$i", "c", "text", "x"))
      .toDF("lsn", "ts", "repo", "path", "commit", "lang", "content")
      .withColumn(LakeTable.DeletedCol, lit(null).cast("boolean"))
      .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
      .coalesce(1).write.parquet(legacyDir)
    val legacy = new java.io.File(legacyDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => FileEntry(b, s"data/legacy/b=$b/${f.getName}", nBytes = f.length())).toSeq
    table.commitSnapshot(snap.copy(version = snap.version + 1, highWaterLsn = None,
      filesRef = InlineFiles(snap.allFiles ++ legacy)), graft.lake.CommitSummary("merge"))

    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0)
    val compacted = table.currentSnapshot().get.allFiles
    val compactedRows = assertStatsMatchData(table, compacted, "compact")
    assert(compactedRows.values.exists(_.deleted.contains(None)), "NULL flags not carried")

    Maintenance.rebucket(table, 3): Unit
    assertStatsMatchData(table, table.currentSnapshot().get.allFiles, "rebucket"): Unit
  }

  test("a merge onto a table of more than 32 files runs no listing job, " +
    "and its write stage fits the session's shuffle parallelism") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val work = TestSpark.tmpDir("writestage")
    val build = spark.newSession()
    build.conf.set("spark.sql.shuffle.partitions", "64")
    val table = new LakeTable(build, s"$work/table")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def events(s: org.apache.spark.sql.SparkSession, lo: Int, hi: Int) = {
      import s.implicits._
      (lo until hi).map(i => (i.toLong, "I", ts, s"r${i % 97}", s"p${i % 89}", "c", "text", s"b$i"))
        .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    }
    new MergeInto(table, numBuckets = 16, saltBuckets = 4, recordMeta = false)
      .apply(events(build, 0, 4000), 0L): Unit
    val nFiles = table.currentSnapshot().get.allFiles.size
    assert(nFiles > 32, s"fixture: $nFiles files do not pass Spark's listing threshold")

    // AQE off: each action is one job whose last stage is the reduce stage
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "3")
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val resultTasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    // (job id, its stage names): a stage is named after the engine call
    // that ran it, so the data write's job reads "writeParquet at ..."
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).contains("writestage")) {
          descriptions.add(props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""))
          resultTasks.add(js.stageInfos.maxBy(_.stageId).numTasks)
          jobs.add((js.jobId, js.stageInfos.map(_.name).mkString("; ")))
        }
      }
    }
    val measured = new LakeTable(s, table.root)
    s.sparkContext.addSparkListener(listener)
    try {
      s.sparkContext.setJobGroup("writestage", "merge onto a many-file table")
      // recordMeta on, as in production: a poison-free epoch records
      // everything in its snapshot and starts no job after the write
      val st = new MergeInto(measured, numBuckets = 16, saltBuckets = 4, recordMeta = true)
        .apply(events(s, 4000, 4400), 1L)
      s.sparkContext.clearJobGroup()
      assert(st.bucketsTouched * 4 > 3, "fixture: touched × salt must exceed the cap")
      // listener delivery is async: wait for the touched scan + the write
      val deadline = System.nanoTime() + 10_000_000_000L
      while (System.nanoTime() < deadline && resultTasks.size < 2) Thread.sleep(50)
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val listing = descriptions.asScala.filter(_.startsWith("Listing leaf files"))
      assert(listing.isEmpty, s"file-listing jobs ran: $listing")
      assert(resultTasks.size >= 2)
      assert(resultTasks.asScala.forall(_ <= 3),
        s"reduce stages ran ${resultTasks.asScala.mkString(",")} tasks; the session allows 3")
      val writeJobs = jobs.asScala.filter(_._2.contains("writeParquet at")).map(_._1)
      assert(writeJobs.size == 1, s"expected one data-write job: ${jobs.asScala.mkString(" | ")}")
      val after = jobs.asScala.filter(_._1 > writeJobs.head)
      assert(st.eventsQuarantined == 0L && after.isEmpty,
        s"jobs started after the data write: ${after.mkString(" | ")}")
    } finally {
      s.sparkContext.removeSparkListener(listener)
      s.sparkContext.clearJobGroup()
    }
    assert(measured.read().count() == new LakeTable(spark, table.root).read().count())
  }

  /** Per bucket, the files the table's latest merge wrote. */
  private def filesWrittenPerBucket(table: LakeTable): Map[Int, Seq[FileEntry]] = {
    val snap = table.currentSnapshot().get
    val dir = s"data/${snap.summary.flatMap(_.writeDir).get}/"
    snap.allFiles.filter(_.relPath.startsWith(dir)).groupBy(_.bucket)
  }

  private def keyedEvents(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    rows.map { case (lsn, r, p) => (lsn, "U", ts, r, p, "c", "text", s"body-$lsn") }
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
  }

  test("an epoch onto a table of even buckets writes exactly one file per touched bucket") {
    val table = new LakeTable(spark, s"${TestSpark.tmpDir("layout-even")}/table")
    // 8 buckets onto the session's 4 tasks: no bucket holds more than a
    // task's share, so each is written whole
    val merge = new MergeInto(table, numBuckets = 8, saltBuckets = 4, recordMeta = false)
    def key(j: Int) = (s"r${j % 200}", s"p$j")
    merge.apply(keyedEvents((0 until 4000).map(j => (j.toLong, key(j)._1, key(j)._2))), 0L): Unit
    val base = filesWrittenPerBucket(table)
    assert(base.size == 8 && base.values.exists(_.size > 1),
      s"fixture: the fresh table should fan buckets out, got ${base.view.mapValues(_.size).toMap}")
    // updates of 200 stored keys, spread over every repo
    val st = merge.apply(keyedEvents((0 until 200).map { i =>
      val (r, p) = key(i * 19)
      (10000L + i, r, p)
    }), 1L)
    val written = filesWrittenPerBucket(table)
    assert(st.bucketsTouched == 8 && written.size == 8)
    assert(written.values.forall(_.size == 1),
      s"files per bucket: ${written.view.mapValues(_.size).toMap}")
    assert(table.read().count() == 4000L)
  }

  test("an epoch onto a table with a hot bucket splits only that bucket, over 2..salt tasks") {
    val table = new LakeTable(spark, s"${TestSpark.tmpDir("layout-hot")}/table")
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 4, recordMeta = false)
    // one repo holds 60% of the keys, so its bucket holds well over a
    // quarter of the table, the share of one of the session's 4 tasks
    def key(j: Int) = (if (j % 5 < 3) "hot" else s"r${j % 97}", s"p$j")
    merge.apply(keyedEvents((0 until 4000).map(j => (j.toLong, key(j)._1, key(j)._2))), 0L): Unit
    val hot = Math.floorMod(org.apache.spark.sql.graftx.Bridge.xxhash64("hot"), 4)
    // updates of 200 stored keys, hot and not
    merge.apply(keyedEvents((0 until 200).map { i =>
      val (r, p) = key(i * 19)
      (10000L + i, r, p)
    }), 1L): Unit
    val written = filesWrittenPerBucket(table)
    assert(written.size == 4, s"fixture: the epoch should touch every bucket: ${written.keySet}")
    val hotFiles = written(hot)
    assert(hotFiles.size >= 2 && hotFiles.size <= 4,
      s"hot bucket $hot written as ${hotFiles.size} file(s)")
    assert(hotFiles.map(_.nKeys).max < hotFiles.map(_.nKeys).sum)
    assert(written.removed(hot).values.forall(_.size == 1),
      s"files per bucket: ${written.view.mapValues(_.size).toMap}")
    assert(table.read().count() == 4000L)
  }

  test("near-uniform known loads on as many tasks are written one part per bucket") {
    // each bucket within a quarter share of the mean: none is split, and
    // the four go to four different tasks
    val plan = MergeInto.planTasks(Map(0 -> 1000L, 1 -> 1100L, 2 -> 950L, 3 -> 1050L),
      maxTasks = 4, maxWays = 4)
    assert(plan.keySet == Set(0, 1, 2, 3) && plan.values.forall(_.size == 1), plan)
    assert(plan.values.map(_.head).toSet == Set(0, 1, 2, 3), plan)
  }

  test("parts of unknown load go where a hash repartition on (bucket, part) sends them") {
    import spark.implicits._
    // a fresh table's plan: every load unknown, every bucket split 4 ways
    val plan = MergeInto.planTasks((0 until 16).map(_ -> -1L).toMap, maxTasks = 64, maxWays = 4)
    val hashed = (for (b <- 0 until 16; p <- 0 until 4) yield (b, p)).toDF("b", "p")
      .repartition(64, col("b"), col("p"))
      .select(col("b"), col("p"), spark_partition_id()).collect()
    assert(hashed.length == 64 && hashed.forall(r => plan(r.getInt(0))(r.getInt(1)) == r.getInt(2)))
  }
}
