package graft

import graft.gen.{ChangeGen, GenConfig}
import graft.ingest.{BatchReplay, StreamingReplay}
import graft.lake.{LakeTable, Maintenance}
import graft.schema.SchemaRegistry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Compaction, incremental CDC reads, and stream metrics. */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def replayed(nEvents: Long, nBatches: Int,
                       shufflePartitions: Option[Int] = None): (LakeTable, GenConfig) = {
    val cfg = GenConfig(nEvents = nEvents)
    val work = TestSpark.tmpDir("maint")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = nBatches, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    def replay() = BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4,
      saltBuckets = 2, recordMeta = false)
    shufflePartitions match {
      case Some(n) => TestSpark.withShufflePartitions(n)(replay())
      case None => replay()
    }
    (table, cfg)
  }

  test("compaction: fewer files, identical visible state, old snapshot intact") {
    // each of the 4 buckets holds two of 8 tasks' shares of an epoch, so
    // every epoch writes it as 2 files: compaction has small files to merge
    val (table, _) = replayed(2000L, 5, shufflePartitions = Some(8))
    val before = table.currentSnapshot().get
    val stateBefore = table.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    assert(before.allFiles.size > before.numBuckets, "test needs small files to compact")

    val n = Maintenance.compact(table, maxFilesPerBucket = 1)
    assert(n > 0)
    val after = table.currentSnapshot().get
    assert(after.version == before.version + 1)
    assert(after.allFiles.size < before.allFiles.size)
    assert(after.allFiles.groupBy(_.bucket).forall(_._2.size == 1))
    // data identical
    val stateAfter = table.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    assert(stateAfter == stateBefore)
    // time travel to the pre-compaction snapshot still works
    val old = table.readVersion(before.version).orderBy("repo", "path").collect().map(_.toString).toSeq
    assert(old == stateBefore)
    // idempotent: nothing left to compact
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) == 0)

    // files compaction WROTE stay KEY-SORTED (globally, not just per
    // salt run), so footer (repo, path) min/max remain tight per row
    // group and point-lookup row-group pruning survives compaction.
    // Each file is read alone so row order is the file's own order.
    val afterCompact = table.currentSnapshot().get.allFiles
      .filter(_.relPath.contains(s"data/v${after.version}-"))
    assert(afterCompact.nonEmpty, "no compaction-written files found")
    afterCompact.foreach { f =>
      val ks = spark.read.parquet(s"${table.root}/${f.relPath}")
        .select("repo", "path")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(ks == ks.sorted, s"compacted file ${f.relPath} not key-sorted")
    }
  }

  test("compaction rebases across a concurrent merge instead of starving") {
    import spark.implicits._
    // one epoch onto a fresh table, which splits every bucket salt ways:
    // the touched bucket and others are left in several files
    val (table, _) = replayed(2000L, 1)
    val snapBefore = table.currentSnapshot().get
    val stateBefore = table.read().collect().map(_.toString).toSet
    // a repo name whose bucket is known, for a merge that touches ONE bucket
    def bucketOf(repo: String): Int =
      (((org.apache.spark.sql.graftx.Bridge.xxhash64(repo) % 4) + 4) % 4).toInt
    val newRepo = (0 until 64).map(i => s"cmp-rebase-$i").find(bucketOf(_) == 0).get
    val touchedBucket = 0

    var mergeFilesB0 = Set.empty[String]
    var mergeVersion = -1L
    val racingMerge: () => Unit = () => {
      val merge = new graft.merge.MergeInto(table, numBuckets = 4, saltBuckets = 2,
        recordMeta = false)
      val events = (0 until 5).map(i =>
        (100000L + i, "U", new java.sql.Timestamp(1700000000000L + i),
          newRepo, s"f$i.txt", s"c$i", "scala", s"post-$i"))
        .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
      merge.apply(events, epochId = 777L)
      val s = table.currentSnapshot().get
      mergeVersion = s.version
      mergeFilesB0 = s.filesIn(Set(touchedBucket)).map(_.relPath).toSet
    }

    // the oversized set at maxFilesPerBucket = 1 (not necessarily all 4
    // buckets — a bucket whose epoch wrote a single salt file is exempt);
    // the racing merge lands between the rewrite and the commit
    val oversized = snapBefore.allFiles.groupBy(_.bucket)
      .filter(_._2.size > 1).keySet
    assert(oversized.contains(touchedBucket) && oversized.size >= 2,
      s"test needs the touched bucket oversized plus another: $oversized")
    val n = Maintenance.compact(table, maxFilesPerBucket = 1, beforeCommit = racingMerge)

    // the touched bucket's rewrite was stale and dropped; the rest landed
    assert(n == oversized.size - 1, s"expected ${oversized.size - 1} rebased, got $n")
    val head = table.currentSnapshot().get
    assert(head.version == mergeVersion + 1)
    // ledger state carried from the HEAD (the merge's epoch), not the stale base
    assert(head.epochs.contains(777L), "rebase must carry the racing merge's ledger")
    // the touched bucket keeps the merge's files EXACTLY (uncompacted this round)
    assert(head.filesIn(Set(touchedBucket)).map(_.relPath).toSet == mergeFilesB0)
    // the other oversized buckets compacted to one file each
    (oversized - touchedBucket).foreach(b =>
      assert(head.filesIn(Set(b)).size == 1, s"bucket $b"))
    // final state = pre-compaction state + the merge's rows (compaction
    // must neither lose the merge nor resurrect pre-merge rows)
    val want = stateBefore ++ table.readVersion(mergeVersion).where(col("repo") === newRepo)
      .collect().map(_.toString)
    assert(table.read().collect().map(_.toString).toSet == want)
    // the stale rewrite of the touched bucket is GONE from disk (it would
    // otherwise leak: vacuum reclaims whole dirs, and file-granular expiry
    // only sees files some snapshot referenced)
    val hconf = spark.sparkContext.hadoopConfiguration
    val mergeDirs = mergeFilesB0.map(_.stripPrefix("data/").takeWhile(_ != '/'))
    val compactDir = table.dataDirNames()
      .filter(_.startsWith(s"v${snapBefore.version + 1}-")).filterNot(mergeDirs).head
    val staleB0 = new org.apache.hadoop.fs.Path(
      s"${table.root}/data/$compactDir/b=$touchedBucket")
    val fs = staleB0.getFileSystem(hconf)
    assert(!fs.exists(staleB0) ||
      fs.listStatus(staleB0).forall(!_.getPath.getName.endsWith(".parquet")),
      "stale rewrite files of the merge-touched bucket must be deleted")
    // idempotent follow-up: the touched bucket compacts cleanly now (iff
    // the merge left it with more than one file)
    val expectNext = if (head.filesIn(Set(touchedBucket)).size > 1) 1 else 0
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) == expectNext)
    assert(table.read().collect().map(_.toString).toSet == want)
  }

  test("changesBetween: emits exactly the keys that changed, typed I/U/D") {
    val (table, cfg) = replayed(1500L, 3)
    val v = table.currentSnapshot().get.version
    assert(v >= 2) // 3 epochs → versions 0,1,2

    val changes = Maintenance.changesBetween(table, v - 1, v)
      .select("_change_type", "repo", "path", "lsn").collect()
    assert(changes.nonEmpty)

    // independent oracle: diff the two time-travel states key-by-key
    def stateAt(ver: Long): Map[(String, String), Long] =
      table.readVersion(ver).select("repo", "path", "lsn").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val a = stateAt(v - 1)
    val b = stateAt(v)
    val wantInserts = b.keySet diff a.keySet
    val wantDeletes = a.keySet diff b.keySet
    val wantUpdates = (a.keySet intersect b.keySet).filter(k => a(k) != b(k))

    val got = changes.groupBy(_.getString(0)).view
      .mapValues(_.map(r => (r.getString(1), r.getString(2))).toSet).toMap
    assert(got.getOrElse("insert", Set.empty) == wantInserts, "inserts differ")
    assert(got.getOrElse("delete", Set.empty) == wantDeletes, "deletes differ")
    assert(got.getOrElse("update_postimage", Set.empty) == wantUpdates, "updates differ")
  }

  test("unordered (late) delivery: commit is counted and changesBetween falls back soundly") {
    import spark.implicits._
    val work = TestSpark.tmpDir("maint-late")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new graft.merge.MergeInto(table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def df(rows: (Long, String, String, String, String)*) =
      rows.map { case (lsn, op, repo, path, content) => (lsn, op, ts, repo, path, "c", "text", content) }
        .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")

    // epoch 0: key k1 at lsn 10, another key pushes the high-water to 500
    merge.apply(df((10L, "I", "r/a", "k1", "old"), (500L, "I", "r/b", "k9", "x")), 0L)
    val v0 = table.currentSnapshot().get.version
    assert(table.currentSnapshot().get.unorderedCommits == 0L)
    assert(table.currentSnapshot().get.highWaterLsn.contains(500L))

    // epoch 1 arrives LATE: lsns 50..60 — all below the mark, yet they
    // change state (k1's winner moves 10 → 60, k2 is brand new)
    merge.apply(df((60L, "U", "r/a", "k1", "new"), (50L, "I", "r/a", "k2", "fresh")), 1L)
    val v1 = table.currentSnapshot().get.version
    assert(table.currentSnapshot().get.unorderedCommits == 1L,
      "late batch not counted as unordered")

    // the hw fast path would have dropped BOTH rows (60 ≤ 500, file
    // max_lsn ≤ 500); the gated fallback must report them
    val ch = Maintenance.changesBetween(table, v0, v1)
      .select("_change_type", "path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(ch == Set(("update_postimage", "k1"), ("insert", "k2")), ch.toString)
    val pre = Maintenance.changesBetween(table, v0, v1, includePreimages = true)
      .select("_change_type", "path", "content").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(pre == Set(("update_preimage", "k1", "old"), ("update_postimage", "k1", "new"),
      ("insert", "k2", "fresh")), pre.toString)

    // an ORDERED epoch on top does not re-trip the counter, and the
    // newest range uses the fast path again (ordered endpoints)
    merge.apply(df((600L, "U", "r/a", "k2", "v2")), 2L)
    val v2 = table.currentSnapshot().get.version
    assert(table.currentSnapshot().get.unorderedCommits == 1L)
    val ch2 = Maintenance.changesBetween(table, v1, v2)
      .select("_change_type", "path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(ch2 == Set(("update_postimage", "k2")))

    // at-least-once REDELIVERY of old events (same lsn, same payload) is
    // NOT an ordering violation: the duplicates lose the argmax tie to
    // the applied copies, so the counter must not move
    merge.apply(df((60L, "U", "r/a", "k1", "new"), (50L, "I", "r/a", "k2", "fresh")), 3L)
    assert(table.currentSnapshot().get.unorderedCommits == 1L,
      "pure redelivery misclassified as unordered")
  }

  test("rebucket: state identical, history intact, incremental readers skip it, stale writers rejected") {
    import spark.implicits._
    val (table, _) = replayed(1500L, 2)
    val vBefore = table.currentSnapshot().get.version
    val before = table.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    val hwBefore = table.currentSnapshot().get.highWaterLsn

    val vRe = Maintenance.rebucket(table, newNumBuckets = 9)
    val snap = table.currentSnapshot().get
    assert(vRe == vBefore + 1 && snap.numBuckets == 9)
    assert(snap.allFiles.forall(f => f.bucket >= 0 && f.bucket < 9))
    assert(snap.highWaterLsn == hwBefore && snap.version == vRe)
    // state byte-identical; old snapshots still time-travel
    assert(table.read().orderBy("repo", "path").collect().map(_.toString).toSeq == before)
    assert(table.readVersion(vBefore).orderBy("repo", "path")
      .collect().map(_.toString).toSeq == before)

    // the cross-boundary diff of an identical state is EMPTY, in both shapes
    assert(Maintenance.changesBetween(table, vBefore, vRe).count() == 0)
    assert(Maintenance.changesBetween(table, vBefore, vRe, includePreimages = true).count() == 0)

    // a post-rebucket change is visible across the boundary
    val merge9 = new graft.merge.MergeInto(table, numBuckets = 9, saltBuckets = 2,
      recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    merge9.apply(Seq((9999999L, "I", ts, "re/repo", "x.txt", "c", "text", "post"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 99L)
    val ch = Maintenance.changesBetween(table, vBefore, vRe + 1)
      .select("_change_type", "repo").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ch == Set(("insert", "re/repo")))

    // a writer still configured for the OLD bucket count must fail loudly
    val stale = new graft.merge.MergeInto(table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    intercept[IllegalArgumentException] {
      stale.apply(Seq((10000000L, "I", ts, "re/repo", "y.txt", "c", "text", "z"))
        .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 100L)
    }
  }

  test("crash between data write and snapshot commit: retry converges") {
    // the dangerous window (SURVEY §7.4.3): data files and the quarantine
    // file for version N are on disk but the snapshot pointer never
    // landed. Nothing the attempt wrote may show before the publish, and a
    // retry of the same epoch must commit it exactly once.
    import spark.implicits._
    val cfg = GenConfig(nEvents = 1000L)
    val work = TestSpark.tmpDir("maint")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 2, partitions = 2)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    Seq((9000001L, "I", ts, null: String, "p/1", "c", "text", "poison"),
        (9000002L, "U", ts, "r/poison", null: String, "c", "text", "poison"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
      .coalesce(1).write.mode("append").parquet(s"$work/log/batch-00001")
    val table = new LakeTable(spark, s"$work/table")
    def replay() = BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4,
      saltBuckets = 2, recordMeta = true)
    replay()
    val v = table.currentSnapshot().get.version
    val epoch = 1L // the epoch that produced version v
    val stateBefore = table.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    val qFile = s"meta/quarantine/${graft.merge.Meta.quarantineName(epoch)}"
    assert(graft.merge.Meta.quarantineFiles(table).map(_.getPath.getName) ==
      Seq(graft.merge.Meta.quarantineName(epoch)))
    spark.conf.set("spark.sql.catalog.graft_crash", classOf[graft.lake.dsv2.GraftCatalog].getName)
    def historyEpochs() = spark.sql(s"CALL graft_crash.system.history('${table.root}')")
      .where(col("epoch") === epoch).count()
    def shown() = (graft.merge.Meta.quarantine(table).where(col("_epoch") === epoch).count(),
      graft.merge.Meta.metrics(table).where(col("epoch") === epoch).count(), historyEpochs())

    // simulate the crash: delete the LAST snapshot file, keep everything else
    val fs = new org.apache.hadoop.fs.Path(table.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def crash(): Unit = {
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"${table.root}/_snapshots/v$v"), false))
      assert(table.currentSnapshot().get.version == v - 1)
      assert(shown() == (0L, 0L, 0L), "an unpublished epoch is visible")
    }
    // retry: the ledger skips epoch 0 and re-applies epoch 1
    def retry(): Unit = {
      replay()
      assert(table.currentSnapshot().get.version == v)
      val stateAfter = table.read().orderBy("repo", "path").collect().map(_.toString).toSeq
      assert(stateAfter == stateBefore)
      assert(shown() == (2L, 1L, 1L), "the retried epoch must land exactly once")
      assert(spark.read.json(s"${table.root}/meta/quarantine").count() == 2L)
    }
    // the retry replaces the dead attempt's quarantine file
    crash()
    retry()
    // ... or, once vacuum has reclaimed the unreferenced file, writes it anew
    crash()
    assert(Maintenance.vacuum(table, retentionMs = 0L).contains(qFile))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${table.root}/$qFile")))
    retry()
    assert(!Maintenance.vacuum(table, retentionMs = 0L).contains(qFile))
    assert(graft.merge.Meta.quarantine(table).count() == 2L)
  }
  test("compact rejects a non-positive byte budget before doing any work") {
    val (table, _) = replayed(200L, 2)
    val before = table.snapshotVersions()
    intercept[IllegalArgumentException](Maintenance.compact(table, targetFileBytes = 0L))
    intercept[IllegalArgumentException](Maintenance.compact(table, maxFilesPerBucket = 0))
    // no half-done maintenance: no commit ran
    assert(table.snapshotVersions() == before)
  }

  test("a pre-upgrade snapshot without a summary reads in history with null summaries") {
    import spark.implicits._
    val work = TestSpark.tmpDir("metaschema")
    val table = new LakeTable(spark, s"$work/table")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def events(lsn: Long) = Seq((lsn, "U", ts, "r/a", "f", "c", "t", "x"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    val merge = new graft.merge.MergeInto(table, numBuckets = 2, saltBuckets = 1, recordMeta = true)
    merge.apply(events(1L), 0L): Unit
    // v1 as an engine that predates commit summaries wrote it
    val snap = table.currentSnapshot().get
    val legacy = graft.lake.Snapshot.serialize(snap.copy(version = 1L, summary = None))
    assert(!legacy.contains("commit="))
    val fs = new org.apache.hadoop.fs.Path(table.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"${table.root}/_snapshots/v1"), false)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    merge.apply(events(2L), 2L): Unit

    spark.conf.set("spark.sql.catalog.graft_legacy", classOf[graft.lake.dsv2.GraftCatalog].getName)
    val hist = spark.sql(s"CALL graft_legacy.system.history('${table.root}')")
      .orderBy("version").collect()
    assert(hist.map(_.getAs[Long]("version")).toSeq == Seq(0L, 1L, 2L))
    val summaryCols = Seq("operation", "epoch", "events_in", "events_quarantined",
      "keys_written", "tombstones_written", "phase_ms")
    assert(summaryCols.forall(c => hist(1).isNullAt(hist(1).fieldIndex(c))),
      s"legacy row: ${hist(1)}")
    // the legacy row's manifest columns still come from its file list
    assert(hist(1).getAs[Int]("files") == snap.allFiles.size)
    for ((r, e) <- Seq((hist(0), 0L), (hist(2), 2L))) {
      assert(r.getAs[String]("operation") == "merge" && r.getAs[Long]("epoch") == e)
      assert(r.getAs[Long]("events_in") == 1L && r.getAs[Long]("keys_written") == 1L)
      assert(r.getAs[Map[String, Long]]("phase_ms").contains("merge_write"))
    }
    assert(graft.merge.Meta.metrics(table).select("epoch").as[Long].collect().sorted.toSeq ==
      Seq(0L, 2L))
  }
  test("quarantine, summaries and metrics carry across compact, rebucket, ALTER, expiry and vacuum") {
    import spark.implicits._
    val wh = TestSpark.tmpDir("carry")
    spark.conf.set("spark.sql.catalog.graft_carry", classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_carry.warehouse", wh)
    val table = new LakeTable(spark, s"$wh/db/t")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val merge = new graft.merge.MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = true)
    // half the keys in one repo: its bucket holds over a task's share and
    // is written as two files, which gives the compaction below work
    def events(e: Long, poison: Boolean) = ((0 until 20).map(i =>
      (java.lang.Long.valueOf(e * 100 + i), "U", ts, if (i % 2 == 0) "r0" else s"r$i", s"f$i",
        "c", "t", s"v$e")) ++
      (if (!poison) Nil else Seq(
        (java.lang.Long.valueOf(e * 100 + 50), "I", ts, null, "bad", "c", "t", "poison"),
        (null.asInstanceOf[java.lang.Long], "I", ts, "r/x", "bad2", "c", "t", "poison"))))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    merge.apply(events(0, poison = false), 0L)
    merge.apply(events(1, poison = true), 1L)
    merge.apply(events(2, poison = false), 2L)
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0)
    Maintenance.rebucket(table, 3): Unit
    spark.sql("ALTER TABLE graft_carry.db.t ADD COLUMN license STRING")
    val qFiles = graft.merge.Meta.quarantineFiles(table).map(_.getPath.getName)
    assert(qFiles == Seq("e1.json"), "the ledger must carry the quarantine file across every commit")

    def history() = spark.sql(s"CALL graft_carry.system.history('${table.root}')").collect()
    val ops = history().map(r => r.getAs[String]("operation")).toSeq
    assert(ops == Seq("alter", "rebucket", "compact", "merge", "merge", "merge"))
    history().filter(_.getAs[String]("operation") != "merge").foreach { r =>
      assert(Seq("epoch", "events_in", "events_quarantined", "keys_written", "tombstones_written")
        .forall(c => r.isNullAt(r.fieldIndex(c))), s"non-merge commit reports counters: $r")
    }
    // one row per merge epoch: a summary is not inherited by the commits after it
    val m = graft.merge.Meta.metrics(table)
    assert(m.select("epoch").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(m.where(col("epoch") === 1L).select("events_quarantined").as[Long].head() == 2L)

    assert(Maintenance.expireSnapshots(table, keepLast = 1, olderThanMs = 0L).nonEmpty)
    // a quarantine append as an earlier engine named it, its row since
    // repaired upstream: no ledger references it and it holds the only
    // copy of its row, so vacuum leaves it and default reads skip it
    val legacy = new org.apache.hadoop.fs.Path(s"${table.root}/meta/quarantine/a-0123456789ab-0.json")
    val fs = legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(legacy, false)
    try out.write(("""{"lsn":5,"op":"I","ts":"2024-03-01 00:00:00","repo":"r/legacy",""" +
      """"path":"g","commit":"c","lang":"t","content":"y","_epoch":7}""" + "\n").getBytes("UTF-8"))
    finally out.close()
    assert(!Maintenance.vacuum(table, retentionMs = 0L).exists(_.startsWith("meta/quarantine")))
    assert(fs.exists(legacy))
    // summaries expire with their snapshots; the quarantine rows do not
    assert(history().map(_.getAs[String]("operation")).toSeq == Seq("alter"))
    assert(graft.merge.Meta.metrics(table).count() == 0L)
    val q = graft.merge.Meta.quarantine(table)
    assert(q.count() == 2L && q.where(col("_epoch") === 1L).count() == 2L)
    assert(spark.read.json(s"${table.root}/meta/quarantine/${qFiles.head}").count() == 2L)
    val r = spark.sql(s"CALL graft_carry.system.replay_quarantine('${table.root}')").head()
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L, s"still-poison rows replay and re-quarantine: $r")
    // the default source's still-poison rows are already quarantined: a
    // replay counts them without writing them again, so a second replay
    // with no repair reads the same files and is a ledger skip
    assert(graft.merge.Meta.quarantineFiles(table).size == 1)
    assert(graft.merge.Meta.quarantine(table).count() == 2L)
    val r2 = spark.sql(s"CALL graft_carry.system.replay_quarantine('${table.root}')").head()
    assert(r2.getLong(0) == r.getLong(0) && r2.getLong(1) == 0L,
      s"a repeated replay with no repair must be a ledger skip: $r2")
    assert(graft.merge.Meta.quarantine(table).count() == 2L)
    // the legacy file replays by naming it as the source
    val lr = spark.sql(
      s"CALL graft_carry.system.replay_quarantine('${table.root}', '$legacy')").head()
    assert(lr.getLong(1) == 1L && lr.getLong(2) == 0L, s"legacy replay: $lr")
    assert(table.read().where(col("repo") === "r/legacy").count() == 1L)
  }

  test("concurrent snapshot commit of the same version is rejected") {
    val (table, _) = replayed(200L, 1)
    val snap = table.currentSnapshot().get
    val clash = snap.copy(epochs = snap.epochs + 999L)
    intercept[graft.lake.CommitConflictException](
      table.commitSnapshot(clash, graft.lake.CommitSummary("merge", Some(999L))))
  }

  test("concurrent writers rebase on commit conflict: every epoch lands exactly once") {
    val (table, _) = replayed(400L, 1)
    val base = table.currentSnapshot().get
    import spark.implicits._
    // six merges race from six threads; each writes a distinct key set and
    // epoch, so the final state must contain ALL of them regardless of
    // commit order — losers rebase onto the winner's snapshot and retry
    val epochs = (100L to 105L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures: Seq[scala.concurrent.Future[graft.merge.MergeStats]] = epochs.map { e =>
      scala.concurrent.Future {
        val events = (0 until 10).map(i =>
          (e * 1000L + i, s"race-repo-$e", s"f$i.txt", "c", "U"))
          .toDF("lsn", "repo", "path", "content", "op")
        new graft.merge.MergeInto(table, numBuckets = 4, saltBuckets = 2,
          recordMeta = false).apply(events, e)
      }
    }.toSeq
    val stats = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(stats.forall(!_.skipped))
    val end = table.currentSnapshot().get
    // one commit per merge, contiguous versions — no lost or doubled commit
    assert(end.version == base.version + epochs.size)
    assert(epochs.forall(end.epochs.contains))
    val got = table.read().where(col("repo").startsWith("race-repo-"))
    assert(got.count() == epochs.size * 10L)
    // a redelivered epoch after the race is still a ledger no-op
    val re = new graft.merge.MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
      .apply(Seq((1L, "x", "y", "z", "U")).toDF("lsn", "repo", "path", "content", "op"), 100L)
    assert(re.skipped)
  }

  test("expireSnapshots: reclaims exclusively-old storage, retained history intact") {
    // at 8 tasks each bucket is written as 2 files, so compaction has work
    val (table, _) = replayed(1500L, 4, shufflePartitions = Some(8)) // versions 0..3
    Maintenance.compact(table, maxFilesPerBucket = 1) // version 4 rewrites everything
    val versions = table.snapshotVersions()
    assert(versions.size == 5)
    val keepState = table.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    val prevState = table.readVersion(versions(versions.size - 2))
      .orderBy("repo", "path").collect().map(_.toString).toSeq

    // nothing young enough to expire → no-op
    assert(Maintenance.expireSnapshots(table, keepLast = 2,
      olderThanMs = 3600L * 1000).isEmpty)

    val removed = Maintenance.expireSnapshots(table, keepLast = 2, olderThanMs = 0L)
    assert(removed.nonEmpty)
    assert(table.snapshotVersions() == versions.takeRight(2))

    // retained versions read identically
    assert(table.read().orderBy("repo", "path").collect().map(_.toString).toSeq == keepState)
    assert(table.readVersion(versions(versions.size - 2))
      .orderBy("repo", "path").collect().map(_.toString).toSeq == prevState)
    // incremental reads over the retained range still work
    Maintenance.changesBetween(table, versions(versions.size - 2), versions.last).count(): Unit
    // expired versions fail loudly
    intercept[Exception](table.readVersion(versions.head).count())

    // every surviving data file is referenced by a retained snapshot —
    // and every referenced file survives (no over-delete)
    val referenced = table.snapshotVersions()
      .flatMap(v => table.snapshotAt(v).allFiles.map(_.relPath)).toSet
    val fs = new org.apache.hadoop.fs.Path(table.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(table.root, "data"), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet"))
          b += p.toString.stripPrefix(s"file:${table.root}/")
      }
      b.result().toSet
    }
    assert(onDisk == referenced)
  }

  test("stats pruning: a compaction-only version diff reads zero data files") {
    // at 8 tasks each bucket is written as 2 files, so compaction has work
    val (table, _) = replayed(1500L, 3, shufflePartitions = Some(8))
    val v1 = table.currentSnapshot().get.version
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0)
    val v2 = table.currentSnapshot().get.version
    val hw = table.snapshotAt(v1).highWaterLsn.get
    // compaction rewrites every bucket's FILES but no rows: all recorded
    // footer stats sit at or below the old high-water mark, so the
    // manifest alone proves there is nothing to read — the incremental
    // CDC read prunes every file and returns empty without data IO
    val after = table.currentSnapshot().get
    assert(after.allFiles.forall(f => f.hasStats && f.maxLsn <= hw))
    assert(Maintenance.changesBetween(table, v1, v2).isEmpty)
  }

  test("snapshot high-water mark tracks the max applied lsn across epochs") {
    val (table, _) = replayed(900L, 3)
    val versions = table.snapshotVersions()
    val hws = versions.map(v => table.snapshotAt(v).highWaterLsn.get)
    assert(hws == hws.sorted, "high-water mark must be nondecreasing")
    val trueMax = table.read().agg(max("lsn")).collect().head.getLong(0)
    assert(hws.last >= trueMax)
    val filesMax = table.currentSnapshot().get.allFiles.map(_.maxLsn).max
    assert(hws.last == filesMax)
  }

  test("vacuum honors the retention window: fresh unreferenced artifacts survive") {
    val (table, _) = replayed(400L, 1)
    val fs = new org.apache.hadoop.fs.Path(table.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an in-flight writer's artifacts: written, not yet committed
    val dir = new org.apache.hadoop.fs.Path(s"${table.root}/data/v99-inflight/b=0")
    fs.mkdirs(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "part-0.parquet"), true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    // default retention: the fresh artifact is NOT an orphan yet
    assert(Maintenance.vacuum(table).isEmpty)
    assert(table.dataDirNames().contains("v99-inflight"))
    // aged out (retention 0): now it goes
    assert(Maintenance.vacuum(table, retentionMs = 0L) == Seq("v99-inflight"))
  }

  test("vacuum sweeps aged _dml staging dirs (crashed DML), spares fresh ones") {
    val (table, _) = replayed(300L, 1)
    val fs = new org.apache.hadoop.fs.Path(table.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed GraftDeltaBatchWrite strands its staging dir: no snapshot
    // ever references _dml, so only this sweep can reclaim it
    val stranded = new org.apache.hadoop.fs.Path(s"${table.root}/_dml/q-dead")
    fs.mkdirs(stranded)
    val out = fs.create(new org.apache.hadoop.fs.Path(stranded, "task-0.jsonl"), true)
    out.write("{}".getBytes); out.close()
    assert(Maintenance.vacuum(table).isEmpty, "fresh staging must survive retention")
    assert(fs.exists(stranded))
    assert(Maintenance.vacuum(table, retentionMs = 0L).contains("_dml/q-dead"))
    assert(!fs.exists(stranded))
  }

  test("vacuum removes exactly the orphaned data dirs of a crashed writer") {
    val (table, _) = replayed(800L, 2)
    val v = table.currentSnapshot().get.version
    val fs = new org.apache.hadoop.fs.Path(table.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash: last snapshot pointer lost, its data dir stays behind
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"${table.root}/_snapshots/v$v"), false))
    val dirsBefore = table.dataDirNames().toSet
    // retry writes a NEW uuid dir for version v and commits it
    val work = table.root.stripSuffix("/table")
    BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val state = table.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    val removed = Maintenance.vacuum(table, retentionMs = 0L)
    // exactly the crashed writer's dir goes; every referenced version stays
    assert(removed.toSet.subsetOf(dirsBefore))
    assert(removed.nonEmpty, "expected the crashed writer's dir to be orphaned")
    val stateAfter = table.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    assert(stateAfter == state)
    (0L to v).foreach(ver => assert(table.readVersion(ver).count() > 0))
    assert(Maintenance.vacuum(table, retentionMs = 0L).isEmpty) // idempotent
  }

  test("hot-repo skew: salting fans the hot bucket out across files") {
    // half of all events hit one repo → one bucket would be pathological;
    // the salt dimension must spread it over multiple files/tasks
    val cfg = GenConfig(nEvents = 4000L, hotRepoPct = 50)
    val work = TestSpark.tmpDir("skew")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 1, partitions = 4)
    val table = new LakeTable(spark, s"$work/table")
    BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4, saltBuckets = 4,
      recordMeta = false)
    val snap = table.currentSnapshot().get
    // find the hot repo's bucket
    val hotBucket = table.read()
      .groupBy(col("repo")).count().orderBy(col("count").desc)
      .limit(1).select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(col("repo")), lit(4)).cast("int"))
      .collect().head.getInt(0)
    val hotFiles = snap.allFiles.count(_.bucket == hotBucket)
    assert(hotFiles >= 2, s"hot bucket $hotBucket written as $hotFiles file(s) — salting inert")
    // and the spread is real: no single file holds everything
    val spark2 = spark
    val counts = spark2.read
      .parquet(snap.allFiles.filter(_.bucket == hotBucket)
        .map(f => s"${table.root}/${f.relPath}"): _*)
      .groupBy(input_file_name()).count().collect().map(_.getLong(1))
    assert(counts.length >= 2 && counts.max < counts.sum,
      s"salt did not spread rows: ${counts.mkString(",")}")
  }

  test("stream metrics record per-batch counts incl. late-beyond-watermark") {
    val cfg = GenConfig(nEvents = 900L)
    val work = TestSpark.tmpDir("stream-metrics")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 3, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    StreamingReplay.run(spark, s"$work/log", table,
      SchemaRegistry.eventSchemaV1, s"$work/cp",
      numBuckets = 4, recordMeta = true, maxFilesPerTrigger = 2,
      watermark = "10 minutes")
    val m = spark.read.parquet(s"${table.root}/meta/stream_metrics")
    assert(m.count() > 0)
    val total = m.agg(sum("events_in")).collect().head.getLong(0)
    assert(total >= cfg.nEvents) // includes duplicate deliveries
    assert(m.columns.contains("late_beyond_watermark"))
    // generator jitter is ±4 min, within the 10-minute watermark → no lates
    assert(m.agg(sum("late_beyond_watermark")).collect().head.getLong(0) == 0L)
  }

  test("linksSupported probe: true on local fs (no litter), false where links fail") {
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("linkprobe"))
    java.nio.file.Files.createDirectories(dir)
    assert(LakeTable.linksSupported(dir))
    val leftovers = java.nio.file.Files.list(dir)
    try assert(!leftovers.iterator().hasNext) finally leftovers.close()
    // an unwritable pseudo-fs: the probe must answer false, not throw,
    // so writeAtomic degrades (and warns) instead of crashing
    assert(!LakeTable.linksSupported(java.nio.file.Paths.get("/proc")))
  }
}
