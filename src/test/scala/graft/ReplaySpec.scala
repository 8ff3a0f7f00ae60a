package graft

import graft.gen.{ChangeGen, GenConfig}
import graft.ingest.BatchReplay
import graft.lake.LakeTable
import graft.merge.{Meta, MergeInto}
import graft.schema.SchemaRegistry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden replay tests: the engine's final table state must equal an
  * independent (non-Spark) fold of the change log, row by row, including
  * sha256(content) — the verified invariant. Mirrors the reference's
  * golden-fixture strategy (src/places/place_index.rs:455-501). */
class ReplaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def stateOf(table: LakeTable): Map[(String, String), (Long, String, String, String)] = {
    table.read()
      .select("repo", "path", "lsn", "commit", "lang", "content")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getString(3), r.getString(4), r.getString(5))))
      .toMap
  }

  private def expectedOf(cfg: GenConfig): Map[(String, String), (Long, String, String, String)] =
    ChangeGen.expectedState(cfg).map { case (k, e) =>
      k -> ((e.lsn, e.commit, e.lang, e.content))
    }

  test("batch replay matches the independent fold, including sha256") {
    val cfg = GenConfig(nEvents = 3000L, nRepos = 20, pathsPerRepo = 25)
    val work = TestSpark.tmpDir("replay")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 5, partitions = 4)
    val table = new LakeTable(spark, s"$work/table")
    val stats = BatchReplay.replay(spark, s"$work/log", table, numBuckets = 8)

    assert(stats.size == 5)
    assert(stats.forall(!_.skipped))

    val got = stateOf(table)
    val want = expectedOf(cfg)
    assert(got.keySet == want.keySet, "key sets differ")
    got.foreach { case (k, v) => assert(v == want(k), s"row mismatch at $k") }

    // the sha256(content) invariant, engine-side vs locally computed
    val shaGot = table.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    want.foreach { case (k, (_, _, _, content)) =>
      assert(shaGot(k) == ChangeGen.sha256Hex(content), s"sha mismatch at $k")
    }
  }

  test("stray batch-* entries (snapshot copy, half-written dir) do not abort or double-read") {
    // listBatches' tolerance invariant must hold for BOTH batch entry
    // points: per-epoch replay AND the one-shot replayAll (which used a
    // raw batch-* glob that ingested exactly these entries)
    val cfg = GenConfig(nEvents = 1500L, nRepos = 10, pathsPerRepo = 20)
    val work = TestSpark.tmpDir("straybatch")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 3, partitions = 2)
    val fs = new org.apache.hadoop.fs.Path(s"$work/log")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a snapshot copy of a real batch (would double-apply its events)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$work/log/batch-00001"),
      fs, new org.apache.hadoop.fs.Path(s"$work/log/batch-00001.bak"),
      false, spark.sparkContext.hadoopConfiguration)
    // a half-written spool dir with a corrupt part file (would abort)
    val tmpDir = new org.apache.hadoop.fs.Path(s"$work/log/batch-tmp")
    fs.mkdirs(tmpDir)
    val out = fs.create(new org.apache.hadoop.fs.Path(tmpDir, "part-0.parquet"), true)
    out.write(Array[Byte](0x13, 0x37)); out.close()

    val t1 = new LakeTable(spark, s"$work/t1")
    BatchReplay.replay(spark, s"$work/log", t1, numBuckets = 4)
    val t2 = new LakeTable(spark, s"$work/t2")
    BatchReplay.replayAll(spark, s"$work/log", t2, numBuckets = 4)
    val want = expectedOf(cfg)
    Seq(t1, t2).foreach { t =>
      val got = stateOf(t)
      assert(got.keySet == want.keySet)
      got.foreach { case (k, v) => assert(v == want(k), s"row mismatch at $k") }
    }
  }

  test("re-delivering a committed epoch is a no-op (exactly-once)") {
    val cfg = GenConfig(nEvents = 800L)
    val work = TestSpark.tmpDir("idem")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 2, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4)
    val before = stateOf(table)
    val versionBefore = table.currentSnapshot().get.version

    // re-deliver epoch 1 verbatim
    val merge = new MergeInto(table, numBuckets = 4)
    val redo = merge.apply(spark.read.parquet(s"$work/log/batch-00001"), 1L)
    assert(redo.skipped, "committed epoch must be skipped")
    assert(table.currentSnapshot().get.version == versionBefore)
    assert(stateOf(table) == before)
  }

  test("resume: partial replay then full replay equals one-shot replay") {
    val cfg = GenConfig(nEvents = 1500L)
    val work = TestSpark.tmpDir("resume")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 6, partitions = 2)

    // interrupted run: only first 3 batches visible, then "crash"
    val t1 = new LakeTable(spark, s"$work/t1")
    val merge1 = new MergeInto(t1, numBuckets = 4)
    BatchReplay.listBatches(spark, s"$work/log").take(3).foreach { case (e, d) =>
      merge1.apply(spark.read.parquet(d), e)
    }
    // restart: replay the whole log — committed epochs skip, rest apply
    val stats = BatchReplay.replay(spark, s"$work/log", t1, numBuckets = 4)
    assert(stats.count(_.skipped) == 3)

    assert(stateOf(t1) == expectedOf(cfg))
  }

  test("late duplicate of an upsert cannot resurrect a deleted key") {
    import spark.implicits._
    import graft.schema.ChangeEvent
    val work = TestSpark.tmpDir("tomb")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 4, recordMeta = false)
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000)
    val up = ChangeEvent(10L, "U", ts(10), "r1", "a.txt", "c" * 40, "scala", "hello")
    val del = ChangeEvent(20L, "D", ts(20), "r1", "a.txt", "d" * 40, "scala", null)
    merge.apply(Seq(up).toDF(), 0L)
    merge.apply(Seq(del).toDF(), 1L)
    assert(table.read().where($"repo" === "r1").count() == 0)
    // duplicate of lsn 10 redelivered in a NEW epoch — must stay deleted
    merge.apply(Seq(up).toDF(), 2L)
    assert(table.read().where($"repo" === "r1").count() == 0,
      "tombstone must win the lsn argmax over a redelivered older upsert")
  }

  test("schema evolution: v2 adds a column; v1 writers still work") {
    import spark.implicits._
    val work = TestSpark.tmpDir("evo")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 4, recordMeta = false)
    def ts(s: Long) = new java.sql.Timestamp(1735689600000L + s * 1000)

    // epoch 0: v1 events
    val v1 = Seq(
      graft.schema.ChangeEvent(1L, "I", ts(1), "r1", "a.txt", "a" * 40, "scala", "one"),
      graft.schema.ChangeEvent(2L, "I", ts(2), "r2", "b.txt", "b" * 40, "rust", "two"))
    merge.apply(v1.toDF(), 0L)
    assert(table.currentSnapshot().get.schemaVersion == 1)

    // epoch 1: v2 events carry `branch`
    val v2 = Seq(
      (3L, "U", ts(3), "r1", "a.txt", "e" * 40, "scala", "one-v2", "main"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content", "branch")
    merge.apply(v2, 1L)
    val snap = table.currentSnapshot().get
    assert(snap.schemaVersion == 2)
    assert(snap.schema.fieldNames.contains("branch"))

    val rows = table.read().orderBy("repo").collect()
    assert(rows.length == 2)
    val r1 = rows.find(_.getString(rows.head.fieldIndex("repo")) == "r1").get
    assert(r1.getAs[String]("content") == "one-v2")
    assert(r1.getAs[String]("branch") == "main")
    val r2 = rows.find(_.getAs[String]("repo") == "r2").get
    assert(r2.getAs[String]("branch") == null, "old rows read as null for new column")

    // epoch 2: a v1 writer (no branch column) updates r2 — still legal
    val v1again = Seq(
      graft.schema.ChangeEvent(4L, "U", ts(4), "r2", "b.txt", "f" * 40, "rust", "two-v2"))
    merge.apply(v1again.toDF(), 2L)
    val r2b = table.read().where($"repo" === "r2").collect().head
    assert(r2b.getAs[String]("content") == "two-v2")
    assert(r2b.getAs[String]("branch") == null)
    assert(table.currentSnapshot().get.schema.fieldNames.contains("branch"))
  }

  test("lineage and metrics tables are recorded per epoch") {
    val cfg = GenConfig(nEvents = 500L)
    val work = TestSpark.tmpDir("meta")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 2, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4, recordMeta = true)
    val m = Meta.metrics(table).collect()
    assert(m.length == 2)
    val lin = Meta.lineage(table)
    assert(lin.count() > 0)
    assert(lin.columns.toSet ==
      Set("bucket", "n_keys", "min_lsn", "max_lsn", "version", "epoch"))
  }

  test("schema evolution: int->long widen reads old int32 files on BOTH read paths") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val work = TestSpark.tmpDir("widen")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 2, saltBuckets = 1, recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val base = SchemaRegistry.eventSchemaV1
    def mk(schema: StructType, rows: Row*) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    // epoch 0: `stars` is an INT column — files store int32
    val vInt = base.add(StructField("stars", IntegerType, nullable = true))
    merge.apply(mk(vInt,
      Row(1L, "I", ts, "r/a", "f1", "c", "text", "one", 7),
      Row(2L, "I", ts, "r/b", "f2", "c", "text", "two", 9)), 0L)
    // epoch 1: a producer widened `stars` to LONG — table schema widens,
    // epoch-0 files stay int32 on disk
    val vLong = base.add(StructField("stars", LongType, nullable = true))
    merge.apply(mk(vLong,
      Row(3L, "I", ts, "r/c", "f3", "c", "text", "three", 5000000000L)), 1L)
    assert(table.currentSnapshot().get.schema("stars").dataType == LongType)
    val expect = Map("r/a" -> 7L, "r/b" -> 9L, "r/c" -> 5000000000L)
    // native-reader path (merge target reads + read())
    val viaNative = table.read().select("repo", "stars").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaNative == expect)
    // row-based DSv2 reader path must upcast the int32 file too
    val viaDsv2 = spark.read.format("graft").load(table.root)
      .select("repo", "stars").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaDsv2 == expect)
    // and a further epoch merging on top of the mixed layout still works
    merge.apply(mk(vLong,
      Row(4L, "U", ts, "r/a", "f1", "c", "text", "one2", 8L)), 2L)
    assert(table.read().where(col("repo") === "r/a").select("stars").head.getLong(0) == 8L)
  }

  test("malformed events are quarantined, not applied and not fatal") {
    import spark.implicits._
    val work = TestSpark.tmpDir("quarantine")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = true)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    // two valid events + four poison shapes: null repo (would otherwise
    // write an unparseable b=__HIVE_DEFAULT_PARTITION__ dir and fail the
    // commit), null path, null lsn, unknown op
    val events = Seq(
      (java.lang.Long.valueOf(1L), "I", ts, "r/a", "f1", "c", "text", "one"),
      (java.lang.Long.valueOf(2L), "U", ts, "r/b", "f2", "c", "text", "two"),
      (java.lang.Long.valueOf(3L), "I", ts, null, "fx", "c", "text", "bad-repo"),
      (java.lang.Long.valueOf(4L), "I", ts, "r/c", null, "c", "text", "bad-path"),
      (null.asInstanceOf[java.lang.Long], "I", ts, "r/d", "f4", "c", "text", "bad-lsn"),
      (java.lang.Long.valueOf(6L), "X", ts, "r/e", "f5", "c", "text", "bad-op")
    ).toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    val stats = merge.apply(events, epochId = 0L)
    assert(!stats.skipped)
    assert(stats.eventsIn == 6 && stats.eventsQuarantined == 4 && stats.keysWritten == 2)
    assert(stateOf(table).keySet == Set(("r/a", "f1"), ("r/b", "f2")))
    // quarantined rows persisted for replay-after-repair, tagged by epoch
    val q = spark.read.json(s"${table.root}/meta/quarantine")
    assert(q.count() == 4)
    assert(q.where(col("_epoch") === 0L).count() == 4)
    assert(q.where(col("op") === "X").count() == 1)
    // metrics table records the count
    val m = Meta.metrics(table).collect()
    assert(m.length == 1)
    assert(Meta.metrics(table).select("events_quarantined").head.getLong(0) == 4L)
    // an all-poison epoch still commits (ledgered for exactly-once) and
    // leaves state untouched
    val bad = Seq((null.asInstanceOf[java.lang.Long], "I", ts, null, null, "c", "t", "x"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    val s2 = merge.apply(bad, epochId = 1L)
    assert(!s2.skipped && s2.eventsQuarantined == 1 && s2.keysWritten == 0)
    assert(stateOf(table).keySet == Set(("r/a", "f1"), ("r/b", "f2")))
    assert(table.currentSnapshot().get.epochs.contains(1L))
  }

  test("quarantine rows land exactly once per epoch, even under commit conflicts") {
    import spark.implicits._
    val work = TestSpark.tmpDir("quarantine-race")
    val table = new LakeTable(spark, s"$work/table")
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    // seed so every racer below targets the SAME buckets (same repo keys):
    // overlapping touched-file sets force the losers down the FULL
    // recompute path, which used to re-append the epoch's quarantine rows
    // on every attempt (they were persisted before the commit)
    new MergeInto(table, numBuckets = 2, saltBuckets = 1, recordMeta = true)
      .apply(Seq((1L, "I", ts, "r/a", "seed", "c", "t", "s"))
        .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 0L): Unit
    val epochs = (100L to 105L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = epochs.map { e =>
      scala.concurrent.Future {
        val events = Seq(
          (java.lang.Long.valueOf(e * 10L), "U", ts, "r/a", s"f$e", "c", "t", s"v$e"),
          (java.lang.Long.valueOf(e * 10L + 1L), "I", ts, null, s"bad$e", "c", "t", "poison"),
          (null.asInstanceOf[java.lang.Long], "I", ts, "r/x", s"bad2-$e", "c", "t", "poison")
        ).toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
        new MergeInto(table, numBuckets = 2, saltBuckets = 1, recordMeta = true)
          .apply(events, e)
      }
    }.toSeq
    val stats = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    assert(stats.forall(s => !s.skipped && s.eventsQuarantined == 2))
    // exactly 2 quarantine rows per epoch — retries must not duplicate them
    val q = Meta.quarantine(table)
    assert(q.count() == epochs.size * 2L,
      s"quarantine duplicated rows: ${q.groupBy("_epoch").count().collect().toSeq}")
    epochs.foreach(e => assert(q.where(col("_epoch") === e).count() == 2L))
    // the attempts that lost a race left unreferenced files; once vacuum
    // has reclaimed them the raw directory holds exactly the committed rows
    graft.lake.Maintenance.vacuum(table, retentionMs = 0L): Unit
    val raw = spark.read.json(s"${table.root}/meta/quarantine")
    assert(raw.count() == epochs.size * 2L,
      s"raw quarantine rows after vacuum: ${raw.groupBy("_epoch").count().collect().toSeq}")
    epochs.foreach(e => assert(raw.where(col("_epoch") === e).count() == 2L))
  }

  test("schema registry: widen ok, narrow/illegal rejected") {
    import org.apache.spark.sql.types._
    val v1 = SchemaRegistry.eventSchemaV1
    val v2 = SchemaRegistry.eventSchemaV2
    val e = SchemaRegistry.evolve(v1, v2)
    assert(e.fieldNames.contains("branch"))
    // v1 into v2 table: no change
    assert(SchemaRegistry.evolve(e, v1) == e)
    // widen int->long
    val a = StructType(Seq(StructField("x", IntegerType)))
    val b = StructType(Seq(StructField("x", LongType)))
    assert(SchemaRegistry.evolve(a, b).head.dataType == LongType)
    // incompatible type change rejected
    val c = StructType(Seq(StructField("x", StringType)))
    intercept[IllegalArgumentException](SchemaRegistry.evolve(a, c))
    // new non-nullable column rejected
    val d = StructType(Seq(StructField("x", IntegerType), StructField("y", StringType, nullable = false)))
    intercept[IllegalArgumentException](SchemaRegistry.evolve(a, d))
  }

  test("snapshot serde roundtrip") {
    import graft.lake.{FileEntry, Snapshot}
    val s = Snapshot(7L, 2, SchemaRegistry.eventSchemaV2, 16, Set(1L, 5L),
      Seq(FileEntry(0, "data/v7/b=0/x.parquet"), FileEntry(3, "data/v7/b=3/y.parquet")))
    assert(Snapshot.deserialize(Snapshot.serialize(s)) == s)
  }

  test("fresh-table merge skips the touched-bucket scan job; incremental keeps it") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // own session: AQE off makes the job count deterministic (one job per
    // action instead of one per materialized query stage); the job-group
    // filter isolates this test from concurrently-running suites on the
    // shared context
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import s.implicits._
    val work = TestSpark.tmpDir("freshskip")
    val table = new LakeTable(s, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    def events(lo: Long) = (lo until lo + 50L).map(i =>
      (i, "I", new java.sql.Timestamp(1700000000000L + i),
        s"r${i % 5}", s"p${i % 7}", s"c$i", "scala", s"body-$i"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")

    val counts = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g.startsWith("freshskip-"))
          counts.computeIfAbsent(g,
            _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet(): Unit
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      s.sparkContext.setJobGroup("freshskip-fresh", "fresh apply")
      merge.apply(events(0), 0L)
      s.sparkContext.setJobGroup("freshskip-incr", "incremental apply")
      merge.apply(events(1000), 1L)
      s.sparkContext.clearJobGroup()
      def n(g: String) = Option(counts.get(g)).map(_.get).getOrElse(0)
      // listener delivery is async: wait for the expected floor, then a
      // settle window to catch any unexpected EXTRA job
      val deadline = System.nanoTime() + 10_000_000_000L
      while (System.nanoTime() < deadline &&
        (n("freshskip-fresh") < 1 || n("freshskip-incr") < 2)) Thread.sleep(50)
      Thread.sleep(500)
      assert(n("freshskip-fresh") == 1,
        s"fresh-table apply should run exactly the write job, ran ${n("freshskip-fresh")}")
      assert(n("freshskip-incr") == 2,
        s"incremental apply should run touched-scan + write, ran ${n("freshskip-incr")}")
      // and the fast path must not have cost correctness: both epochs
      // write the same 35 (repo, path) keys — lcm(5,7)=35 — so the final
      // state is 35 live rows, each won by the epoch-1 lsn
      assert(table.read().count() == 35)
      assert(table.read().agg(org.apache.spark.sql.functions.min("lsn"))
        .head().getLong(0) >= 1000L)
    } finally {
      s.sparkContext.removeSparkListener(listener)
      s.sparkContext.clearJobGroup()
    }
  }
}
