package graft

import graft.gen.{ChangeGen, GenConfig}
import graft.ingest.BatchReplay
import graft.lake.{LakeTable, Maintenance}
import graft.merge.MergeInto
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-list splitting: once the file list passes the threshold, the
  * snapshot root holds per-bucket-group pointers to CONTENT-ADDRESSED
  * manifest files; untouched groups reuse their manifest across commits,
  * so commit IO tracks change volume, not table size (SURVEY §9's
  * B≫10⁵ metadata limit, Iceberg-manifest-list style). */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rootText(table: LakeTable, version: Long): String = {
    val p = new org.apache.hadoop.fs.Path(s"${table.root}/_snapshots/v$version")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  test("split mode: root holds manifest pointers, state identical to inline mode") {
    val work = TestSpark.tmpDir("manifest")
    val cfg = GenConfig(nEvents = 1500L)
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 2, partitions = 2)
    val split = new LakeTable(spark, s"$work/split", manifestSplitThreshold = 0)
    BatchReplay.replay(spark, s"$work/log", split, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val inline = new LakeTable(spark, s"$work/inline")
    BatchReplay.replay(spark, s"$work/log", inline, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)

    val v = split.currentSnapshot().get.version
    val text = rootText(split, v)
    assert(text.contains("manifest="), "split root should reference manifests")
    assert(!text.contains("file="), "split root should not inline file entries")
    // a fixed header (with its one commit= summary line) plus one ref per
    // populated bucket group: 4 buckets fill at most 4 of the 64 groups
    val lines = text.linesIterator.toSeq
    assert(lines.count(_.startsWith("manifest=")) <= 4, "one manifest ref per populated group")
    assert(lines.size < 13, "split root should stay small")

    val a = split.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    val b = inline.read().orderBy("repo", "path").collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
    // time travel through split snapshots
    (0L to v).foreach(ver => assert(split.readVersion(ver).count() > 0))
  }

  test("unchanged bucket-groups reuse the same content-addressed manifest") {
    import spark.implicits._
    val work = TestSpark.tmpDir("manifest-reuse")
    val cfg = GenConfig(nEvents = 2000L)
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 1, partitions = 2)
    val table = new LakeTable(spark, s"$work/table", manifestSplitThreshold = 0)
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    merge.apply(spark.read.parquet(s"$work/log/batch-00000"), 0L)
    assert(table.currentSnapshot().get.allFiles.map(_.bucket).distinct.size == 4,
      "test needs all 4 buckets populated")

    // epoch 1 touches exactly ONE bucket (a single repo)
    val ts = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val one = Seq((999999L, "U", ts, "solo/repo", "src/a.txt", "c1", "text", "body"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    val stats = merge.apply(one, 1L)
    assert(stats.bucketsTouched == 1)

    val r0 = table.manifestRefsOf(0L).toSet
    val r1 = table.manifestRefsOf(1L).toSet
    // 3 untouched groups reuse their v0 manifest byte-for-byte (same
    // content hash → same file); only the touched group gets a new one
    assert((r0 intersect r1).size == 3, s"r0=$r0 r1=$r1")
    assert((r1 diff r0).size == 1)
  }

  test("lazy manifests: a one-bucket merge never loads untouched groups") {
    import spark.implicits._
    val work = TestSpark.tmpDir("manifest-lazy")
    val cfg = GenConfig(nEvents = 2000L)
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 1, partitions = 2)
    val table = new LakeTable(spark, s"$work/table", manifestSplitThreshold = 0)
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    merge.apply(spark.read.parquet(s"$work/log/batch-00000"), 0L)
    assert(table.currentSnapshot().get.allFiles.map(_.bucket).distinct.size == 4)

    val ts = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val one = Seq((999999L, "U", ts, "solo/repo", "src/a.txt", "c1", "text", "body"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    val before = table.manifestLoads.get()
    val stats = merge.apply(one, 1L)
    val delta = table.manifestLoads.get() - before
    assert(stats.bucketsTouched == 1)
    // the epoch resolves the touched bucket's group twice (target read +
    // successor listing) and must NEVER materialize the other 3 groups —
    // driver memory and manifest IO track the touched set, not the table
    assert(delta <= 2, s"expected <=2 group loads for a 1-bucket epoch, got $delta")
  }

  test("split snapshots: changesBetween skips identical groups and matches the state diff") {
    import spark.implicits._
    val work = TestSpark.tmpDir("manifest-cdc")
    val cfg = GenConfig(nEvents = 1200L)
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 1, partitions = 2)
    val table = new LakeTable(spark, s"$work/table", manifestSplitThreshold = 0)
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    merge.apply(spark.read.parquet(s"$work/log/batch-00000"), 0L)
    val ts = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val one = Seq((888888L, "U", ts, "solo/repo", "src/b.txt", "c2", "text", "fresh"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    merge.apply(one, 1L)

    val before = table.manifestLoads.get()
    val changes = Maintenance.changesBetween(table, 0L, 1L)
      .select("_change_type", "repo", "path").collect()
    val delta = table.manifestLoads.get() - before
    assert(changes.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      == Seq(("insert", "solo/repo", "src/b.txt")))
    // content-addressed group diff: the 3 unchanged groups' manifests are
    // recognized identical BY NAME and never loaded (2 snapshots × 1
    // differing group, + the old side of the changed bucket)
    assert(delta <= 3, s"expected <=3 group loads for a split CDC read, got $delta")
  }

  test("file entries round-trip footer stats and the root carries the high-water mark") {
    import graft.lake.{FileEntry, InlineFiles, Snapshot}
    val s = Snapshot(9L, 1, graft.schema.SchemaRegistry.eventSchemaV1, 8, Set(2L),
      InlineFiles(Seq(
        FileEntry(0, "data/v9-x/b=0/a.parquet", minLsn = 5L, maxLsn = 17L, nKeys = 4L),
        FileEntry(3, "data/v9-x/b=3/b.parquet"))), // legacy, no stats
      highWaterLsn = Some(17L))
    val rt = Snapshot.deserialize(Snapshot.serialize(s))
    assert(rt == s)
    assert(rt.highWaterLsn.contains(17L))
    val Seq(withStats, legacy) = rt.filesIn(Set(0, 3)).sortBy(_.bucket)
    assert(withStats.hasStats && withStats.minLsn == 5L && withStats.maxLsn == 17L
      && withStats.nKeys == 4L)
    assert(!legacy.hasStats)
  }

  test("epoch ledger serializes run-length encoded; size tracks generations, not epochs") {
    import graft.lake.Snapshot
    // one stream generation = contiguous base+batchId epochs; mixed with
    // a negative-base generation (epoch bases are 64-bit hashes) and a
    // lone batch epoch
    val gen1 = (1000L to 1099L).toSet
    val gen2 = (-5000L to -4990L).toSet
    val epochs = gen1 ++ gen2 + 7L
    val enc = Snapshot.serializeEpochs(epochs)
    // 3 runs, not 112 numbers
    assert(enc.split(',').length == 3, enc)
    assert(enc.contains("1000..1099") && enc.contains("-5000..-4990"), enc)
    // round-trip through a full snapshot
    val s = Snapshot(3L, 1, graft.schema.SchemaRegistry.eventSchemaV1, 8, epochs, Seq.empty)
    assert(Snapshot.deserialize(Snapshot.serialize(s)).epochs == epochs)
    // pre-RLE snapshots (plain comma list) still parse
    val legacy = Snapshot.serialize(s).replace(enc, epochs.toSeq.sorted.mkString(","))
    assert(Snapshot.deserialize(legacy).epochs == epochs)
  }

  test("vacuum reclaims unreferenced manifest files, keeps referenced ones") {
    val work = TestSpark.tmpDir("manifest-vacuum")
    val cfg = GenConfig(nEvents = 800L)
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 1, partitions = 2)
    val table = new LakeTable(spark, s"$work/table", manifestSplitThreshold = 0)
    BatchReplay.replay(spark, s"$work/log", table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    // plant an orphan (a crashed writer's manifest that no root references)
    val dir = new org.apache.hadoop.fs.Path(s"${table.root}/_snapshots/manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(dir, "g9-deadbeefdeadbeef.manifest")
    val out = fs.create(orphan, true)
    out.write("file=9\tdata/v99-dead/b=9/x.parquet\n".getBytes("UTF-8")); out.close()

    val before = table.manifestFileNames().toSet
    val removed = Maintenance.vacuum(table, retentionMs = 0L)
    assert(removed.contains("g9-deadbeefdeadbeef.manifest"))
    assert(table.manifestFileNames().toSet == before - "g9-deadbeefdeadbeef.manifest")
    assert(table.read().count() > 0) // table intact
  }

  test("stats serialize independently: bytes/live/key ranges survive without lsn stats") {
    import graft.lake.{FileEntry, InlineFiles, Snapshot}
    // a file whose lsn footer stats were unreadable still keeps its known
    // nBytes (from the listing) and nLive — they must not be discarded
    // behind a single hasStats gate
    val partial = FileEntry(1, "data/v1-x/b=1/p.parquet", nBytes = 4096L, nLive = 7L)
    val keysOnly = FileEntry(2, "data/v1-x/b=2/k.parquet",
      minRepo = "alpha", maxRepo = "omega", minPath = "f1", maxPath = "f9")
    val s = Snapshot(1L, 1, graft.schema.SchemaRegistry.eventSchemaV1, 8, Set(1L),
      InlineFiles(Seq(partial, keysOnly)))
    val rt = Snapshot.deserialize(Snapshot.serialize(s))
    assert(rt == s, "independent stats must round-trip exactly")
    val Seq(p, k) = rt.allFiles.sortBy(_.bucket)
    assert(!p.hasStats && p.nBytes == 4096L && p.nLive == 7L && !p.hasKeyStats)
    assert(!k.hasStats && k.hasKeyStats && k.nBytes == -1L)
    assert(k.mayContain("beta", "f5") && !k.mayContain("zz", null))
  }
}
