package graft

import graft.gen.{ChangeGen, GenConfig}
import graft.ingest.BatchReplay
import graft.lake.{LakeTable, Maintenance, MaterializedView, RefreshStats, ViewDef}
import graft.merge.MergeInto
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental materialized views + the retraction-complete CDC feed
  * they consume.
  *
  * The oracle throughout: a view refreshed INCREMENTALLY (signed fold of
  * changesBetween with pre-images) must equal the same aggregate
  * recomputed from scratch over the current state — after updates,
  * deletes, group disappearance, schema evolution, and compaction. */
class ViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val view = ViewDef("per_repo", Seq("repo"),
    Seq("bytes" -> length(col("content")).cast("long"), "lsn_sum" -> col("lsn")))

  /** The from-scratch oracle for `view`. */
  private def recompute(table: LakeTable) =
    table.read().groupBy("repo").agg(
      sum(lit(1L)).as("_n_rows"),
      sum(length(col("content")).cast("long")).as("bytes"),
      sum(col("lsn")).as("lsn_sum"))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("repo", "_n_rows", "bytes", "lsn_sum")
      .orderBy("repo").collect().map(_.toString).toSeq

  private def mkTable(work: String): LakeTable = {
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1200L), s"$work/log12", nBatches = 2, partitions = 2)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1800L), s"$work/logAll", nBatches = 3, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    // each of the 4 buckets holds over one of 8 tasks' share of an epoch,
    // so every epoch writes each bucket as 2 files: compaction has work
    TestSpark.withShufflePartitions(8)(BatchReplay.replay(spark, s"$work/log12", table,
      numBuckets = 4, saltBuckets = 2, recordMeta = false))
    table
  }

  test("preimage feed: pre/post images match the brute-force state diff") {
    val work = TestSpark.tmpDir("viewfeed")
    val table = mkTable(work)
    val v0 = table.currentSnapshot().get.version
    BatchReplay.replay(spark, s"$work/logAll", table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val v1 = table.currentSnapshot().get.version
    assert(v1 == v0 + 1)

    def state(v: Long) = table.readVersion(v).select("repo", "path", "lsn", "content")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3))).toMap
    val oldS = state(v0)
    val newS = state(v1)
    val feed = Maintenance.changesBetween(table, v0, v1, includePreimages = true)
      .select("_change_type", "repo", "path", "lsn", "content").collect()
      .map(r => (r.getString(0), (r.getString(1), r.getString(2)), (r.getLong(3), r.getString(4))))

    val inserts = feed.filter(_._1 == "insert")
    val pres = feed.filter(_._1 == "update_preimage")
    val posts = feed.filter(_._1 == "update_postimage")
    val dels = feed.filter(_._1 == "delete")

    val expInserts = newS.keySet -- oldS.keySet
    val expDeletes = oldS.keySet -- newS.keySet
    val expUpdates = (oldS.keySet & newS.keySet).filter(k => oldS(k) != newS(k))
    assert(expUpdates.nonEmpty && expDeletes.nonEmpty && expInserts.nonEmpty,
      "generator produced a degenerate epoch — widen it")

    assert(inserts.map(_._2).toSet == expInserts)
    assert(dels.map(_._2).toSet == expDeletes)
    assert(pres.map(_._2).toSet == expUpdates && posts.map(_._2).toSet == expUpdates)
    // pre-images carry the OLD values, post-images and inserts the NEW,
    // deletes the OLD (the retracted row)
    assert(pres.forall { case (_, k, v) => oldS(k) == v })
    assert(dels.forall { case (_, k, v) => oldS(k) == v })
    assert(posts.forall { case (_, k, v) => newS(k) == v })
    assert(inserts.forall { case (_, k, v) => newS(k) == v })
  }

  test("initial refresh is a full compute; repeat refresh is a no-op") {
    val work = TestSpark.tmpDir("viewinit")
    val table = mkTable(work)
    val s1 = MaterializedView.refresh(table, view)
    assert(s1 == RefreshStats(None, table.currentSnapshot().get.version,
      initialFull = true, noOp = false))
    assert(canon(MaterializedView.read(table, "per_repo")) == canon(recompute(table)))
    val s2 = MaterializedView.refresh(table, view)
    assert(s2.noOp)
  }

  test("incremental refresh across updates and deletes equals a full recompute") {
    import spark.implicits._
    val work = TestSpark.tmpDir("viewincr")
    val table = mkTable(work)
    MaterializedView.refresh(table, view)

    // epoch 2: generator-made inserts + updates + deletes
    BatchReplay.replay(spark, s"$work/logAll", table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val s = MaterializedView.refresh(table, view)
    assert(!s.initialFull && !s.noOp)
    assert(canon(MaterializedView.read(table, "per_repo")) == canon(recompute(table)))

    // a brand-new single-file repo appears, then is deleted: its group
    // must appear and then VANISH from the view (live-count retraction)
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    merge.apply(Seq((9000001L, "I", ts, "solo/repo", "a.txt", "c1", "text", "hello"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 900L)
    MaterializedView.refresh(table, view)
    assert(MaterializedView.read(table, "per_repo")
      .where(col("repo") === "solo/repo").count() == 1)
    merge.apply(Seq((9000002L, "D", ts, "solo/repo", "a.txt", "c2", "text", ""))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 901L)
    MaterializedView.refresh(table, view)
    assert(MaterializedView.read(table, "per_repo")
      .where(col("repo") === "solo/repo").count() == 0)
    assert(canon(MaterializedView.read(table, "per_repo")) == canon(recompute(table)))
  }

  test("compaction-only commit: refresh advances the pointer with an empty diff") {
    val work = TestSpark.tmpDir("viewcompact")
    val table = mkTable(work)
    MaterializedView.refresh(table, view)
    val before = canon(MaterializedView.read(table, "per_repo"))
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0)
    // the pre-image diff across the compaction is empty (stats pruning)
    assert(Maintenance.changesBetween(table,
      table.currentSnapshot().get.version - 1, table.currentSnapshot().get.version,
      includePreimages = true).count() == 0)
    val s = MaterializedView.refresh(table, view)
    assert(!s.noOp && s.toVersion == table.currentSnapshot().get.version)
    assert(canon(MaterializedView.read(table, "per_repo")) == before)
    // and now the pointer is current → no-op
    assert(MaterializedView.refresh(table, view).noOp)
  }

  test("streaming replay maintains the view continuously; final view equals recompute") {
    val work = TestSpark.tmpDir("viewstream")
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1200L), s"$work/log", nBatches = 4, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    graft.ingest.StreamingReplay.run(spark, s"$work/log", table,
      graft.schema.SchemaRegistry.eventSchemaV1, s"$work/cp",
      numBuckets = 4, recordMeta = false, maxFilesPerTrigger = 3,
      views = Seq(view))
    // the per-epoch refreshes ran incrementally (pointer at the final
    // table version, initial refresh aside), and the result is exact
    val (ptrVersion, _) = MaterializedView.currentPointer(table, "per_repo").get
    assert(ptrVersion == table.currentSnapshot().get.version)
    assert(canon(MaterializedView.read(table, "per_repo")) == canon(recompute(table)))
  }

  test("schema evolution mid-stream: view over an added column maintains with null-safe retraction") {
    import spark.implicits._
    val work = TestSpark.tmpDir("viewevolve")
    val table = mkTable(work)
    // measure over `license`, which does not exist yet: rows without it
    // contribute 0 (coalesce), so the view is definable before evolution
    val licView = ViewDef("lic", Seq("repo"),
      Seq("licensed" -> when(col("license").isNotNull, 1L).otherwise(0L)))
    def licRecompute() = table.read().groupBy("repo").agg(
      sum(lit(1L)).as("_n_rows"),
      sum(when(col("license").isNotNull, 1L).otherwise(0L)).as("licensed"))
    def licCanon(df: org.apache.spark.sql.DataFrame) =
      df.select("repo", "_n_rows", "licensed").orderBy("repo").collect().map(_.toString).toSeq

    // view defined over a measure the v1 schema can't evaluate → the
    // initial full compute must fail loudly, not silently zero
    intercept[org.apache.spark.sql.AnalysisException] {
      MaterializedView.refresh(table, licView)
    }

    // evolve the schema (epoch with a license column), THEN materialize
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    merge.apply(Seq((9100001L, "I", ts, "lic/repo", "a.txt", "c1", "text", "x", "MIT"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content", "license"), 910L)
    MaterializedView.refresh(table, licView)
    assert(licCanon(MaterializedView.read(table, "lic")) == licCanon(licRecompute()))

    // update a PRE-EVOLUTION row: its retraction (pre-image) has license
    // = null and must subtract 0, not poison the sum
    val victim = table.read().where(col("repo") =!= "lic/repo")
      .select("repo", "path").limit(1).collect().head
    merge.apply(Seq((9100002L, "U", ts, victim.getString(0), victim.getString(1),
      "c2", "text", "updated", "Apache-2.0"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content", "license"), 911L)
    MaterializedView.refresh(table, licView)
    assert(licCanon(MaterializedView.read(table, "lic")) == licCanon(licRecompute()))
  }

  test("superseded retention is bounded by COUNT inside the grace window") {
    import spark.implicits._
    // a streaming-cadence refresh (every commit) supersedes a pointer +
    // data dir per refresh, all younger than the 1 h grace window — the
    // window alone would hoard every copy; only the K newest superseded
    // entries of each kind may survive (disk amplification bound), while
    // the current pointer + dir always do
    val work = TestSpark.tmpDir("viewretain")
    val table = mkTable(work)
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val nRefreshes = 10
    (1 to nRefreshes).foreach { i =>
      merge.apply(Seq((9100000L + i, "I", ts, "retain/repo", s"f$i.txt", s"c$i", "text", s"v$i"))
        .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 950L + i)
      MaterializedView.refresh(table, view)
    }
    val root = new java.io.File(s"${table.root}/views/per_repo")
    val keep = 4 // MaterializedView.SupersededKeepCount
    // everything superseded so far is YOUNGER than the minimum-retention
    // window: the count bound must NOT have fired (a reader mid-scan of a
    // just-superseded dir would otherwise lose its files seconds after a
    // fast cadence buries it)
    assert(root.listFiles().count(_.getName.startsWith("d-")) >= nRefreshes,
      "count bound deleted entries still inside the min-retention window")
    // age every superseded entry past the window; the next refresh's GC
    // then applies the count bound (only the K newest of each kind survive)
    val current = MaterializedView.currentPointer(table, "per_repo").get._2
    root.listFiles().foreach { f =>
      if (f.getName != current && !f.getName.matches(s"p\\d+"))
        f.setLastModified(System.currentTimeMillis() - 15 * 60 * 1000): Unit
      if (f.getName.matches("p\\d+"))
        f.setLastModified(System.currentTimeMillis() - 15 * 60 * 1000): Unit
    }
    merge.apply(Seq((9100099L, "I", ts, "retain/repo", "f99.txt", "c99", "text", "v99"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 999L)
    MaterializedView.refresh(table, view)
    val names = root.listFiles().map(_.getName)
    val dataDirs = names.count(_.startsWith("d-"))
    val pointers = names.count(_.matches("p\\d+"))
    assert(dataDirs <= keep + 2, s"data dirs unbounded: $dataDirs (${names.toSeq})")
    assert(pointers <= keep + 2, s"pointers unbounded: $pointers (${names.toSeq})")
    // the retained window still resolves and reads exactly
    assert(canon(MaterializedView.read(table, "per_repo")) == canon(recompute(table)))
  }

  test("expired anchor: refresh falls back to a full rebuild instead of failing forever") {
    val work = TestSpark.tmpDir("viewexpire")
    val table = mkTable(work)
    MaterializedView.refresh(table, view) // anchor = current version

    // advance the table twice, then expire history past the anchor
    BatchReplay.replay(spark, s"$work/logAll", table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    Maintenance.compact(table, maxFilesPerBucket = 1)
    val anchor = MaterializedView.currentPointer(table, "per_repo").get._1
    Maintenance.expireSnapshots(table, keepLast = 1, olderThanMs = 0L)
    assert(!table.snapshotVersions().contains(anchor), "anchor must be expired")

    val s = MaterializedView.refresh(table, view)
    assert(s.initialFull && !s.noOp, "expired anchor forces a full rebuild")
    assert(canon(MaterializedView.read(table, "per_repo")) == canon(recompute(table)))
    // and the view is incrementally maintainable again afterwards
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    merge.apply(Seq((9100001L, "I", ts, "post/expiry", "a.txt", "c1", "text", "hi"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 950L)
    val s2 = MaterializedView.refresh(table, view)
    assert(!s2.initialFull && !s2.noOp)
    assert(canon(MaterializedView.read(table, "per_repo")) == canon(recompute(table)))
  }
}
