package graft

import graft.lake.{LakeTable, Maintenance}
import graft.merge.MergeInto
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Named tags, metadata rollback, and CDC-native forward revert. */
class RefsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
  private def df(rows: (Long, String, String, String, String)*) = {
    import spark.implicits._
    rows.map { case (lsn, op, repo, path, content) =>
      (lsn, op, ts, repo, path, "c", "text", content)
    }.toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
  }

  /** v0: three keys; v1: update k1, delete k2, insert k3. */
  private def twoEpochTable(): (LakeTable, MergeInto) = {
    val table = new LakeTable(spark, s"${TestSpark.tmpDir("refs")}/table")
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    merge.apply(df((10L, "I", "r/a", "k1", "one"), (11L, "I", "r/b", "k2", "two"),
      (12L, "I", "r/c", "k0", "zero")), 0L)
    merge.apply(df((20L, "U", "r/a", "k1", "one-v2"), (21L, "D", "r/b", "k2", ""),
      (22L, "I", "r/d", "k3", "three")), 1L)
    (table, merge)
  }

  private def visible(t: LakeTable): Map[(String, String), String] =
    t.read().select("repo", "path", "content").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  private def visibleAt(t: LakeTable, v: Long): Map[(String, String), String] =
    t.readVersion(v).select("repo", "path", "content").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  test("rollback: restores state as a NEW version; ledger and hw restored; readers stay sound") {
    val (table, merge) = twoEpochTable()
    val v1 = table.currentSnapshot().get.version
    val v0 = v1 - 1
    val want = visibleAt(table, v0)

    val v2 = Maintenance.rollback(table, v0)
    assert(v2 == v1 + 1, "rollback publishes a new head, history stays append-only")
    assert(visible(table) == want, "visible state equals the rolled-back-to version")
    assert(visibleAt(table, v1) != want, "the undone version still time-travels")

    val snap = table.currentSnapshot().get
    assert(snap.epochs == table.snapshotAt(v0).epochs,
      "epoch ledger restored: undone epochs are re-appliable")
    assert(snap.highWaterLsn == table.snapshotAt(v0).highWaterLsn)
    assert(snap.unorderedCommits > table.snapshotAt(v1).unorderedCommits,
      "rollback flags itself to incremental readers")

    // changesBetween across the rollback: join-classification emits the
    // reverted keys (k1 back to old value, k3 gone, k2 resurrected)
    val changes = Maintenance.changesBetween(table, v1, v2)
      .select("_change_type", "repo", "path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(changes == Set(("update_postimage", "r/a", "k1"),
      ("delete", "r/d", "k3"), ("insert", "r/b", "k2")),
      s"rollback range must surface reverted keys, got $changes")

    // re-applying the undone epoch works (it is genuinely un-applied now)
    merge.apply(df((20L, "U", "r/a", "k1", "one-v2"), (21L, "D", "r/b", "k2", ""),
      (22L, "I", "r/d", "k3", "three")), 1L)
    assert(visible(table) == visibleAt(table, v1), "replaying the undone epoch reconverges")

    // rollback to the current head is a no-op
    val head = table.currentSnapshot().get.version
    assert(Maintenance.rollback(table, head) == head)
  }

  test("revert: forward compensating epoch reconverges state AND the lsn-LWW CDC feed") {
    val (table, _) = twoEpochTable()
    val v1 = table.currentSnapshot().get.version
    val v0 = v1 - 1
    val want = visibleAt(table, v0)

    val v2 = Maintenance.revert(table, v0)
    assert(v2 == v1 + 1)
    assert(visible(table) == want, "visible state reverted")

    val snap = table.currentSnapshot().get
    assert(snap.unorderedCommits == table.snapshotAt(v1).unorderedCommits,
      "a revert is an ORDERED commit — hw pruning stays available")
    assert(snap.highWaterLsn.get > table.snapshotAt(v1).highWaterLsn.get,
      "revert events sit above the old mark")

    // an lsn-LWW downstream replica folding the feed across the revert
    // converges to the reverted state — the property a metadata rollback
    // cannot give (its restored rows carry old lsns and lose the fold)
    val folded = Maintenance.changesBetween(table, v0, v2)
      .groupBy("repo", "path")
      .agg(max_by(struct(col("_change_type"), col("content")), col("lsn")).as("w"))
      .select(col("repo"), col("path"), col("w._change_type").as("t"),
        col("w.content").as("content"))
      .collect()
    assert(folded.nonEmpty)
    folded.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      if (r.getString(2) == "delete") assert(!visible(table).contains(key))
      else assert(visible(table)(key) == r.getString(3),
        s"LWW fold of the feed disagrees with the reverted table at $key")
    }

    // re-running the revert: the range is now data-identical → no-op
    assert(Maintenance.revert(table, v0) == v2,
      "re-running a completed revert must not commit a new epoch")
    assert(visible(table) == want)
  }

  test("tags: pin versions by name, survive expiry, immutable, SQL-surfaced") {
    val (table, _) = twoEpochTable()
    val v1 = table.currentSnapshot().get.version
    val v0 = v1 - 1
    table.createTag("audited", v0)
    assert(table.tagVersion("audited").contains(v0))
    assert(table.listTags() == Seq("audited" -> v0))
    intercept[IllegalArgumentException](table.createTag("audited", v1)) // immutable
    intercept[IllegalArgumentException](table.createTag("nope", 99L))   // must exist
    intercept[IllegalArgumentException](table.snapshotAtTag("missing"))

    // read through the DSv2 tag option
    val tagged = spark.read.format("graft").option("tag", "audited").load(table.root)
    assert(tagged.count() == table.readVersion(v0).count())

    // make v0 ancient, then expire aggressively: the TAG keeps it alive
    val f = new java.io.File(s"${table.root}/_snapshots/v$v0")
    assert(f.setLastModified(System.currentTimeMillis() - 100L * 24 * 3600 * 1000))
    val removed = Maintenance.expireSnapshots(table, keepLast = 1, olderThanMs = 0L)
    assert(!removed.contains(s"_snapshots/v$v0"), "tagged version must not expire")
    assert(visibleAt(table, v0).nonEmpty, "tagged version still readable")

    // drop the tag → the version becomes expirable
    assert(table.dropTag("audited"))
    assert(f.setLastModified(System.currentTimeMillis() - 100L * 24 * 3600 * 1000))
    val removed2 = Maintenance.expireSnapshots(table, keepLast = 1, olderThanMs = 0L)
    assert(removed2.contains(s"_snapshots/v$v0"), "untagged old version expires")

    // SQL procedures: create/list/drop + rollback + VERSION AS OF '<tag>'
    spark.conf.set("spark.sql.catalog.graft_ref", "graft.lake.dsv2.GraftCatalog")
    val head = table.currentSnapshot().get.version
    val c = spark.sql(s"CALL graft_ref.system.create_tag('${table.root}', 'rc1')").collect()
    assert(c.head.getLong(0) == head, "-1 default pins the current version")
    val tags = spark.sql(s"CALL graft_ref.system.list_tags('${table.root}')").collect()
    assert(tags.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("rc1", head)))
    val rb = spark.sql(s"CALL graft_ref.system.rollback('${table.root}', $head)").collect()
    assert(rb.head.getLong(0) == head, "rollback to head is a no-op")
    val d = spark.sql(s"CALL graft_ref.system.drop_tag('${table.root}', 'rc1')").collect()
    assert(d.head.getBoolean(0))
  }

  test("VERSION AS OF a tag name through the catalog") {
    import spark.implicits._
    val wh = TestSpark.tmpDir("refs-wh")
    spark.conf.set("spark.sql.catalog.graft_tw", "graft.lake.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_tw.warehouse", wh)
    spark.sql("CREATE TABLE graft_tw.tdb.t (repo STRING NOT NULL, path STRING NOT NULL, " +
      "lsn BIGINT, content STRING) TBLPROPERTIES ('buckets'='4')")
    spark.sql("INSERT INTO graft_tw.tdb.t SELECT 'r/a', 'k1', 1L, 'first'")
    val table = new LakeTable(spark, s"$wh/tdb/t")
    val vFirst = table.currentSnapshot().get.version
    table.createTag("golden", vFirst)
    spark.sql("INSERT INTO graft_tw.tdb.t SELECT 'r/a', 'k1', 2L, 'second'")
    val now = spark.sql("SELECT content FROM graft_tw.tdb.t").collect().map(_.getString(0))
    val atTag = spark.sql("SELECT content FROM graft_tw.tdb.t VERSION AS OF 'golden'")
      .collect().map(_.getString(0))
    assert(now.toSeq == Seq("second") && atTag.toSeq == Seq("first"))
    spark.sql("DROP TABLE graft_tw.tdb.t")
  }

  test("revert on a highWaterLsn-less table still clears tombstone lsns") {
    val (table, merge) = twoEpochTable() // v0, v1
    val v1 = table.currentSnapshot().get.version
    // delete k0 at an lsn ABOVE every visible row's lsn — its tombstone is
    // exactly what a visible-rows max(lsn) fallback cannot see
    merge.apply(df((100L, "D", "r/c", "k0", "")), 2L)
    // legacy table shape: strip the high-water mark (one stats-less commit
    // makes it permanently None), forcing revert onto the fallback path
    val snap = table.currentSnapshot().get
    table.commitSnapshot(snap.copy(version = snap.version + 1, highWaterLsn = None),
      graft.lake.CommitSummary("alter"))
    assert(table.currentSnapshot().get.highWaterLsn.isEmpty)

    Maintenance.revert(table, v1)
    assert(visible(table) == visibleAt(table, v1),
      "the compensating 'U' for k0 must out-rank the tombstone at lsn 100 — " +
        "a fallback reading only VISIBLE rows sequences below it and loses the argmax")
  }
}
