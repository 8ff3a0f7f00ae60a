package graft

import graft.gen.{ChangeGen, GenConfig}
import graft.ingest.BatchReplay
import graft.lake.{EnrichedView, LakeTable, Maintenance}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incrementally-maintained enrichment views (derived lake tables fed by
  * the CDC stream). Oracle throughout: the view's live rows must equal
  * `enrich` recomputed from scratch over the base's CURRENT live state —
  * after inserts, updates, deletes, multi-epoch gaps, compaction-only
  * commits, crash-window retries, and an expired incremental anchor. */
class EnrichedViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // the dimension is derived deterministically from the repo key so the
  // oracle can rebuild it; a real deployment would broadcast-join any
  // slowly-changing dimension table here
  private def dim(base: LakeTable): DataFrame =
    base.read().select("repo").distinct()
      .withColumn("tier", length(col("repo")) % 3)

  private def enrichWith(d: DataFrame)(rows: DataFrame): DataFrame =
    rows.join(broadcast(d), Seq("repo"))
      .select(col("repo"), col("path"), col("lsn"), col("tier"),
        length(col("content")).cast("long").as("content_len"))

  private def oracle(base: LakeTable): Seq[String] =
    canon(enrichWith(dim(base))(base.read()))

  private def canon(df: DataFrame): Seq[String] =
    df.select("repo", "path", "lsn", "tier", "content_len")
      .orderBy("repo", "path").collect().map(_.toString).toSeq

  test("enriched view tracks inserts, updates, and deletes incrementally") {
    val work = TestSpark.tmpDir("enrichview")
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1200L), s"$work/log12", nBatches = 2, partitions = 2)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1800L), s"$work/logAll", nBatches = 3, partitions = 2)
    val base = new LakeTable(spark, s"$work/base")
    val view = new LakeTable(spark, s"$work/view")
    BatchReplay.replay(spark, s"$work/log12", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)

    // initial refresh = full build
    val d = dim(base)
    val s1 = EnrichedView.refresh(base, view, enrichWith(d), numBuckets = 4, saltBuckets = 2)
    assert(s1.initialFull && !s1.noOp)
    assert(canon(view.read()) == oracle(base))

    // same-version refresh is a no-op (no merge epoch spent)
    val s2 = EnrichedView.refresh(base, view, enrichWith(d), numBuckets = 4, saltBuckets = 2)
    assert(s2.noOp && s2.merge.isEmpty)

    // advance the base (updates + deletes + inserts), refresh incrementally;
    // at 8 tasks each of the 4 buckets holds two shares of the epoch and
    // is written as 2 files, so the compaction below has work
    TestSpark.withShufflePartitions(8)(BatchReplay.replay(spark, s"$work/logAll", base,
      numBuckets = 4, saltBuckets = 2, recordMeta = false))
    val d2 = dim(base)
    val s3 = EnrichedView.refresh(base, view, enrichWith(d2), numBuckets = 4, saltBuckets = 2)
    assert(!s3.initialFull && !s3.noOp)
    assert(s3.merge.exists(m => !m.skipped && m.tombstonesWritten > 0),
      s"expected real deletes through the feed: ${s3.merge}")
    assert(canon(view.read()) == oracle(base))

    // the incremental anchor IS the view's own ledger (crash-atomic with
    // the state it describes — no watermark file to lose)
    assert(EnrichedView.lastRefreshed(view) ==
      Some(base.currentSnapshot().get.version))

    // compaction-only commit: the pruned feed is empty; the view stays
    // equal and the refresh does no data IO to speak of
    assert(Maintenance.compact(base, maxFilesPerBucket = 1) > 0)
    val s5 = EnrichedView.refresh(base, view, enrichWith(d2), numBuckets = 4, saltBuckets = 2)
    assert(!s5.noOp && s5.merge.exists(m => m.keysWritten == 0 && m.tombstonesWritten == 0))
    assert(canon(view.read()) == oracle(base))

    // the view is a first-class lake table: DSv2-readable as-is
    assert(canon(spark.read.format("graft").load(s"$work/view")) == oracle(base))
  }

  test("continuous maintenance: the streaming CDC source drives per-commit refreshes") {
    val work = TestSpark.tmpDir("enrichstream")
    ChangeGen.writeLog(spark, GenConfig(nEvents = 600L), s"$work/l1", nBatches = 1, partitions = 2)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1800L), s"$work/l3", nBatches = 3, partitions = 2)
    val base = new LakeTable(spark, s"$work/base")
    val view = new LakeTable(spark, s"$work/view")
    BatchReplay.replay(spark, s"$work/l1", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val d = dim(base)
    EnrichedView.refresh(base, view, enrichWith(d), numBuckets = 4, saltBuckets = 2)
    // two more base commits land
    BatchReplay.replay(spark, s"$work/l3", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val d2 = dim(base)
    // the graft CDC stream (one commit per micro-batch) is the refresh
    // trigger: each micro-batch marks one committed base version, and the
    // refresh re-derives its own range from the view ledger — the
    // notification-driven maintenance loop a deployment would run
    var refreshes = 0
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1").load(s"$work/base")
      .writeStream
      .option("checkpointLocation", s"$work/cp")
      .foreachBatch { (_: DataFrame, _: Long) =>
        EnrichedView.refresh(base, view, enrichWith(d2), numBuckets = 4, saltBuckets = 2)
        refreshes += 1
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not finish in 120s")
    assert(refreshes >= 2, s"expected per-commit micro-batches, got $refreshes")
    assert(canon(view.read()) == oracle(base))
  }

  test("expired anchor and hwm regression refuse; a fresh-root rebuild recovers") {
    val work = TestSpark.tmpDir("enrichexp")
    // l2 extends l1 (same seed, aligned 800-event batches), so replaying
    // it ledger-skips batch 0 and commits batches 1-2 as new versions
    ChangeGen.writeLog(spark, GenConfig(nEvents = 800L), s"$work/l1", nBatches = 1, partitions = 2)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 2400L), s"$work/l2", nBatches = 3, partitions = 2)
    val base = new LakeTable(spark, s"$work/base")
    val view = new LakeTable(spark, s"$work/view")
    BatchReplay.replay(spark, s"$work/l1", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val d = dim(base)
    EnrichedView.refresh(base, view, enrichWith(d), numBuckets = 4, saltBuckets = 2)
    val anchor = EnrichedView.lastRefreshed(view).get

    // the base advances twice (the longer log rewrites and DELETES keys)
    // and retention expires the anchor version
    BatchReplay.replay(spark, s"$work/l2", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    Maintenance.expireSnapshots(base, keepLast = 1, olderThanMs = 0L)
    assert(!base.snapshotVersions().contains(anchor), "anchor must be expired for this test")
    // some view keys must be gone from the base, or the sweep is vacuous
    val viewKeys = view.read().select("repo", "path").collect().map(_.toString).toSet
    val baseKeys = base.read().select("repo", "path").collect().map(_.toString).toSet
    assert((viewKeys -- baseKeys).nonEmpty, "generator produced no deletes — widen the logs")

    val d2 = dim(base)
    // the endpoint diff is unreadable -> loud refusal naming the remedy
    val e = intercept[IllegalStateException] {
      EnrichedView.refresh(base, view, enrichWith(d2), numBuckets = 4, saltBuckets = 2)
    }
    assert(e.getMessage.contains("fresh root"), e.getMessage)
    // the view is stale but intact (derived data, never corrupted)...
    assert(canon(view.read()).nonEmpty)
    // ...and a rebuild at a fresh root recovers the oracle
    val view2 = new LakeTable(spark, s"$work/view2")
    val s2 = EnrichedView.refresh(base, view2, enrichWith(d2), numBuckets = 4, saltBuckets = 2)
    assert(s2.initialFull)
    assert(canon(view2.read()) == oracle(base))
  }

  test("a base rollback across the range refuses incrementally (hwm regression)") {
    val work = TestSpark.tmpDir("enrichrb")
    ChangeGen.writeLog(spark, GenConfig(nEvents = 600L), s"$work/l1", nBatches = 1, partitions = 2)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1200L), s"$work/l2", nBatches = 2, partitions = 2)
    val base = new LakeTable(spark, s"$work/base")
    val view = new LakeTable(spark, s"$work/view")
    BatchReplay.replay(spark, s"$work/l1", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val v0 = base.currentSnapshot().get.version
    BatchReplay.replay(spark, s"$work/l2", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val d = dim(base)
    EnrichedView.refresh(base, view, enrichWith(d), numBuckets = 4, saltBuckets = 2)
    // roll the base back below the view's anchor: synthesized deletes
    // would carry already-used lsns and silently tie-lose in the merge —
    // the refresh must refuse instead
    Maintenance.rollback(base, v0)
    val e = intercept[IllegalStateException] {
      EnrichedView.refresh(base, view, enrichWith(d), numBuckets = 4, saltBuckets = 2)
    }
    assert(e.getMessage.contains("rollback"), e.getMessage)
  }

  test("an evolving enrich schema widens the view; only changed keys carry the new column") {
    // the honest contract of INCREMENTAL enrichment: adding a derived
    // column re-enriches only keys that change afterwards — untouched
    // rows keep their committed shape (null in the new column) until
    // their next change or a fresh-root rebuild. The view schema itself
    // evolves through the merge's add-nullable rule.
    val work = TestSpark.tmpDir("enrichevo")
    ChangeGen.writeLog(spark, GenConfig(nEvents = 600L), s"$work/l1", nBatches = 1, partitions = 2)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1200L), s"$work/l2", nBatches = 2, partitions = 2)
    val base = new LakeTable(spark, s"$work/base")
    val view = new LakeTable(spark, s"$work/view")
    BatchReplay.replay(spark, s"$work/l1", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val d = dim(base)
    EnrichedView.refresh(base, view, enrichWith(d), numBuckets = 4, saltBuckets = 2)
    assert(!view.read().columns.contains("lang_tag"))

    BatchReplay.replay(spark, s"$work/l2", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val d2 = dim(base)
    def enrich2(rows: DataFrame): DataFrame =
      enrichWith(d2)(rows).withColumn("lang_tag", lit("v2"))
    EnrichedView.refresh(base, view, enrich2, numBuckets = 4, saltBuckets = 2)

    val got = view.read()
    assert(got.columns.contains("lang_tag"), "schema must evolve add-nullable")
    val changedKeys = Maintenance.changesBetween(base,
        base.snapshotVersions().sorted.dropRight(1).last, base.currentSnapshot().get.version)
      .where(col("_change_type") =!= "delete")
      .select("repo", "path").collect().map(r => (r.getString(0), r.getString(1))).toSet
    got.select("repo", "path", "lang_tag").collect().foreach { r =>
      val k = (r.getString(0), r.getString(1))
      if (changedKeys(k)) assert(r.getString(2) == "v2", s"$k should carry the new column")
      else assert(r.isNullAt(2), s"$k predates the evolution and must be null")
    }
    // the old columns still reconcile with the from-scratch oracle
    assert(canon(got) == oracle(base))
  }

  test("a catalog-created EMPTY-ledger view table refreshes as a first full build") {
    // GraftCatalog.createTable commits a v0 with epochs = Set.empty;
    // lastRefreshed must read that as "never refreshed" (first-build
    // path), not crash on empty.max
    val work = TestSpark.tmpDir("enrichempty")
    ChangeGen.writeLog(spark, GenConfig(nEvents = 600L), s"$work/log", nBatches = 1, partitions = 2)
    val base = new LakeTable(spark, s"$work/base")
    BatchReplay.replay(spark, s"$work/log", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val view = new LakeTable(spark, s"$work/view")
    import graft.lake.{InlineFiles, Snapshot}
    import org.apache.spark.sql.types._
    // the v0 a `CREATE TABLE view (…)` through GraftCatalog commits:
    // the declared view schema + tombstone flag, empty ledger, no files
    view.commitSnapshot(Snapshot(
      version = 0L, schemaVersion = 1,
      schema = StructType(Seq(
        StructField("repo", StringType), StructField("path", StringType),
        StructField("lsn", LongType), StructField("tier", IntegerType),
        StructField("content_len", LongType),
        StructField(LakeTable.DeletedCol, BooleanType, nullable = false))),
      numBuckets = 4, epochs = Set.empty, filesRef = InlineFiles(Seq.empty)),
      graft.lake.CommitSummary("create"))
    assert(EnrichedView.lastRefreshed(view).isEmpty)
    val s1 = EnrichedView.refresh(base, view, enrichWith(dim(base)),
      numBuckets = 4, saltBuckets = 2)
    assert(s1.initialFull && !s1.noOp)
    assert(canon(view.read()) == oracle(base))
  }

  test("refresh_enriched_view: the SQL CALL surface builds and maintains the view") {
    val work = TestSpark.tmpDir("enrichsql")
    ChangeGen.writeLog(spark, GenConfig(nEvents = 900L), s"$work/l1", nBatches = 1, partitions = 2)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1800L), s"$work/l2", nBatches = 2, partitions = 2)
    val base = new LakeTable(spark, s"$work/base")
    BatchReplay.replay(spark, s"$work/l1", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    def writeDim(): Unit = dim(base)
      .write.mode("overwrite").parquet(s"$work/dimpq")
    writeDim()
    spark.conf.set("spark.sql.catalog.graft_sys",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    def call() = spark.sql(
      s"CALL graft_sys.system.refresh_enriched_view(path => '$work/base', " +
        s"view_path => '$work/view', dim_path => '$work/dimpq', join_cols => 'repo', " +
        "select => 'tier:tier;content_len:CAST(length(content) AS BIGINT)', " +
        "num_buckets => 4, salt_buckets => 2)").collect().head

    val r1 = call()
    assert(r1.getBoolean(2) && !r1.getBoolean(3)) // initial full, not a no-op
    val view = new LakeTable(spark, s"$work/view")
    assert(canon(view.read()) == oracle(base))

    // no new commits → no-op
    assert(call().getBoolean(3))

    // advance the base; the (repo-derived, hence consistent) dimension is
    // re-snapshotted as any slowly-changing dim would be, then the CALL
    // refreshes incrementally — the view equals the from-scratch oracle
    BatchReplay.replay(spark, s"$work/l2", base, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    writeDim()
    val r3 = call()
    assert(!r3.getBoolean(2) && !r3.getBoolean(3))
    assert(r3.getLong(4) > 0, "incremental refresh should merge changed keys")
    assert(canon(view.read()) == oracle(base))
  }
}
