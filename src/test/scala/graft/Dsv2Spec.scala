package graft

import graft.gen.{ChangeGen, GenConfig}
import graft.ingest.BatchReplay
import graft.lake.{LakeTable, Maintenance}
import graft.merge.MergeInto
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSourceV2 surface: `spark.read.format("graft")` with time travel,
  * SQL temp views, manifest-level bucket/stats pruning, and the
  * tolerant-reader schema-evolution rule. */
class Dsv2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def build(): LakeTable = {
    val cfg = GenConfig(nEvents = 1200L)
    val work = TestSpark.tmpDir("dsv2")
    ChangeGen.writeLog(spark, cfg, s"$work/log", nBatches = 2, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    // each of the 4 buckets holds over one of 8 tasks' share of an epoch,
    // so every epoch writes each bucket as 2 files: compaction has work
    TestSpark.withShufflePartitions(8)(BatchReplay.replay(spark, s"$work/log", table,
      numBuckets = 4, saltBuckets = 2, recordMeta = false))
    table
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("repo", "path").collect().map(_.toString).toSeq

  test("format(\"graft\") reads the current visible state identically to table.read()") {
    val table = build()
    val viaApi = spark.read.format("graft").load(table.root)
    // the DSv2 table declares the key-non-null invariant parquet can't record
    assert(viaApi.schema.fields.filter(f => f.name == "repo" || f.name == "path")
      .forall(!_.nullable))
    def norm(s: org.apache.spark.sql.types.StructType) =
      org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))
    assert(norm(viaApi.schema) == norm(table.read().schema))
    assert(canon(viaApi) == canon(table.read()))
  }

  test("versionAsOf time travel matches readVersion") {
    val table = build()
    val v = table.currentSnapshot().get.version
    (0L to v).foreach { ver =>
      val viaApi = spark.read.format("graft").option("versionAsOf", ver).load(table.root)
      assert(canon(viaApi) == canon(table.readVersion(ver)), s"version $ver")
    }
  }

  test("SQL temp view over the source, with pruned columns") {
    val table = build()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_t USING graft OPTIONS (path '${table.root}')")
    val got = spark.sql("SELECT repo, count(*) AS n FROM graft_t GROUP BY repo ORDER BY repo")
      .collect().map(_.toString).toSeq
    val want = table.read().groupBy("repo").agg(count(lit(1)).as("n")).orderBy("repo")
      .collect().map(_.toString).toSeq
    assert(got == want && got.nonEmpty)
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    val desc = df.queryExecution.executedPlan.toString
    val m = "files=(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"scan description missing file count: $desc")
    m.get.group(1).toInt
  }

  test("repo equality prunes to one bucket's files; lsn bound prunes by stats") {
    val table = build()
    val total = plannedFiles(spark.read.format("graft").load(table.root))
    val repo = table.read().select("repo").limit(1).collect().head.getString(0)
    val df = spark.read.format("graft").load(table.root).where(col("repo") === repo)
    assert(plannedFiles(df) < total, s"no bucket pruning: ${plannedFiles(df)}/$total")
    assert(canon(df) == canon(table.read().where(col("repo") === repo)))

    // lsn lower bound above the high-water mark prunes EVERY file
    val hw = table.currentSnapshot().get.highWaterLsn.get
    val none = spark.read.format("graft").load(table.root).where(col("lsn") > hw)
    assert(plannedFiles(none) == 0, "stats pruning failed")
    assert(none.count() == 0)

    // and a bound below keeps correctness (residual filter re-applied)
    val mid = table.read().agg(expr("percentile_approx(lsn, 0.5)")).collect().head.getLong(0)
    val some = spark.read.format("graft").load(table.root).where(col("lsn") > mid)
    assert(canon(some) == canon(table.read().where(col("lsn") > mid)))
  }

  test("key-equality predicates push into parquet row-group skipping") {
    val table = build()
    val key = table.read().select("repo", "path").limit(1).collect().head
    val (repo, path) = (key.getString(0), key.getString(1))

    // point lookup: pushed predicates visible in the plan, result exact
    val df = spark.read.format("graft").load(table.root)
      .where(col("repo") === repo && col("path") === path)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains(s"keyFilter=repo=$repo&path=$path"), desc)
    assert(canon(df) ==
      canon(table.read().where(col("repo") === repo && col("path") === path)))
    assert(df.count() == 1)

    // merge output is sorted by (salt, repo, path) within each data file
    // (the window sort) -- so row groups carry tight (repo, path) min/max
    // except at the <=saltBuckets-1 run boundaries, which is what makes
    // the pushed predicates effective
    import org.apache.spark.sql.functions.{input_file_name, concat_ws}
    val perRun = table.read()
      .select(input_file_name().as("f"),
        expr("pmod(xxhash64(path), 2)").as("salt"),
        concat_ws(" ", col("repo"), col("path")).as("k"))
      .groupBy(col("f"), col("salt"))
      .agg(expr("collect_list(k)").as("ks"))
      .collect()
    assert(perRun.nonEmpty)
    perRun.foreach { r =>
      val ks = r.getSeq[String](2)
      assert(ks == ks.sorted,
        s"file ${r.getString(0)} salt ${r.get(1)} not sorted by (repo, path)")
    }
  }

  test("manifest key-range stats prune point lookups at FILE granularity") {
    import spark.implicits._
    val work = TestSpark.tmpDir("dsv2-keyprune")
    val table = new LakeTable(spark, s"$work/table")
    // ONE bucket so bucket pruning can't help — only the per-file
    // (repo, path) ranges can. The merge copy-on-writes whole buckets and
    // its salt files spread keys by HASH (overlapping ranges — honestly
    // unprunable); the prunable layout is compaction's byte-budget
    // KEY-DISJOINT range splits, so that is what this test builds.
    val merge = new MergeInto(table, numBuckets = 1, saltBuckets = 2,
      recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val events = (0 until 200).map { i =>
      (i.toLong, "I", ts, f"org/repo-$i%03d", f"src/f$i%03d.txt", "c", "text",
        s"body-$i-" + java.lang.Long.toHexString(i * 0x9e3779b97f4a7c15L))
    }.toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    merge.apply(events, epochId = 0L): Unit

    // split the one bucket into ~5 key-disjoint files (budget = bytes/5)
    val bytes = table.currentSnapshot().get.allFiles.map(f => math.max(f.nBytes, 0L)).sum
    assert(bytes > 0L)
    assert(Maintenance.compact(table, maxFilesPerBucket = 1,
      targetFileBytes = math.max(bytes / 5, 1L)) == 1)

    val snap = table.currentSnapshot().get
    val files = snap.allFiles.filter(_.nKeys > 0)
    assert(files.size >= 3, s"expected a multi-file split, got ${files.size}")
    assert(files.forall(_.hasKeyStats), "compaction did not record key-range stats")
    // the split is genuinely key-disjoint: repo ranges do not overlap
    val ranges = files.map(f => (f.minRepo, f.maxRepo)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping ranges: $ranges")
      case _ =>
    }

    val all = spark.read.format("graft").load(table.root)
    assert(plannedFiles(all) == files.size)
    // an existing key lives in exactly one range file
    val hit = spark.read.format("graft").load(table.root)
      .where(col("repo") === "org/repo-120")
    assert(plannedFiles(hit) == 1,
      s"expected 1 planned file, got ${plannedFiles(hit)}")
    assert(canon(hit) == canon(table.read().where(col("repo") === "org/repo-120")))
    // a key no file can contain plans ZERO files
    val miss = spark.read.format("graft").load(table.root)
      .where(col("repo") === "zzz/absent")
    assert(plannedFiles(miss) == 0)
    assert(miss.count() == 0)
  }

  test("path bloom prunes path-only lookups where ranges cannot (compacted layout)") {
    import spark.implicits._
    val work = TestSpark.tmpDir("dsv2-pathbloom")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 1, saltBuckets = 2,
      recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    // paths deliberately UNCORRELATED with repo order: compaction sorts by
    // (repo, path), so each key-disjoint split file spans nearly the whole
    // path domain — [minPath, maxPath] ranges cannot prune a path-only
    // lookup; only the per-file dictionary bloom can
    val events = (0 until 200).map { i =>
      (i.toLong, "I", ts, f"org/repo-$i%03d", f"src/f${(i * 73) % 200}%03d.txt",
        "c", "text", s"body-$i-" + java.lang.Long.toHexString(i * 0x9e3779b97f4a7c15L))
    }.toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    merge.apply(events, epochId = 0L): Unit
    val bytes = table.currentSnapshot().get.allFiles.map(f => math.max(f.nBytes, 0L)).sum
    assert(Maintenance.compact(table, maxFilesPerBucket = 1,
      targetFileBytes = math.max(bytes / 5, 1L)) == 1)

    val files = table.currentSnapshot().get.allFiles.filter(_.nKeys > 0)
    assert(files.size >= 3, s"expected a multi-file split, got ${files.size}")
    assert(files.forall(_.pathBloom != null), "compaction did not record path blooms")
    // ranges really are useless here: every file's path range covers the probe
    val probe = "src/f073.txt" // (i*73)%200 == 73 at i=1 → exists, in one file
    assert(files.count(f => f.minPath <= probe && probe <= f.maxPath) == files.size,
      "fixture failed to defeat range pruning — paths too correlated")

    val hit = spark.read.format("graft").load(table.root)
      .where(col("path") === probe)
    assert(plannedFiles(hit) < files.size,
      s"bloom pruned nothing: ${plannedFiles(hit)} of ${files.size} files planned")
    assert(canon(hit) == canon(table.read().where(col("path") === probe)))
    assert(hit.count() == 1)
    // an absent path plans ~fpp of the files (deterministic data: expect 0)
    val miss = spark.read.format("graft").load(table.root)
      .where(col("path") === "zzz/never-written.txt")
    assert(plannedFiles(miss) < files.size)
    assert(miss.count() == 0)
    // blooms survive the manifest round-trip (fresh table handle, reparse)
    val re = new LakeTable(spark, s"$work/table").currentSnapshot().get
      .allFiles.filter(_.nKeys > 0)
    assert(re.forall(_.pathBloom != null))
    assert(re.map(_.pathBloom).sorted == files.map(_.pathBloom).sorted)
  }

  test("truncated footer key stats never mis-prune: every key stays reachable") {
    import spark.implicits._
    val work = TestSpark.tmpDir("dsv2-trunc")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 1, saltBuckets = 1, recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    // multibyte keys + aggressive stats truncation: a bound cut (or
    // incremented) mid-UTF-8-sequence does not round-trip through String
    // decoding; such bounds must be DROPPED, not lossily decoded into
    // pruning ranges that exclude real keys
    val keys = (0 until 60).map(i => (f"リポジトリ-$i%02d", f"パス/ファイル$i%02d.txt"))
    val events = keys.zipWithIndex.map { case ((r, p), i) =>
      (i.toLong, "I", ts, r, p, "c", "text", s"body-$i")
    }.toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("parquet.statistics.truncate.length", "4")
    try {
      merge.apply(events, 0L): Unit
      // compaction's key-disjoint splits are where file-level ranges bite
      Maintenance.compact(table, maxFilesPerBucket = 1,
        targetFileBytes = math.max(
          table.currentSnapshot().get.allFiles.map(f => math.max(f.nBytes, 0L)).sum / 4, 1L)): Unit
    } finally hconf.unset("parquet.statistics.truncate.length")
    val files = table.currentSnapshot().get.allFiles
    // whatever the truncator produced, recorded ranges must stay SOUND:
    // every real key passes mayContain in at least one file, and a DSv2
    // point lookup finds its row
    keys.foreach { case (r, p) =>
      assert(files.exists(_.mayContain(r, p)), s"key ($r, $p) pruned out of every file")
    }
    val hit = spark.read.format("graft").load(table.root)
      .where(col("repo") === keys(7)._1)
    assert(hit.count() == 1L)
    assert(hit.select("content").head.getString(0) == "body-7")
  }

  test("key-range stats survive manifest round-trip incl. hostile characters") {
    import graft.lake.{FileEntry, Snapshot}
    val entries = Seq(
      FileEntry(0, "data/v0/b=0/p.parquet", 1L, 9L, 3L, 100L, 3L,
        "a%b\tc", "z\nrepo", "", "p\rq"),
      FileEntry(1, "data/v0/b=1/q.parquet", 2L, 8L, 2L, 50L, 2L)) // no key stats
    val parsed = Snapshot.parseFileLines(Snapshot.serializeFileLines(entries))
    assert(parsed.toSet == entries.toSet)
    // byte-order comparator: a supplementary-plane code point (4-byte
    // UTF-8, surrogate pair in UTF-16) sorts ABOVE U+FFFF in byte order —
    // the order parquet stats use — while String.compareTo says the
    // opposite (the high surrogate D800 < FFFF)
    val uFFFF = "\uffff"
    val u10000 = new String(Character.toChars(0x10000))
    assert(LakeTable.utf8Le(uFFFF, u10000))
    assert(uFFFF.compareTo(u10000) > 0, "JVM order differs — which is why utf8Le exists")
  }

  test("manifest statistics: the optimizer sees pruned-scan sizes and auto-broadcasts") {
    val table = build()
    val snap = table.currentSnapshot().get
    val manifestBytes = snap.allFiles.map(_.nBytes).sum
    val manifestRows = snap.allFiles.map(_.nKeys).sum
    val df = spark.read.format("graft").load(table.root)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == BigInt(manifestBytes),
      s"sizeInBytes ${stats.sizeInBytes} != manifest $manifestBytes")
    assert(stats.rowCount.forall(_ == BigInt(manifestRows)),
      s"rowCount ${stats.rowCount} != manifest $manifestRows")

    // a repo-pruned scan reports only the surviving bucket's bytes: join
    // planning sees the size of what will actually be READ
    val repo = table.read().select("repo").limit(1).collect().head.getString(0)
    val pruned = spark.read.format("graft").load(table.root).where(col("repo") === repo)
    assert(pruned.queryExecution.optimizedPlan.stats.sizeInBytes < stats.sizeInBytes)

    // join with NO broadcast hint: the manifest size is what lets Spark
    // pick the broadcast join — without reported statistics a V2
    // relation defaults to spark.sql.defaultSizeInBytes (effectively
    // infinite) and this degrades to a sort-merge join
    val big = spark.range(0, 2000000).select(
      concat(lit("r"), col("id") % 97).as("repo"), col("id"))
    val joined = big.join(df, Seq("repo"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      plan.take(2000))
  }

  test("runtime bucket pruning: a broadcast join hands its keys back to the scan") {
    val table = build()
    val repo = table.read().select("repo").limit(1).collect().head.getString(0)
    // the dim must keep a real Filter node (a LocalRelation would fold it
    // away and the pruning rule requires a selective predicate)
    val dim = spark.range(0, 10)
      .select(when(col("id") === 0, repo).otherwise(concat(lit("absent-"), col("id")))
        .as("repo"), col("id").as("w"))
      .where(col("w") < 1)
    val fact = spark.read.format("graft").load(table.root)
    val joined = fact.join(broadcast(dim), Seq("repo"))
    val rows = joined.collect()
    assert(rows.nonEmpty && rows.map(_.getAs[String]("repo")).forall(_ == repo))
    assert(rows.length == canon(fact.where(col("repo") === repo)).length)
    val desc = joined.queryExecution.executedPlan.toString
    val m = "runtimePruned=(\\d+)".r.findAllMatchIn(desc).map(_.group(1).toInt).toSeq
    assert(m.exists(_ > 0), s"no runtime bucket pruning in:\n${desc.take(3000)}")
  }

  test("storage-partitioned join: same-bucketed catalog tables join with zero shuffle") {
    val wh = TestSpark.tmpDir("dsv2spj")
    spark.conf.set("spark.sql.catalog.graft_spj",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_spj.warehouse", wh)
    def mk(t: String, v: String): Unit = {
      spark.sql(s"CREATE TABLE graft_spj.db.$t (lsn BIGINT, ts TIMESTAMP, repo STRING, " +
        "path STRING, commit STRING, lang STRING, content STRING) " +
        "TBLPROPERTIES ('buckets'='4')")
      val rows = (1 to 40).map(i =>
        s"($i, TIMESTAMP'2024-01-01 00:00:00', 'repo-${i % 7}', 'f$i.txt', 'c$i', 'scala', '$v$i')")
      spark.sql(s"INSERT INTO graft_spj.db.$t VALUES ${rows.mkString(", ")}")
    }
    mk("a", "a"); mk("b", "b")

    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val j = spark.sql("SELECT a.repo, a.path, a.content AS ca, b.content AS cb " +
        "FROM graft_spj.db.a a JOIN graft_spj.db.b b ON a.repo = b.repo")
      val rows = j.collect()
      // 7 repos; per-repo row counts multiply across the two sides
      val perRepo = (1 to 40).groupBy(i => i % 7).view.mapValues(_.size)
      assert(rows.length == perRepo.values.map(n => n * n).sum)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join shuffled:\n${plan.take(3000)}")

      // a groupBy on the partitioning key is shuffle-free too
      val agg = spark.sql("SELECT repo, count(*) AS n FROM graft_spj.db.a GROUP BY repo")
      val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == perRepo.map { case (k, v) => s"repo-$k" -> v.toLong }.toMap)
      val aplan = agg.queryExecution.executedPlan.toString
      assert(!aplan.contains("ShuffleExchange") && !aplan.contains("Exchange hashpartitioning"),
        s"bucket-key aggregation shuffled:\n${aplan.take(3000)}")
      // partially-clustered distribution (Spark's SPJ skew mode:
      // replicate the smaller side's groups instead of grouping both)
      // must stay correct — it leans on the same HasPartitionKey keys
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      try {
        val pc = spark.sql("SELECT a.repo, count(*) AS n " +
          "FROM graft_spj.db.a a JOIN graft_spj.db.b b ON a.repo = b.repo GROUP BY a.repo")
        val pcRows = pc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(pcRows == perRepo.map { case (k, v) => s"repo-$k" -> (v.toLong * v) }.toMap)
      } finally spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "false")

      // a one-sided bucket-pruning filter makes the two sides report
      // DIFFERENT partition-value sets; whatever Spark decides (pad the
      // missing partitions or fall back to a shuffle) the result must
      // match the bucketing-off plan exactly
      val oneSided = spark.sql("SELECT a.repo, a.path, b.content FROM graft_spj.db.a a " +
        "JOIN graft_spj.db.b b ON a.repo = b.repo WHERE a.repo = 'repo-3'")
      val gotSided = oneSided.collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val want = spark.sql("SELECT a.repo, a.path, b.content FROM graft_spj.db.a a " +
        "JOIN graft_spj.db.b b ON a.repo = b.repo WHERE a.repo = 'repo-3'")
        .collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      assert(gotSided == want && gotSided.nonEmpty,
        s"one-sided-filter SPJ mismatch: ${gotSided.length} vs ${want.length}")

      // negative control — with v2 bucketing off the same join DOES
      // shuffle, proving the assertions above actually detect exchanges
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val off = spark.sql("SELECT a.repo FROM graft_spj.db.a a " +
        "JOIN graft_spj.db.b b ON a.repo = b.repo")
      off.collect()
      assert(off.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        "control failed: expected a shuffle with v2 bucketing disabled")
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      prev.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    }
  }

  test("count(*) answers from the manifest: LocalTableScan, zero data files") {
    val table = build()
    def cnt(df: org.apache.spark.sql.DataFrame): (Long, String) =
      (df.head.getLong(0), df.queryExecution.executedPlan.toString)

    val base = spark.read.format("graft").load(table.root)
    val (n0, p0) = cnt(base.groupBy().count())
    assert(n0 == table.read().count())
    assert(p0.contains("LocalTableScan") && !p0.contains("BatchScan"),
      s"count(*) was not manifest-served:\n${p0.take(2000)}")

    // a tombstone epoch decrements the manifest count (nLive re-recorded
    // for the rewritten bucket, carried files keep theirs)
    val victim = table.read().select("repo", "path").limit(1).collect().head
    val del = spark.createDataFrame(Seq(
      (victim.getString(0), victim.getString(1), 999999L, "D")))
      .toDF("repo", "path", "lsn", "op")
    new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
      .apply(del, epochId = 4242L)
    val after = spark.read.format("graft").load(table.root)
    val (n1, p1) = cnt(after.groupBy().count())
    assert(n1 == n0 - 1, s"count after delete: $n1 vs ${n0 - 1}")
    assert(p1.contains("LocalTableScan"), p1.take(2000))

    // includeTombstones counts physical rows (live + every tombstone) —
    // verified against a raw parquet read that bypasses the manifest
    val (nT, pT) = cnt(spark.read.format("graft").option("includeTombstones", true)
      .load(table.root).groupBy().count())
    val physical = table.currentSnapshot().get.allFiles
      .map(f => spark.read.parquet(s"${table.root}/${f.relPath}").count()).sum
    assert(nT == physical && nT > n1 && pT.contains("LocalTableScan"),
      s"nT=$nT physical=$physical n1=$n1")

    // a WHERE clause blocks pushdown — normal scan, correct result
    val repo = victim.getString(0)
    val filtered = after.where(col("repo") === repo).groupBy().count()
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.head.getLong(0) == table.read().where(col("repo") === repo).count())

    // time travel counts the pinned version
    val (nV, pV) = cnt(spark.read.format("graft").option("versionAsOf", 1)
      .load(table.root).groupBy().count())
    assert(nV == table.readVersion(1).count() && pV.contains("LocalTableScan"))
  }

  test("min/max(lsn) answer from manifest stats — but only when tombstones can't lie") {
    import spark.implicits._
    val work = TestSpark.tmpDir("dsv2agg")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    // insert-only table: every file's nLive == nKeys, stats can't lie
    merge.apply((1 to 40).map(i => (i.toLong, "U", s"r${i % 5}", s"f$i.txt", s"c$i"))
      .toDF("lsn", "op", "repo", "path", "content"), 1L)
    def run(df: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.Row, String) =
      (df.head, df.queryExecution.executedPlan.toString)

    val base = spark.read.format("graft").load(table.root)
    val (r0, p0) = run(base.agg(min("lsn"), max("lsn"), count(lit(1))))
    assert(r0.getLong(0) == 1L && r0.getLong(1) == 40L && r0.getLong(2) == 40L)
    assert(p0.contains("LocalTableScan") && !p0.contains("BatchScan"),
      s"min/max(lsn) was not manifest-served:\n${p0.take(2000)}")

    // tombstone the row holding the MAX lsn at an even higher lsn: file
    // stats now cover a row the read hides, so the push must NOT fire —
    // and the scanned answer must be the visible max, not the stats max
    merge.apply(Seq((88888888L, "D", "r0", "f40.txt", ""))
      .toDF("lsn", "op", "repo", "path", "content"), 2L)
    val after = spark.read.format("graft").load(table.root)
    val (r1, p1) = run(after.agg(max("lsn")))
    assert(p1.contains("BatchScan"),
      s"a table with tombstones must scan for max(lsn):\n${p1.take(2000)}")
    assert(r1.getLong(0) == 39L,
      s"visible max is 39 (f40 deleted), stats max would lie at 88888888: got ${r1.getLong(0)}")

    // with tombstones SURFACED the stats are exact again: full pushdown,
    // and the answer is the tombstone's lsn
    val (rT, pT) = run(spark.read.format("graft").option("includeTombstones", true)
      .load(table.root).agg(max("lsn")))
    assert(rT.getLong(0) == 88888888L && pT.contains("LocalTableScan"), pT.take(2000))

    // a filter blocks the push and the scanned result stays correct
    val filtered = after.where(col("repo") === "r1").agg(min("lsn"))
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.head.getLong(0) ==
      table.read().where(col("repo") === "r1").agg(min("lsn")).head.getLong(0))
  }

  test("LIMIT k plans a file prefix: opens only enough files to cover k live rows") {
    val table = build()
    val total = plannedFiles(spark.read.format("graft").load(table.root))
    assert(total > 1, "test needs multiple files")

    val lim = spark.read.format("graft").load(table.root).limit(5)
    val rows = lim.collect()
    assert(rows.length == 5)
    assert(plannedFiles(lim) < total, s"no limit file pruning (files=$total)")
    // the 5 rows are genuine table rows
    val keys = table.read().select("repo", "path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.map(r => (r.getAs[String]("repo"), r.getAs[String]("path")))
      .forall(keys))

    // a limit beyond the table keeps every file and every row
    val all = spark.read.format("graft").load(table.root).limit(10000000)
    assert(all.count() == table.read().count())

    // LIMIT under a WHERE is refused (filters make file counts unusable):
    // plan is unpruned by the limit, result still correct
    val repo = table.read().select("repo").limit(1).collect().head.getString(0)
    val fl = spark.read.format("graft").load(table.root)
      .where(col("repo") === repo).limit(3)
    assert(fl.collect().length == math.min(3,
      table.read().where(col("repo") === repo).count()).toInt)
  }

  test("count(*) over LIMIT is k, not the manifest total; empty table reads under SPJ") {
    val table = build()
    val c = spark.read.format("graft").load(table.root).limit(5).groupBy().count()
    assert(c.head.getLong(0) == 5L, "count over LIMIT must not be manifest-served")

    // an EMPTY catalog table (v0, zero files) must stay readable with
    // v2 bucketing on (KeyGroupedPartitioning cannot report 0 partitions)
    val wh = TestSpark.tmpDir("dsv2empty")
    spark.conf.set("spark.sql.catalog.graft_e", classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_e.warehouse", wh)
    spark.sql("CREATE TABLE graft_e.db.t (lsn BIGINT, repo STRING, path STRING) " +
      "TBLPROPERTIES ('buckets'='4')")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try assert(spark.sql("SELECT * FROM graft_e.db.t").collect().isEmpty)
    finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
  }

  test("schema evolution: old files read through DSv2 with nulls for new columns") {
    import spark.implicits._
    val table = build()
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val v2 = Seq((5555555L, "U", ts, "solo/repo", "src/n.txt", "c9", "text", "body", "MIT"))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content", "license")
    merge.apply(v2, 777L)
    val viaApi = spark.read.format("graft").load(table.root)
    assert(viaApi.schema.fieldNames.contains("license"))
    assert(canon(viaApi) == canon(table.read()))
    val lic = viaApi.where(col("repo") === "solo/repo").select("license")
      .collect().map(_.getString(0)).toSeq
    assert(lic == Seq("MIT"))
    assert(viaApi.where(col("license").isNull).count() == table.read().count() - 1)
  }

  test("tombstones are invisible through DSv2 (delete then read)") {
    import spark.implicits._
    val table = build()
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val victim = table.read().select("repo", "path").limit(1).collect().head
    val ts = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")
    val del = Seq((6666666L, "D", ts, victim.getString(0), victim.getString(1), "cX", "text", ""))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    merge.apply(del, 778L)
    val viaApi = spark.read.format("graft").load(table.root)
    assert(viaApi.where(col("repo") === victim.getString(0) &&
      col("path") === victim.getString(1)).count() == 0)
    assert(canon(viaApi) == canon(table.read()))
  }

  test("large files split into byte-range partitions; results identical") {
    val table = build()
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0) // → big per-bucket files
    val nFiles = table.currentSnapshot().get.allFiles.size
    val whole = spark.read.format("graft").load(table.root)
    assert(whole.rdd.getNumPartitions == nFiles) // default: files smaller than 128 MB
    // force tiny splits: partition count must exceed the file count while
    // every row is read exactly once
    val split = spark.read.format("graft").option("maxSplitBytes", "4096").load(table.root)
    assert(split.rdd.getNumPartitions > nFiles,
      s"${split.rdd.getNumPartitions} partitions for $nFiles files")
    assert(canon(split) == canon(whole))
  }

  test("non-positive maxSplitBytes refuses loudly (0 = div-by-zero, <0 = silent file drop)") {
    val table = build()
    // batch path: the refusal fires at split planning, not as a wrong
    // answer (count() alone would be answered from the manifest COUNT
    // pushdown without ever planning splits)
    Seq("0", "-1").foreach { bad =>
      val e = intercept[Exception] {
        spark.read.format("graft").option("maxSplitBytes", bad)
          .load(table.root).collect()
      }
      assert(e.getMessage != null && e.getMessage.contains("maxSplitBytes must be positive"),
        s"maxSplitBytes=$bad: ${e.getMessage}")
    }
    // streaming path: construction-time refusal like the sibling
    // admission options (a negative cap would silently drop every
    // over-cap file from each micro-batch)
    val schema = spark.read.format("graft").load(table.root).schema
    val e = intercept[IllegalArgumentException] {
      new graft.lake.dsv2.GraftMicroBatchStream(table.root, schema, schema,
        includeTombstones = false, startingVersion = None,
        maxVersionsPerTrigger = None, maxBytesPerTrigger = None,
        maxSplitBytes = 0L)
    }
    assert(e.getMessage.contains("maxSplitBytes must be positive"))
  }

  test("numeric read options are validated when the read is built, naming the option") {
    val table = build()
    val bad = Seq("maxSplitBytes" -> "abc", "maxSplitBytes" -> "0",
      "startingVersion" -> "v1", "startingVersion" -> "-1",
      "maxVersionsPerTrigger" -> "1.5", "maxVersionsPerTrigger" -> "0",
      "maxVersionsPerTrigger" -> "9999999999",
      "maxBytesPerTrigger" -> "", "maxBytesPerTrigger" -> "-4096",
      "versionAsOf" -> "-1", "changesTo" -> "latest", "changesFrom" -> "1e3",
      "changesFrom" -> "999") // above the current version: no such snapshot
    val loads = Seq[(String, (String, String) => Any)](
      "batch" -> ((o, v) => spark.read.format("graft").option(o, v).load(table.root)),
      "stream" -> ((o, v) => spark.readStream.format("graft").option(o, v).load(table.root)))
    for ((opt, v) <- bad; (kind, load) <- loads) {
      // refused at load(), before any query runs: an IllegalArgumentException
      // that names the option, not a NumberFormatException from inside a job
      val e = intercept[IllegalArgumentException](load(opt, v))
      assert(!e.isInstanceOf[NumberFormatException] && e.getMessage.contains(opt),
        s"$kind $opt=$v: ${e.getMessage}")
    }
    // the catalog path carries read options that load() never parses
    val wh = TestSpark.tmpDir("dsv2opts")
    spark.conf.set("spark.sql.catalog.graft_opt", classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_opt.warehouse", wh)
    spark.sql("CREATE TABLE graft_opt.db.t (lsn BIGINT, repo STRING, path STRING) " +
      "TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_opt.db.t VALUES (1, 'r1', 'a')")
    val viaCatalog = intercept[IllegalArgumentException] {
      spark.read.option("maxSplitBytes", "12MB").table("graft_opt.db.t").collect()
    }
    assert(viaCatalog.getMessage.contains("maxSplitBytes"), viaCatalog.getMessage)
    val fromAbove = intercept[IllegalArgumentException] {
      spark.read.option("changesFrom", "7").table("graft_opt.db.t").collect()
    }
    assert(fromAbove.getMessage.contains("changesFrom") && fromAbove.getMessage.contains("at or below 1"),
      fromAbove.getMessage)
    // well-formed values still read
    assert(spark.read.format("graft").option("maxSplitBytes", "4096")
      .option("startingVersion", "0").load(table.root).count() == table.read().count())
  }

  // ----- columnar (vectorized) read path --------------------------------

  /** A ColumnarToRow whose subtree holds the DSv2 scan (whole-stage codegen
    * interposes an InputAdapter between them, invisible in treeString). */
  private def isColumnarPlan(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
    plan.exists {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec =>
        c.child.exists {
          case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase => true
          case _ => false
        }
      case _ => false
    }
  private def isColumnarScan(df: org.apache.spark.sql.DataFrame): Boolean =
    isColumnarPlan(df.queryExecution.executedPlan)

  test("whole-state scans decode through the vectorized columnar path") {
    val table = build()
    val columnar = spark.read.format("graft").load(table.root)
    assert(isColumnarScan(columnar), "whole-state scan did not plan columnar")
    // reference: Spark's own parquet source over the same files
    val ref = table.read()
    assert(canon(columnar) == canon(ref))
    assert(columnar.count() == ref.count())
  }

  test("columnar path filters tombstones via the selection wrapper (mixed batches)") {
    import spark.implicits._
    val table = build()
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    // delete a third of the live keys: the rewritten files hold mixed
    // live/tombstone row runs, so the columnar reader exercises the
    // partial-selection branch, not just all-live passthrough
    val victims = table.read().select("repo", "path").collect().toSeq
      .sortBy(r => (r.getString(0), r.getString(1))).zipWithIndex
      .collect { case (r, i) if i % 3 == 0 => (r.getString(0), r.getString(1)) }
    assert(victims.nonEmpty)
    val ts = java.sql.Timestamp.valueOf("2024-03-03 00:00:00")
    val dels = victims.zipWithIndex.map { case ((r, p), i) =>
      (7000000L + i, "D", ts, r, p, "cD", "text", "")
    }.toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    merge.apply(dels, 779L)
    val columnar = spark.read.format("graft").load(table.root)
    val ref = table.read()
    assert(isColumnarScan(columnar))
    assert(canon(columnar) == canon(ref))
    val gone = victims.toSet
    assert(columnar.select("repo", "path").collect()
      .forall(r => !gone((r.getString(0), r.getString(1)))))
    // projections and aggregates over the selected batches stay exact
    assert(columnar.agg(sum(length(col("content")))).head.getLong(0) ==
      ref.agg(sum(length(col("content")))).head.getLong(0))
  }

  test("columnar path: includeTombstones, schema evolution, byte-range splits") {
    import spark.implicits._
    val table = build()
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val victim = table.read().select("repo", "path").limit(1).collect().head
    val ts = java.sql.Timestamp.valueOf("2024-03-04 00:00:00")
    merge.apply(Seq((7100000L, "D", ts, victim.getString(0), victim.getString(1),
      "cX", "text", "")).toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"),
      780L)
    // evolved column: old files must read as null through the vectorized
    // reader's missing-column vectors
    merge.apply(Seq((7200000L, "U", ts, "solo/colrepo", "src/c.txt", "c9", "text",
      "body", "MIT")).toDF("lsn", "op", "ts", "repo", "path", "commit", "lang",
      "content", "license"), 781L)

    def rd(opts: (String, String)*) = {
      var r = spark.read.format("graft")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(table.root)
    }
    // tombstones surfaced: no filtering, `_deleted` is ordinary data;
    // reference: every physical row through Spark's parquet source
    val snap = table.currentSnapshot().get
    val ct = rd("includeTombstones" -> "true")
    val rt = table.readFiles(snap.schema, snap.allFiles)
    assert(isColumnarScan(ct))
    assert(ct.where(col(LakeTable.DeletedCol)).count() > 0)
    assert(canon(ct.drop(LakeTable.DeletedCol)) == canon(rt.drop(LakeTable.DeletedCol)))
    // evolution: null-filled license column agrees with the reference
    val (ce, re) = (rd(), table.read())
    assert(ce.where(col("license").isNull).count() ==
      re.where(col("license").isNull).count())
    assert(canon(ce) == canon(re))
    // byte-range splits keep the vectorized path and read each row once
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0)
    val (cs, rs) = (rd("maxSplitBytes" -> "4096"), table.read())
    assert(isColumnarScan(cs))
    assert(canon(cs) == canon(rs))
  }

  test("every DSv2 scan plans columnar: repo =, lsn >, changesFrom, streaming micro-batch") {
    val table = build()
    val repo = table.read().select("repo").limit(1).collect().head.getString(0)
    val byRepo = spark.read.format("graft").load(table.root).where(col("repo") === repo)
    assert(isColumnarScan(byRepo))
    assert(canon(byRepo) == canon(table.read().where(col("repo") === repo)))

    val mid = table.read().agg(expr("percentile_approx(lsn, 0.5)")).collect().head.getLong(0)
    val byLsn = spark.read.format("graft").load(table.root).where(col("lsn") > mid)
    assert(isColumnarScan(byLsn))
    assert(canon(byLsn) == canon(table.read().where(col("lsn") > mid)))

    // changesFrom carries a row bound the reader enforces; projecting the
    // keys only makes `lsn` a filter-only column
    val v = table.currentSnapshot().get.version
    val changes = spark.read.format("graft").option("changesFrom", v - 1).load(table.root)
      .select("repo", "path")
    assert(isColumnarScan(changes))
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("repo", "path").orderBy("repo", "path").collect().map(_.toString).toSeq
    val wantKeys = keys(Maintenance.changesBetween(table, v - 1, v)
      .where(col("_change_type").isin("insert", "update_postimage")))
    assert(keys(changes) == wantKeys && wantKeys.nonEmpty)

    // a streaming micro-batch: the first one backfills the visible state
    val work = TestSpark.tmpDir("dsv2colstream")
    val (rows, q) = runStream(table.root, s"$work/cp", s"$work/out")
    val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
      .StreamingQueryWrapper].streamingQuery.lastExecution
    assert(exec != null && isColumnarPlan(exec.executedPlan), s"${exec.executedPlan}")
    assert(rows.map(_.toString).sorted == table.read().collect().map(_.toString).toSeq.sorted)
  }

  test("compaction + stats keep DSv2 lsn-pruned reads empty of data IO") {
    val table = build()
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0)
    val hw = table.currentSnapshot().get.highWaterLsn.get
    val none = spark.read.format("graft").load(table.root).where(col("lsn") > hw)
    assert(plannedFiles(none) == 0)
  }

  test("CALL procedures: compact, rebucket, refresh_view, vacuum through SQL") {
    val table = build()
    spark.conf.set("spark.sql.catalog.graft_sys",
      classOf[graft.lake.dsv2.GraftCatalog].getName)

    val c = spark.sql(s"CALL graft_sys.system.compact('${table.root}', 1)").collect()
    assert(c.head.getInt(0) > 0, "compact should fold the per-epoch files")

    val r = spark.sql(s"CALL graft_sys.system.rebucket('${table.root}', 7)").collect()
    assert(r.head.getLong(0) == table.currentSnapshot().get.version)
    assert(table.currentSnapshot().get.numBuckets == 7)

    val v1 = spark.sql(s"CALL graft_sys.system.refresh_view('${table.root}', 'sqlview', " +
      "'repo', 'bytes:length(content);files:1')").collect().head
    assert(v1.getBoolean(2) && !v1.getBoolean(3)) // initial full, not a no-op
    val got = graft.lake.MaterializedView.read(table, "sqlview")
      .select("repo", "_n_rows", "bytes", "files").orderBy("repo")
      .collect().map(_.toString).toSeq
    val want = table.read().groupBy("repo").agg(
      count(lit(1)).as("_n_rows"),
      sum(length(col("content"))).as("bytes"),
      sum(lit(1)).as("files")).orderBy("repo").collect().map(_.toString).toSeq
    assert(got == want)
    // repeated CALL with no new commits → no-op, named-args form
    val v2 = spark.sql(s"CALL graft_sys.system.refresh_view(path => '${table.root}', " +
      "view => 'sqlview', group_cols => 'repo', " +
      "measures => 'bytes:length(content);files:1')").collect().head
    assert(v2.getBoolean(3))

    // history: one row per retained snapshot, newest first, manifest stats
    val hist = spark.sql(s"CALL graft_sys.system.history('${table.root}')").collect()
    val versions = table.snapshotVersions()
    assert(hist.map(_.getLong(0)).toSeq == versions.sorted.reverse)
    val newest = hist.head
    val snap = table.currentSnapshot().get
    assert(newest.getInt(2) == snap.numBuckets)
    assert(newest.getInt(3) == snap.allFiles.size)
    // manifest row counts include tombstone rows; read() hides them
    assert(newest.getLong(5) >= table.read().count() && newest.getLong(5) > 0)
    assert(newest.getLong(6) == snap.highWaterLsn.get)
    assert(hist.forall(_.getLong(1) > 0L)) // commit mtimes populated

    // retention-windowed vacuum: everything is referenced or fresh → 0
    val vac = spark.sql(s"CALL graft_sys.system.vacuum('${table.root}', 86400000)").collect()
    assert(vac.head.getInt(0) == 0)
  }

  test("TableCatalog: CREATE TABLE, INSERT INTO upserts, VERSION AS OF, SHOW/DROP") {
    val wh = TestSpark.tmpDir("dsv2wh")
    spark.conf.set("spark.sql.catalog.graft_wh",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_wh.warehouse", wh)

    spark.sql("CREATE TABLE graft_wh.db.t (lsn BIGINT, ts TIMESTAMP, repo STRING, " +
      "path STRING, commit STRING, lang STRING, content STRING) " +
      "TBLPROPERTIES ('buckets'='4')")
    spark.sql("INSERT INTO graft_wh.db.t VALUES " +
      "(1, TIMESTAMP'2024-01-01 00:00:00', 'r1', 'a.txt', 'c1', 'scala', 'v1'), " +
      "(2, TIMESTAMP'2024-01-01 00:00:00', 'r2', 'b.txt', 'c2', 'py', 'w1')")
    assert(spark.sql("SELECT count(*) FROM graft_wh.db.t").head.getLong(0) == 2)

    // INSERT of an existing key is an UPSERT (LWW by lsn), not an append
    spark.sql("INSERT INTO graft_wh.db.t VALUES " +
      "(5, TIMESTAMP'2024-01-02 00:00:00', 'r1', 'a.txt', 'c3', 'scala', 'v2')")
    assert(spark.sql("SELECT content FROM graft_wh.db.t WHERE repo = 'r1'")
      .collect().map(_.getString(0)).toSeq == Seq("v2"))
    assert(spark.sql("SELECT count(*) FROM graft_wh.db.t").head.getLong(0) == 2)

    // SQL time travel (v0 = empty created table, v1 = first insert)
    assert(spark.sql("SELECT content FROM graft_wh.db.t VERSION AS OF 1 " +
      "WHERE repo = 'r1'").head.getString(0) == "v1")
    assert(spark.sql("SELECT count(*) FROM graft_wh.db.t VERSION AS OF 0").head.getLong(0) == 0)

    // maintenance procedures work on catalog tables too (path form)
    assert(spark.sql(s"CALL graft_wh.system.compact('$wh/db/t', 1)").collect()
      .head.getInt(0) >= 0)

    assert(spark.sql("SHOW TABLES IN graft_wh.db").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE graft_wh.db.t")
    assert(spark.sql("SHOW TABLES IN graft_wh.db").collect().isEmpty)
  }

  test("ALTER TABLE: add-nullable and widen are metadata-only; the rest rejected") {
    val wh = TestSpark.tmpDir("dsv2alter")
    spark.conf.set("spark.sql.catalog.graft_at",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_at.warehouse", wh)
    spark.sql("CREATE TABLE graft_at.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "stars INT, content STRING) TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_at.db.t VALUES (1, 'r1', 'a', 10, 'v1'), " +
      "(2, 'r2', 'b', 20, 'w1')")
    val t = new LakeTable(spark, s"$wh/db/t")
    val before = t.currentSnapshot().get

    // ADD COLUMN: declared ahead of data, committed without touching a file
    spark.sql("ALTER TABLE graft_at.db.t ADD COLUMN license STRING")
    val afterAdd = t.currentSnapshot().get
    assert(afterAdd.version == before.version + 1)
    assert(afterAdd.schemaVersion == before.schemaVersion + 1)
    assert(afterAdd.allFiles.map(_.relPath).sorted == before.allFiles.map(_.relPath).sorted,
      "ALTER must be metadata-only: no data file may change")
    // old rows read null through the tolerant reader
    assert(spark.sql("SELECT license FROM graft_at.db.t").collect().forall(_.isNullAt(0)))
    // a CDC range across the DDL commit is empty (nothing changed)
    assert(spark.read.format("graft").option("changesFrom", before.version)
      .option("changesTo", afterAdd.version).load(s"$wh/db/t").count() == 0L)
    // and the declared column accepts data through the ordinary upsert path
    spark.sql("INSERT INTO graft_at.db.t VALUES (3, 'r1', 'a', 11, 'v2', 'MIT')")
    assert(spark.sql("SELECT license FROM graft_at.db.t WHERE repo = 'r1'")
      .head.getString(0) == "MIT")

    // ALTER COLUMN TYPE widens; files written with the narrow type upcast
    spark.sql("ALTER TABLE graft_at.db.t ALTER COLUMN stars TYPE BIGINT")
    assert(spark.sql("SELECT stars FROM graft_at.db.t WHERE repo = 'r2'")
      .head.getLong(0) == 20L)
    assert(spark.table("graft_at.db.t").schema("stars").dataType ==
      org.apache.spark.sql.types.LongType)

    // idempotent re-issue is a no-op commit (same physical schema)
    val vBefore = t.currentSnapshot().get.version
    spark.sql("ALTER TABLE graft_at.db.t ALTER COLUMN stars TYPE BIGINT")
    assert(t.currentSnapshot().get.version == vBefore)

    // narrowing, dropping, renaming ENGINE KEYS, and NOT NULL adds fail loudly
    intercept[Exception](spark.sql("ALTER TABLE graft_at.db.t ALTER COLUMN lsn TYPE INT"))
    intercept[Exception](spark.sql("ALTER TABLE graft_at.db.t DROP COLUMN content"))
    intercept[Exception](spark.sql("ALTER TABLE graft_at.db.t RENAME COLUMN repo TO origin"))
    intercept[Exception](spark.sql("ALTER TABLE graft_at.db.t ADD COLUMN req STRING NOT NULL"))
    // the failures left no snapshot behind
    assert(t.currentSnapshot().get.version == vBefore)
  }

  test("RENAME COLUMN: stable field id, both eras readable, era-correct time travel") {
    import graft.schema.FieldIds
    val wh = TestSpark.tmpDir("dsv2rename")
    spark.conf.set("spark.sql.catalog.graft_rn",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rn.warehouse", wh)
    spark.sql("CREATE TABLE graft_rn.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "stars INT, content STRING) TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_rn.db.t VALUES (1, 'r1', 'a', 10, 'v1'), " +
      "(2, 'r2', 'b', 20, 'w1')") // era-1 files store the column as "stars"
    val t = new LakeTable(spark, s"$wh/db/t")
    val vPre = t.currentSnapshot().get.version
    val idBefore = FieldIds.id(t.currentSnapshot().get.schema("stars")).get

    spark.sql("ALTER TABLE graft_rn.db.t RENAME COLUMN stars TO rating")
    val snapRn = t.currentSnapshot().get
    // metadata-only: no data file touched; identity (field id) survives,
    // the old name is recorded as an alias era
    assert(snapRn.allFiles.map(_.relPath).sorted ==
      t.snapshotAt(vPre).allFiles.map(_.relPath).sorted)
    assert(snapRn.schema.fieldNames.contains("rating") &&
      !snapRn.schema.fieldNames.contains("stars"))
    assert(FieldIds.id(snapRn.schema("rating")).contains(idBefore))
    assert(FieldIds.aliases(snapRn.schema("rating")) == Seq("stars"))

    // pre-rename files answer under the NEW name (alias-era resolution) —
    // whole-state scan (columnar path) and key point-lookup (row path)
    assert(spark.sql("SELECT rating FROM graft_rn.db.t ORDER BY repo")
      .collect().map(_.getInt(0)).toSeq == Seq(10, 20))
    assert(spark.sql("SELECT rating FROM graft_rn.db.t WHERE repo = 'r2' AND path = 'b'")
      .head.getInt(0) == 20)

    // post-rename writes store the new name; one scan mixes both eras
    spark.sql("INSERT INTO graft_rn.db.t VALUES (3, 'r1', 'a', 11, 'v2')")
    assert(spark.sql("SELECT repo, rating FROM graft_rn.db.t ORDER BY repo")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("r1", 11), ("r2", 20)))

    // time travel BEFORE the rename shows that era's own name
    val pre = spark.read.format("graft").option("versionAsOf", vPre).load(s"$wh/db/t")
    assert(pre.columns.contains("stars") && !pre.columns.contains("rating"))
    assert(pre.where(col("repo") === "r1").select("stars").head.getInt(0) == 10)

    // a CDC range spanning the rename emits destination-era column names
    val feed = spark.read.format("graft").option("changesFrom", vPre).load(s"$wh/db/t")
    assert(feed.columns.contains("rating") && !feed.columns.contains("stars"))
    assert(feed.where(col("repo") === "r1").select("rating").head.getInt(0) == 11)

    // compaction rewrites era-mixed buckets under the current name;
    // results unchanged
    spark.sql(s"CALL graft_rn.system.compact('$wh/db/t', 1)")
    assert(spark.sql("SELECT repo, rating FROM graft_rn.db.t ORDER BY repo")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("r1", 11), ("r2", 20)))

    // guards: engine keys, name collisions, and FORMER-name reuse refuse
    intercept[Exception](spark.sql(
      "ALTER TABLE graft_rn.db.t RENAME COLUMN path TO location"))
    intercept[Exception](spark.sql(
      "ALTER TABLE graft_rn.db.t RENAME COLUMN rating TO content"))
    intercept[Exception](spark.sql(
      "ALTER TABLE graft_rn.db.t ADD COLUMN stars INT")) // former name reserved
    // an arriving batch still carrying the former name refuses loudly
    // (evolve alias guard) instead of forking the column
    val stale = intercept[Exception] {
      val merge = new graft.merge.MergeInto(t, numBuckets = 2, saltBuckets = 1,
        recordMeta = false)
      import spark.implicits._
      merge.apply(Seq((9L, "U", "r2", "b", 30, "w2"))
        .toDF("lsn", "op", "repo", "path", "stars", "content"), 777L)
    }
    assert(stale.getMessage.contains("renamed"), stale.getMessage)

    // renaming BACK to the former name round-trips (the alias collapses)
    spark.sql("ALTER TABLE graft_rn.db.t RENAME COLUMN rating TO stars")
    val back = t.currentSnapshot().get
    assert(FieldIds.id(back.schema("stars")).contains(idBefore))
    assert(FieldIds.aliases(back.schema("stars")) == Seq("rating"))
    assert(spark.sql("SELECT repo, stars FROM graft_rn.db.t ORDER BY repo")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("r1", 11), ("r2", 20)))
  }

  test("RENAME/ADD name reservation follows spark.sql.caseSensitive") {
    val wh = TestSpark.tmpDir("dsv2case")
    spark.conf.set("spark.sql.catalog.graft_ci", classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ci.warehouse", wh)
    spark.sql("CREATE TABLE graft_ci.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "foo INT, x INT) TBLPROPERTIES ('buckets'='2')")
    val t = new LakeTable(spark, s"$wh/db/t")
    def refused(ddl: String): String = {
      val e = intercept[Exception](spark.sql(ddl))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    }
    // case-insensitive session (Spark's default): FOO is foo
    refused("ALTER TABLE graft_ci.db.t RENAME COLUMN x TO FOO") // live name
    spark.sql("ALTER TABLE graft_ci.db.t RENAME COLUMN foo TO qux") // `foo` is now a former name
    val v = t.currentSnapshot().get.version
    Seq("ALTER TABLE graft_ci.db.t RENAME COLUMN x TO FOO",
      "ALTER TABLE graft_ci.db.t ADD COLUMN Foo INT").foreach { ddl =>
      val msg = refused(ddl)
      assert(msg.contains("already in use"), s"$ddl: $msg")
    }
    assert(t.currentSnapshot().get.version == v, "a refused ALTER left a commit behind")
    // a case-sensitive session keeps distinct spellings distinct, as before
    spark.conf.set("spark.sql.caseSensitive", "true")
    try spark.sql("ALTER TABLE graft_ci.db.t RENAME COLUMN x TO FOO")
    finally spark.conf.unset("spark.sql.caseSensitive")
    val renamed = t.currentSnapshot().get.schema
    assert(renamed.fieldNames.contains("FOO") && !renamed.fieldNames.contains("x"))
    assert(graft.schema.FieldIds.aliases(renamed("qux")) == Seq("foo"))
  }

  test("SQL-only training pipeline: ingest -> dedup -> sample -> pack via CALL") {
    // the 29 pipeline operators are Scala `queries()` entries; this is
    // the no-Scala composition path: every stage is SQL (DDL + INSERT +
    // CALL graft.system.*), intermediate results are parquet dirs, and
    // each stage's output is asserted EQUAL to the Scala kernel run on
    // the same input — the procedures surface the kernels, not copies
    val wh = TestSpark.tmpDir("dsv2pipewh")
    val work = TestSpark.tmpDir("dsv2pipework")
    val sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.catalog.graft_pl",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_pl.warehouse", wh)

    // 1. INGEST: the corpus lands in a lake table through ordinary SQL
    spark.sql("CREATE TABLE graft_pl.db.docs (lsn BIGINT, repo STRING, path STRING, " +
      "doc_id BIGINT, lang STRING, text STRING, n_chars BIGINT) " +
      "TBLPROPERTIES ('buckets'='4')")
    spark.sql("INSERT INTO graft_pl.db.docs " +
      s"SELECT doc_id, source, CAST(doc_id AS STRING), doc_id, lang, text, n_chars " +
      s"FROM parquet.`$sf/documents.parquet`")
    val nDocs = spark.sql("SELECT count(*) FROM graft_pl.db.docs").head.getLong(0)
    assert(nDocs == 500L)

    // 2. DEDUP: near-dup pairs, then cluster assignment
    val nPairs = spark.sql(s"CALL graft_pl.system.dedup_pairs('$wh/db/docs', '$work/pairs')")
      .head.getLong(0)
    assert(nPairs > 0, "corpus has planted near-dups; none found")
    val assign = spark.sql(
      s"CALL graft_pl.system.dedup_assign('$work/pairs', '$work/clusters')").head
    assert(assign.getLong(0) > 0 && assign.getLong(1) > 0 &&
      assign.getLong(1) <= assign.getLong(0))
    // kernel equality: the procedure == the Scala operator on the same corpus
    val canonPairs = spark.read.parquet(s"$work/pairs")
      .collect().map(_.toString).sorted.toSeq
    assert(canonPairs == ops.DedupOps.q15MinhashLsh(spark, sf)
      .collect().map(_.toString).sorted.toSeq)
    assert(spark.read.parquet(s"$work/clusters").collect().map(_.toString).sorted.toSeq ==
      ops.DedupOps.q37DedupClusters(spark, sf).collect().map(_.toString).sorted.toSeq)

    // 3. SAMPLE: keep only canonical docs (plain SQL over the stage
    // outputs), then PPS-sample them with HT weights
    spark.sql(s"""CREATE OR REPLACE TEMP VIEW kept AS
      SELECT d.* FROM graft_pl.db.docs d
      LEFT JOIN parquet.`$work/clusters` c ON d.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.is_canonical""")
    val nKept = spark.sql("SELECT count(*) FROM kept").head.getLong(0)
    assert(nKept < nDocs && nKept > 0, s"dedup kept $nKept of $nDocs")
    // materialize the deduped stage as parquet so the next CALL reads it
    spark.sql(s"CREATE TABLE graft_pl.db.kept (lsn BIGINT, repo STRING, path STRING, " +
      "doc_id BIGINT, lang STRING, n_chars BIGINT) TBLPROPERTIES ('buckets'='4')")
    spark.sql("INSERT INTO graft_pl.db.kept " +
      "SELECT doc_id, repo, path, doc_id, lang, n_chars FROM kept")
    val nSampled = spark.sql(s"CALL graft_pl.system.sample_pps('$wh/db/kept', " +
      s"'$work/sample', weight_col => 'n_chars')").head.getLong(0)
    assert(nSampled > 0 && nSampled < nKept)
    val sample = spark.read.parquet(s"$work/sample")
    assert(sample.count() == nSampled)
    // HT weights are 1/p and p = min(1, n_chars/2048)
    assert(sample.where(col("ht_weight") < 1.0).count() == 0)
    // equality vs the Scala kernel on the same input
    assert(sample.select("doc_id", "p", "ht_weight").collect().map(_.toString).sorted.toSeq ==
      ops.TextOps.ppsSample(spark.table("graft_pl.db.kept"), "doc_id", "n_chars", 2048L)
        .select("doc_id", "p", "ht_weight").collect().map(_.toString).sorted.toSeq)

    // 4. PACK: chunk spans over the sampled docs (token counts = n_chars
    // here; the kernel only needs an (id, count) frame)
    val nPacked = spark.sql(s"CALL graft_pl.system.pack_sequences('$work/sample', " +
      s"'$work/packed', tokens_col => 'n_chars')").head.getLong(0)
    assert(nPacked == nSampled)
    val packed = spark.read.parquet(s"$work/packed")
    // spans tile the token stream: total chunks == ceil(total/512) and
    // consecutive docs' spans overlap by at most the shared boundary
    val totalTokens = sample.agg(sum(col("n_chars"))).head.getLong(0)
    val maxChunk = packed.agg(max(col("last_chunk"))).head.getLong(0)
    assert(maxChunk == (totalTokens - 1) / 512,
      s"chunk space must tile the token stream: $maxChunk vs $totalTokens tokens")
    assert(packed.where(col("first_chunk") > col("last_chunk")).count() == 0)
    // equality vs the Scala kernel on the same input
    assert(packed.collect().map(_.toString).sorted.toSeq ==
      ops.TextOps.packSequences(sample, "doc_id", "n_chars", 512, 1024L)
        .collect().map(_.toString).sorted.toSeq)

    // 5. stratified sampling surfaces too (rates override string form)
    val nStrat = spark.sql(s"CALL graft_pl.system.sample_stratified('$wh/db/docs', " +
      s"'$work/strat', rates => 'en:13')").head.getLong(0)
    assert(nStrat > 0 && nStrat < nDocs)
    val strat = spark.read.parquet(s"$work/strat")
    assert(strat.select("doc_id", "bucket").collect().map(_.toString).sorted.toSeq ==
      ops.TextOps.hashStratifiedSample(spark.table("graft_pl.db.docs"),
        "doc_id", "lang", 38, Map("en" -> 13))
        .select("doc_id", "bucket").collect().map(_.toString).sorted.toSeq)
  }

  test("DDL rejects column types the reader cannot decode; sink requires a checkpoint") {
    val wh = TestSpark.tmpDir("dsv2ddlval")
    spark.conf.set("spark.sql.catalog.graft_val",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_val.warehouse", wh)
    // CREATE with a nested type must fail AT DDL TIME — accepting it
    // would commit a table permanently unreadable through the row path
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE graft_val.db.bad (repo STRING, tags ARRAY<STRING>) " +
        "TBLPROPERTIES ('buckets'='2')"))
    assert(e1.getMessage.contains("cannot decode"), e1.getMessage)
    assert(new graft.lake.LakeTable(spark, s"$wh/db/bad").currentSnapshot().isEmpty,
      "failed DDL must not leave a snapshot")
    spark.sql("CREATE TABLE graft_val.db.ok (lsn BIGINT, repo STRING, path STRING) " +
      "TBLPROPERTIES ('buckets'='2')")
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE graft_val.db.ok ADD COLUMN m MAP<STRING,STRING>"))
    assert(e2.getMessage.contains("cannot decode"), e2.getMessage)
    // a sink without an explicit checkpointLocation cannot derive its
    // epoch-generation identity (a conf-resolved checkpoint never reaches
    // the V1 sink) — it must refuse rather than silently reuse the path
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val e3 = intercept[Exception](
      ms.toDF().toDF("lsn", "repo").writeStream.format("graft")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$wh/nockpt"))
    assert(e3.getMessage.contains("checkpointLocation"), e3.getMessage)
    // the EXISTING-table case is where the old path fallback silently
    // collided generations (Spark hands the sink a TEMP checkpoint it
    // never names in the options) — it must refuse too
    val e4 = intercept[Exception](
      ms.toDF().toDF("lsn", "repo").writeStream.format("graft")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$wh/db/ok"))
    assert(e4.getMessage.contains("checkpointLocation"), e4.getMessage)
  }

  test("catalog: namespaces, CTAS, TIMESTAMP AS OF, CALL expire_snapshots") {
    val wh = TestSpark.tmpDir("dsv2cat2")
    spark.conf.set("spark.sql.catalog.graft_c2",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_c2.warehouse", wh)

    spark.sql("CREATE NAMESPACE graft_c2.ns1")
    assert(spark.sql("SHOW NAMESPACES IN graft_c2").collect()
      .map(_.getString(0)).contains("ns1"))

    spark.sql("CREATE TABLE graft_c2.ns1.src (lsn BIGINT, repo STRING, path STRING, " +
      "content STRING) TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_c2.ns1.src VALUES (1, 'r1', 'a', 'v1'), (2, 'r2', 'b', 'w1')")
    // tables do not show up as namespaces
    assert(!spark.sql("SHOW NAMESPACES IN graft_c2.ns1").collect()
      .map(_.getString(0)).contains("src"))

    // CTAS: createTable + insert through the same machinery
    spark.sql("CREATE TABLE graft_c2.ns1.copy TBLPROPERTIES ('buckets'='2') AS " +
      "SELECT * FROM graft_c2.ns1.src")
    assert(spark.sql("SELECT count(*) FROM graft_c2.ns1.copy").head.getLong(0) == 2)

    // TIMESTAMP AS OF: now() covers the latest version; epoch 0 covers none
    assert(spark.sql("SELECT count(*) FROM graft_c2.ns1.src " +
      "TIMESTAMP AS OF current_timestamp()").head.getLong(0) == 2)
    intercept[Exception](spark.sql("SELECT count(*) FROM graft_c2.ns1.src " +
      "TIMESTAMP AS OF TIMESTAMP'1999-01-01 00:00:00'").collect())

    // expire through SQL: three versions (create/insert on src + insert again)
    spark.sql("INSERT INTO graft_c2.ns1.src VALUES (3, 'r3', 'c', 'x1')")
    val removed = spark.sql(
      s"CALL graft_c2.system.expire_snapshots('$wh/ns1/src', 1, 0)").head.getInt(0)
    assert(removed > 0)
    assert(spark.sql("SELECT count(*) FROM graft_c2.ns1.src").head.getLong(0) == 3)

    spark.sql("DROP TABLE graft_c2.ns1.src")
    spark.sql("DROP TABLE graft_c2.ns1.copy")
    spark.sql("DROP NAMESPACE graft_c2.ns1")
    assert(spark.sql("SHOW NAMESPACES IN graft_c2").collect().isEmpty)
  }

  test("SQL UPDATE and MERGE INTO land as CDC epochs (row-level delta ops)") {
    import spark.implicits._
    val wh = TestSpark.tmpDir("dsv2dml")
    spark.conf.set("spark.sql.catalog.graft_dml",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dml.warehouse", wh)

    spark.sql("CREATE TABLE graft_dml.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "content STRING) TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_dml.db.t VALUES " +
      "(1, 'r1', 'a', 'v1'), (2, 'r2', 'b', 'w1'), (3, 'r3', 'c', 'x1')")
    val v1 = new LakeTable(spark, s"$wh/db/t").currentSnapshot().get.version

    // plain UPDATE: content changes, lsn is engine-sequenced past the old hwm
    spark.sql("UPDATE graft_dml.db.t SET content = 'v2' WHERE repo = 'r1'")
    val r1 = spark.sql("SELECT content, lsn FROM graft_dml.db.t WHERE repo = 'r1'").head
    assert(r1.getString(0) == "v2" && r1.getLong(1) > 3)
    assert(spark.sql("SELECT count(*) FROM graft_dml.db.t").head.getLong(0) == 3)
    // history intact: the pre-UPDATE version still shows v1
    assert(spark.sql(s"SELECT content FROM graft_dml.db.t VERSION AS OF $v1 " +
      "WHERE repo = 'r1'").head.getString(0) == "v1")

    // key-moving UPDATE: old key tombstoned, new key present
    spark.sql("UPDATE graft_dml.db.t SET path = 'a2' WHERE repo = 'r1'")
    assert(spark.sql("SELECT count(*) FROM graft_dml.db.t WHERE repo = 'r1' " +
      "AND path = 'a'").head.getLong(0) == 0)
    assert(spark.sql("SELECT count(*) FROM graft_dml.db.t WHERE repo = 'r1' " +
      "AND path = 'a2'").head.getLong(0) == 1)

    // MERGE INTO: matched-delete, matched-update, not-matched-insert in one epoch
    Seq(("r2", "del", ""), ("r3", "upd", "x2"), ("r9", "ins", "z1"))
      .toDF("repo", "action", "newc").createOrReplaceTempView("dml_src")
    val vPre = new LakeTable(spark, s"$wh/db/t").currentSnapshot().get.version
    spark.sql("""MERGE INTO graft_dml.db.t AS t USING dml_src AS s ON t.repo = s.repo
      WHEN MATCHED AND s.action = 'del' THEN DELETE
      WHEN MATCHED THEN UPDATE SET content = s.newc
      WHEN NOT MATCHED THEN INSERT (lsn, repo, path, content) VALUES (0, s.repo, 'p9', s.newc)""")
    val rows = spark.sql("SELECT repo, path, content FROM graft_dml.db.t ORDER BY repo")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq(("r1", "a2", "v2"), ("r3", "c", "x2"), ("r9", "p9", "z1")))

    // exactly ONE new version, and its CDC feed shows the delete + changes
    val tbl = new LakeTable(spark, s"$wh/db/t")
    assert(tbl.currentSnapshot().get.version == vPre + 1)
    val changes = spark.read.format("graft").option("changesFrom", vPre)
      .option("includeTombstones", "true").load(s"$wh/db/t")
    val ops = changes.collect().map(r =>
      (r.getAs[String]("repo"),
        if (r.getAs[Boolean](LakeTable.DeletedCol)) "D" else "U")).toSet
    assert(ops == Set(("r2", "D"), ("r3", "U"), ("r9", "U")))
    // no staging residue under the table root
    val fs = new org.apache.hadoop.fs.Path(s"$wh/db/t/_dml")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/db/t/_dml")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$wh/db/t/_dml")).isEmpty)

    spark.sql("DROP TABLE graft_dml.db.t")
  }

  test("MERGE INTO with NOT MATCHED BY SOURCE: one-epoch full sync to the source") {
    import spark.implicits._
    val wh = TestSpark.tmpDir("dsv2sync")
    spark.conf.set("spark.sql.catalog.graft_sync",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sync.warehouse", wh)
    spark.sql("CREATE TABLE graft_sync.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "content STRING) TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_sync.db.t VALUES " +
      "(1, 'r1', 'a', 'v1'), (2, 'r2', 'b', 'w1'), (3, 'r3', 'c', 'x1')")

    Seq(("r1", "v2"), ("r4", "z1")).toDF("repo", "c").createOrReplaceTempView("sync_src")
    val vPre = new LakeTable(spark, s"$wh/db/t").currentSnapshot().get.version
    spark.sql("""MERGE INTO graft_sync.db.t AS t USING sync_src AS s ON t.repo = s.repo
      WHEN MATCHED THEN UPDATE SET content = s.c
      WHEN NOT MATCHED THEN INSERT (lsn, repo, path, content) VALUES (0, s.repo, 'p', s.c)
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")

    val rows = spark.sql("SELECT repo, content FROM graft_sync.db.t ORDER BY repo")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("r1", "v2"), ("r4", "z1")), rows.toString)
    // one epoch; the feed carries the two deletes as tombstones
    val tbl = new LakeTable(spark, s"$wh/db/t")
    assert(tbl.currentSnapshot().get.version == vPre + 1)
    val ops = spark.read.format("graft").option("changesFrom", vPre)
      .option("includeTombstones", "true").load(s"$wh/db/t")
      .collect().map(r => (r.getAs[String]("repo"),
        if (r.getAs[Boolean](LakeTable.DeletedCol)) "D" else "U")).toSet
    assert(ops == Set(("r1", "U"), ("r4", "U"), ("r2", "D"), ("r3", "D")), ops.toString)
    spark.sql("DROP TABLE graft_sync.db.t")
  }

  test("DELETE FROM and TRUNCATE TABLE write tombstones through the merge") {
    val wh = TestSpark.tmpDir("dsv2del")
    spark.conf.set("spark.sql.catalog.graft_del",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_del.warehouse", wh)
    spark.sql("CREATE TABLE graft_del.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "content STRING) TBLPROPERTIES ('buckets'='4')")
    spark.sql("INSERT INTO graft_del.db.t VALUES " +
      "(1, 'r1', 'a.txt', 'v1'), (2, 'r1', 'b.txt', 'v2'), (3, 'r2', 'c.txt', 'w1')")

    // key-column predicate
    spark.sql("DELETE FROM graft_del.db.t WHERE repo = 'r1' AND path = 'a.txt'")
    assert(spark.sql("SELECT count(*) FROM graft_del.db.t").head.getLong(0) == 2)
    // non-key predicate: evaluated against the full visible row
    spark.sql("DELETE FROM graft_del.db.t WHERE content = 'w1'")
    assert(spark.sql("SELECT path FROM graft_del.db.t").collect()
      .map(_.getString(0)).toSeq == Seq("b.txt"))

    // the deletes are CDC events: visible to incremental readers
    val table = new LakeTable(spark, s"$wh/db/t")
    val v = table.currentSnapshot().get.version
    val changes = Maintenance.changesBetween(table, v - 1, v)
    assert(changes.select("_change_type").collect().map(_.getString(0)).toSeq == Seq("delete"))
    // deletes land ABOVE the previous high-water mark (ordered commit)
    assert(table.currentSnapshot().get.unorderedCommits == 0L)

    // deleting nothing commits nothing
    spark.sql("DELETE FROM graft_del.db.t WHERE repo = 'absent'")
    assert(table.currentSnapshot().get.version == v)

    spark.sql("TRUNCATE TABLE graft_del.db.t")
    assert(spark.sql("SELECT count(*) FROM graft_del.db.t").head.getLong(0) == 0)
    // truncation is tombstones, not file deletion: time travel still works
    assert(spark.sql(s"SELECT count(*) FROM graft_del.db.t VERSION AS OF $v").head.getLong(0) == 1)
  }

  test("writeStream.format(\"graft\") sink: creates the table, upserts per batch, op=D deletes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val work = TestSpark.tmpDir("dsv2sink")
    val root = s"$work/table"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val ms = MemoryStream[(Long, String, String, String)]
    val df = ms.toDF().toDF("lsn", "repo", "path", "content")
    def run(): Unit = {
      val q = df.writeStream.format("graft")
        .option("checkpointLocation", s"$work/cp")
        .option("numBuckets", "4")
        .trigger(Trigger.AvailableNow())
        .start(root)
      q.awaitTermination()
    }

    // first run creates the table (no snapshot existed at start)
    ms.addData((1L, "r1", "a.txt", "v1"), (2L, "r2", "b.txt", "w1"))
    run()
    val table = new LakeTable(spark, root)
    assert(canon(table.read().select("repo", "path", "content")) ==
      Seq("[r1,a.txt,v1]", "[r2,b.txt,w1]"))

    // later batches upsert through the same checkpoint generation
    ms.addData((5L, "r1", "a.txt", "v2"))
    run()
    assert(canon(table.read().select("repo", "path", "content")) ==
      Seq("[r1,a.txt,v2]", "[r2,b.txt,w1]"))

    // an op column routes deletes through the same sink
    val ms2 = MemoryStream[(Long, String, String, String, String)]
    val df2 = ms2.toDF().toDF("lsn", "repo", "path", "content", "op")
    ms2.addData((9L, "r2", "b.txt", null, "D"))
    val q2 = df2.writeStream.format("graft")
      .option("checkpointLocation", s"$work/cp2")
      .trigger(Trigger.AvailableNow())
      .start(root)
    q2.awaitTermination()
    assert(canon(table.read().select("repo", "path", "content")) == Seq("[r1,a.txt,v2]"))

    // round-trip: the sink's commits are a readable CDC stream
    val got = spark.read.format("graft").load(root)
    assert(got.count() == 1)
  }

  test("batch CDC read: changesFrom emits exactly the changed live rows; compaction ranges plan zero files") {
    val table = build() // two epochs → versions 0, 1
    val v = table.currentSnapshot().get.version
    assert(v == 1)

    val got = spark.read.format("graft")
      .option("changesFrom", v - 1).load(table.root)
      .select("repo", "path", "lsn").orderBy("repo", "path", "lsn")
      .collect().map(_.toString).toSeq
    val want = Maintenance.changesBetween(table, v - 1, v)
      .where(col("_change_type").isin("insert", "update_postimage"))
      .select("repo", "path", "lsn").orderBy("repo", "path", "lsn")
      .collect().map(_.toString).toSeq
    assert(got == want && got.nonEmpty)

    // a compaction-only range emits nothing and plans ZERO data files
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0,
      "premise: compaction must rewrite files")
    val v2 = table.currentSnapshot().get.version
    val none = spark.read.format("graft")
      .option("changesFrom", v).option("changesTo", v2).load(table.root)
    assert(none.count() == 0)
    assert(plannedFiles(none) == 0)

    // a targeted epoch: planning tracks the CHANGE, not the table
    val spark2 = spark
    import spark2.implicits._
    new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false).apply(
      Seq((999999L, "zrepo", "z.txt", "zz", "U"))
        .toDF("lsn", "repo", "path", "content", "op"), 4242L)
    val v3 = table.currentSnapshot().get.version
    val one = spark.read.format("graft").option("changesFrom", v2).load(table.root)
    val all = spark.read.format("graft").load(table.root)
    assert(one.count() == 1)
    assert(plannedFiles(one) < plannedFiles(all))
    assert(one.select("repo").head.getString(0) == "zrepo")
    assert(v3 == v2 + 1)

    // an epoch of deletes and updates above the bound: each bucket it
    // touches is rewritten whole, so its new file mixes carried rows
    // below the bound with tombstones and updates above it, and the lsn
    // bound and the tombstone filter meet in one batch
    val live = table.read().select("repo", "path").orderBy("repo", "path")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val events = live.zipWithIndex.collect {
      case ((r, p), i) if i % 7 == 0 => (5000000L + i, r, p, "", "D")
      case ((r, p), i) if i % 7 == 3 => (5000000L + i, r, p, s"upd-$i", "U")
    }
    assert(events.exists(_._5 == "D") && events.exists(_._5 == "U"))
    new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false).apply(
      events.toDF("lsn", "repo", "path", "content", "op"), 4343L)
    val v4 = table.currentSnapshot().get.version
    assert(v4 == v3 + 1)
    val hw = table.snapshotAt(v3).highWaterLsn.get
    val snap4 = table.currentSnapshot().get
    val written = snap4.allFiles
      .filter(_.relPath.startsWith(s"data/${snap4.summary.flatMap(_.writeDir).get}/"))
    assert(written.exists(f => f.minLsn <= hw && f.maxLsn > hw),
      "premise: a rewritten file must carry rows below the bound")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("repo", "path", "lsn").collect().map(_.toString).toSeq
    val changes = Maintenance.changesBetween(table, v3, v4)
    val liveGot = rows(spark.read.format("graft").option("changesFrom", v3).load(table.root)
      .select("repo", "path", "lsn", "content"))
    val liveWant = rows(changes.where(col("_change_type").isin("insert", "update_postimage"))
      .select("repo", "path", "lsn", "content"))
    assert(liveGot == liveWant && liveGot.size == events.count(_._5 == "U"))
    // includeTombstones: every change, deletes as `_deleted` rows
    val allGot = rows(spark.read.format("graft").option("changesFrom", v3)
      .option("includeTombstones", "true").load(table.root)
      .select("repo", "path", "lsn", LakeTable.DeletedCol))
    val allWant = rows(changes.select(col("repo"), col("path"), col("lsn"),
      (col("_change_type") === "delete").as(LakeTable.DeletedCol)))
    assert(allGot == allWant && allGot.size == events.size)
  }

  test("CDC relay: readStream from table A through the graft sink converges table B to A") {
    import org.apache.spark.sql.streaming.Trigger
    val work = TestSpark.tmpDir("dsv2relay")
    val a = build() // several epochs incl. updates
    // add a delete so the relay must carry a tombstone
    val delKey = a.read().select("repo", "path").orderBy("repo", "path").head()
    val maxLsn = a.read().agg(max("lsn")).head().getLong(0)
    val spark2 = spark
    import spark2.implicits._
    new MergeInto(a, numBuckets = 4, saltBuckets = 2, recordMeta = false).apply(
      Seq((maxLsn + 1, delKey.getString(0), delKey.getString(1), "D"))
        .toDF("lsn", "repo", "path", "op"), 7777L)

    val bRoot = s"$work/b"
    val relay = spark.readStream.format("graft")
      .option("includeTombstones", "true")
      .option("maxVersionsPerTrigger", "1") // one commit per batch: epochs replay individually
      .load(a.root)
      .withColumn("op", when(col(LakeTable.DeletedCol), lit("D")).otherwise(lit("U")))
      .drop(LakeTable.DeletedCol)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$work/cp")
      .option("numBuckets", "4")
      .trigger(Trigger.AvailableNow())
      .start(bRoot)
    relay.awaitTermination()

    val b = new LakeTable(spark, bRoot)
    assert(canon(b.read()) == canon(a.read()))
    // resume: a new epoch in A flows through the same checkpoint into B
    new MergeInto(a, numBuckets = 4, saltBuckets = 2, recordMeta = false).apply(
      Seq((maxLsn + 2, "relay-new", "n.txt", "x", "U"))
        .toDF("lsn", "repo", "path", "content", "op"), 7778L)
    val relay2 = spark.readStream.format("graft")
      .option("includeTombstones", "true")
      .load(a.root)
      .withColumn("op", when(col(LakeTable.DeletedCol), lit("D")).otherwise(lit("U")))
      .drop(LakeTable.DeletedCol)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$work/cp")
      .trigger(Trigger.AvailableNow())
      .start(bRoot)
    relay2.awaitTermination()
    assert(canon(b.read()) == canon(a.read()))
  }

  test("readStream.table over a catalog table streams the CDC feed") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = TestSpark.tmpDir("dsv2ctstream")
    spark.conf.set("spark.sql.catalog.graft_cts",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cts.warehouse", wh)
    spark.sql("CREATE TABLE graft_cts.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "content STRING) TBLPROPERTIES ('buckets'='4')")
    spark.sql("INSERT INTO graft_cts.db.t VALUES (1, 'r1', 'a', 'v1'), (2, 'r2', 'b', 'w1')")

    val out = s"$wh/out"
    val q = spark.readStream.table("graft_cts.db.t")
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$wh/cp")
      .option("path", out)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)
  }

  // -------------------------------------------------------------------
  // readStream.format("graft"): incremental CDC source
  // -------------------------------------------------------------------

  test("streaming: maxBytesPerTrigger paces batches by manifest-recorded added bytes") {
    import spark.implicits._
    val table = build() // 2 commits, each adding files of known manifest size
    val work = TestSpark.tmpDir("dsv2bytes")

    // budget of 1 byte: every commit exceeds it alone → one commit per
    // micro-batch (the cap still admits ≥1 version so the stream moves)
    val (rows, q) = runStream(table.root, s"$work/cp", s"$work/out",
      Map("maxBytesPerTrigger" -> "1", "includeTombstones" -> "true"))
    assert(q.recentProgress.count(_.numInputRows > 0) == 2,
      s"expected one micro-batch per commit: ${q.recentProgress.map(_.numInputRows).mkString(",")}")

    // a huge budget takes everything in one batch; same total feed
    val (rows2, q2) = runStream(table.root, s"$work/cp2", s"$work/out2",
      Map("maxBytesPerTrigger" -> s"${Long.MaxValue / 2}", "includeTombstones" -> "true"))
    assert(q2.recentProgress.count(_.numInputRows > 0) == 1,
      s"expected a single batch: ${q2.recentProgress.map(_.numInputRows).mkString(",")}")
    // byte-paced feed folds to the same state as the single-batch feed
    def fold(rs: Seq[org.apache.spark.sql.Row]) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("repo"), col("path")).orderBy(col("lsn").desc)
      rs.map(r => (r.getAs[String]("repo"), r.getAs[String]("path"),
        r.getAs[Long]("lsn"), r.getAs[Boolean]("_deleted")))
        .toDF("repo", "path", "lsn", "_deleted")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && !col("_deleted")).select("repo", "path", "lsn")
    }
    assert(canon(fold(rows)) == canon(fold(rows2)))
    assert(canon(fold(rows)) == canon(table.read().select("repo", "path", "lsn")))

    // a non-positive cap can never advance the offset — refused loudly
    // instead of stalling the stream forever
    intercept[IllegalArgumentException] {
      new graft.lake.dsv2.GraftMicroBatchStream(table.root,
        new org.apache.spark.sql.types.StructType(),
        new org.apache.spark.sql.types.StructType(),
        includeTombstones = false, startingVersion = None,
        maxVersionsPerTrigger = None, maxBytesPerTrigger = Some(0L))
    }
    intercept[IllegalArgumentException] {
      new graft.lake.dsv2.GraftMicroBatchStream(table.root,
        new org.apache.spark.sql.types.StructType(),
        new org.apache.spark.sql.types.StructType(),
        includeTombstones = false, startingVersion = None,
        maxVersionsPerTrigger = Some(0), maxBytesPerTrigger = None)
    }
  }

  /** Run one Trigger.AvailableNow pass into a parquet sink (the memory
    * sink cannot recover from a checkpoint, so cross-run resume needs a
    * durable sink). Returns (ALL rows accumulated in the sink so far,
    * the stopped query for progress inspection). */
  private def runStream(root: String, cp: String, out: String,
                        options: Map[String, String] = Map.empty) = {
    var r = spark.readStream.format("graft")
    options.foreach { case (k, v) => r = r.option(k, v) }
    val q = r.load(root).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .format("parquet").option("path", out)
      .outputMode("append")
      .start()
    q.awaitTermination()
    q.stop()
    (spark.read.parquet(out).collect().toSeq, q)
  }

  test("streaming: a RENAME committed while the stream runs fails the next batch") {
    val wh = TestSpark.tmpDir("dsv2rnstream")
    spark.conf.set("spark.sql.catalog.graft_rs", classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rs.warehouse", wh)
    spark.sql("CREATE TABLE graft_rs.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "stars INT) TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_rs.db.t VALUES (1, 'r1', 'a', 10)")
    val q = spark.readStream.format("graft").load(s"$wh/db/t").writeStream
      .format("memory").queryName("graft_rename_stream")
      .option("checkpointLocation", s"$wh/cp").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_rename_stream").select("stars").collect()
        .map(_.getInt(0)).toSeq == Seq(10))
      spark.sql("ALTER TABLE graft_rs.db.t RENAME COLUMN stars TO rating")
      spark.sql("INSERT INTO graft_rs.db.t VALUES (2, 'r1', 'b', 20)")
      // the pinned readers know only `stars`: the batch over the new file
      // must fail, not emit (r1, b) with a null rating
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msg.contains("column stars was renamed to rating") && msg.contains("restart"), msg)
      assert(spark.table("graft_rename_stream").count() == 1L, "a batch with nulls was emitted")
    } finally q.stop()
  }

  test("streaming: a capped stream started after a RENAME reads the earlier era") {
    // the stream pins the current schema (`rating`, alias `stars`); its
    // first capped batch ends at a version from before the rename, whose
    // files say `stars`: the pinned aliases resolve them, so no batch fails
    val wh = TestSpark.tmpDir("dsv2rnolder")
    spark.conf.set("spark.sql.catalog.graft_ro", classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ro.warehouse", wh)
    spark.sql("CREATE TABLE graft_ro.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "stars INT) TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_ro.db.t VALUES (1, 'r1', 'a', 10)")
    spark.sql("ALTER TABLE graft_ro.db.t RENAME COLUMN stars TO rating")
    spark.sql("INSERT INTO graft_ro.db.t VALUES (2, 'r1', 'b', 20)")
    val q = spark.readStream.format("graft").option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1").load(s"$wh/db/t").writeStream
      .format("memory").queryName("graft_rename_older")
      .option("checkpointLocation", s"$wh/cp").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("graft_rename_older").select("path", "rating").collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
        .toSet
      assert(rows == Set(("a", Some(10)), ("b", Some(20))), rows)
    } finally q.stop()
  }

  test("streaming: first run backfills, later runs emit only each commit's changes") {
    val work = TestSpark.tmpDir("dsv2stream")
    // two logs sharing batch prefixes: events are per-id functions, so
    // replaying the longer log after the shorter applies ONLY epoch 2
    // (the ledger skips 0 and 1)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1200L), s"$work/log12", nBatches = 2, partitions = 2)
    ChangeGen.writeLog(spark, GenConfig(nEvents = 1800L), s"$work/logAll", nBatches = 3, partitions = 2)
    val table = new LakeTable(spark, s"$work/table")
    BatchReplay.replay(spark, s"$work/log12", table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val v2 = table.currentSnapshot().get.version
    val hw2 = table.currentSnapshot().get.highWaterLsn.get

    def keyLsn(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[String]("repo"), r.getAs[String]("path"),
        r.getAs[Long]("lsn"))).toSet

    // run 1: backfill — visible state only (tombstones hidden by default)
    val (backfill, _) = runStream(table.root, s"$work/cp", s"$work/out")
    val wantState = keyLsn(table.read().collect().toSeq)
    assert(keyLsn(backfill) == wantState && backfill.nonEmpty)

    // commit epoch 2, run 2 from the same checkpoint: only changed rows
    BatchReplay.replay(spark, s"$work/logAll", table, numBuckets = 4, saltBuckets = 2,
      recordMeta = false)
    val v3 = table.currentSnapshot().get.version
    assert(v3 == v2 + 1)
    val (after2, _) = runStream(table.root, s"$work/cp", s"$work/out")
    val delta = keyLsn(after2) -- keyLsn(backfill)
    // every delta row postdates the old high-water mark...
    assert(delta.nonEmpty && delta.forall(_._3 > hw2))
    // ...and the delta keys are exactly changesBetween's non-delete keys
    // (the default stream hides tombstones; deletes are covered below)
    val wantKeys = Maintenance.changesBetween(table, v2, v3)
      .where(col("_change_type") =!= "delete")
      .select("repo", "path").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val gotKeys = delta.map(t => (t._1, t._2))
    assert(gotKeys == wantKeys)
  }

  test("streaming: includeTombstones surfaces deletes; LWW fold of the feed rebuilds the state") {
    import spark.implicits._
    val table = build()
    val work = TestSpark.tmpDir("dsv2cdc")
    val tombOpts = Map("includeTombstones" -> "true")
    val (r1, _) = runStream(table.root, s"$work/cp", s"$work/out", tombOpts)
    // delete one live key, then stream the increment
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val victim = table.read().select("repo", "path").limit(1).collect().head
    val ts = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")
    val del = Seq((7777777L, "D", ts, victim.getString(0), victim.getString(1), "cX", "text", ""))
      .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    merge.apply(del, 779L)
    val (r2, _) = runStream(table.root, s"$work/cp", s"$work/out", tombOpts)
    assert(r2.size > r1.size, "increment run emitted nothing")
    assert(r2.exists(r => r.getAs[Boolean]("_deleted") &&
      r.getAs[String]("repo") == victim.getString(0) &&
      r.getAs[String]("path") == victim.getString(1)),
      "delete tombstone missing from the CDC feed")
    // consumer-side LWW fold over the accumulated feed == visible state
    val feed = r2
      .map(r => (r.getAs[String]("repo"), r.getAs[String]("path"),
        r.getAs[Long]("lsn"), r.getAs[String]("content"), r.getAs[Boolean]("_deleted")))
      .toDF("repo", "path", "lsn", "content", "_deleted")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("repo"), col("path")).orderBy(col("lsn").desc)
    val folded = feed.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && !col("_deleted"))
      .select("repo", "path", "lsn", "content")
    assert(canon(folded) == canon(table.read().select("repo", "path", "lsn", "content")))
  }

  test("streaming: a late (unordered) commit is never lost — the gated fallback re-emits its bucket") {
    import spark.implicits._
    val work = TestSpark.tmpDir("dsv2late")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = false)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def df(rows: (Long, String, String, String, String)*) =
      rows.map { case (lsn, op, repo, path, content) => (lsn, op, ts, repo, path, "c", "text", content) }
        .toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content")
    merge.apply(df((10L, "I", "r/a", "k1", "old"), (500L, "I", "r/b", "k9", "x")), 0L)
    val (r1, _) = runStream(table.root, s"$work/cp", s"$work/out")
    assert(r1.size == 2)
    // late epoch: every lsn below the v0 high-water mark (500)
    merge.apply(df((60L, "U", "r/a", "k1", "new"), (50L, "I", "r/a", "k2", "fresh")), 1L)
    assert(table.currentSnapshot().get.unorderedCommits == 1L)
    val (r2, _) = runStream(table.root, s"$work/cp", s"$work/out")
    // the hw fast path would have pruned the whole epoch (file max_lsn
    // 60 ≤ 500); the fallback must deliver both late rows (it may also
    // re-emit carried bucket rows — at-least-once, absorbed by the fold)
    val byKey = r2.groupBy(r => (r.getAs[String]("repo"), r.getAs[String]("path")))
    assert(byKey(("r/a", "k1")).exists(_.getAs[String]("content") == "new"),
      "late update lost by the stream")
    assert(byKey.contains(("r/a", "k2")), "late insert lost by the stream")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("repo"), col("path")).orderBy(col("lsn").desc)
    val folded = r2.map(r => (r.getAs[String]("repo"), r.getAs[String]("path"),
        r.getAs[Long]("lsn"), r.getAs[String]("content")))
      .toDF("repo", "path", "lsn", "content")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    assert(canon(folded) == canon(table.read().select("repo", "path", "lsn", "content")))
  }

  test("streaming: maxVersionsPerTrigger paces one commit per micro-batch; compaction emits zero rows") {
    import spark.implicits._
    val table = build() // 2 commits
    val work = TestSpark.tmpDir("dsv2pace")
    val opts = Map("maxVersionsPerTrigger" -> "1", "includeTombstones" -> "true")
    val (rows, q) = runStream(table.root, s"$work/cp", s"$work/out", opts)
    val withRows = q.recentProgress.filter(_.numInputRows > 0)
    assert(withRows.length == 2,
      s"expected one micro-batch per commit: ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    // LWW fold across the per-commit batches == state (keys changed in
    // both commits appear twice; the fold must reconcile them — and the
    // tombstones are needed so epoch-1 deletes erase epoch-0 rows)
    val feed = rows.map(r => (r.getAs[String]("repo"), r.getAs[String]("path"),
      r.getAs[Long]("lsn"), r.getAs[Boolean]("_deleted")))
      .toDF("repo", "path", "lsn", "_deleted")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("repo"), col("path")).orderBy(col("lsn").desc)
    val folded = feed.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && !col("_deleted")).select("repo", "path", "lsn")
    assert(canon(folded) == canon(table.read().select("repo", "path", "lsn")))

    // a compaction-only commit adds files but no post-high-water rows:
    // the stream must emit NOTHING for it (file-level stats pruning)
    assert(Maintenance.compact(table, maxFilesPerBucket = 1) > 0)
    val (afterCompact, _) = runStream(table.root, s"$work/cp", s"$work/out", opts)
    assert(afterCompact.size == rows.size,
      s"compaction-only commit leaked ${afterCompact.size - rows.size} carried rows into the stream")
  }

  test("CALL replay_quarantine: repaired rows merge as one epoch; re-run converges") {
    import spark.implicits._
    val work = TestSpark.tmpDir("dsv2requar")
    val table = new LakeTable(spark, s"$work/table")
    val merge = new MergeInto(table, numBuckets = 4, saltBuckets = 2, recordMeta = true)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    merge.apply(Seq(
      (java.lang.Long.valueOf(1L), "I", ts, "r/a", "f1", "c", "text", "one"),
      (null.asInstanceOf[java.lang.Long], "I", ts, "r/d", "f4", "c", "text", "bad-lsn"),
      (java.lang.Long.valueOf(6L), "X", ts, "r/e", "f5", "c", "text", "bad-op")
    ).toDF("lsn", "op", "ts", "repo", "path", "commit", "lang", "content"), 0L)
    assert(spark.read.json(s"${table.root}/meta/quarantine").count() == 2)

    // upstream repair: assign a real lsn, fix the unknown op
    val repaired = s"$work/repaired"
    spark.read.json(s"${table.root}/meta/quarantine").drop("_epoch")
      .withColumn("lsn", coalesce(col("lsn"), lit(50L)))
      .withColumn("op", when(col("op") === "X", "U").otherwise(col("op")))
      .write.mode("overwrite").json(repaired)

    spark.conf.set("spark.sql.catalog.graft_rq",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    val r = spark.sql(s"CALL graft_rq.system.replay_quarantine('${table.root}', " +
      s"'$repaired')").head
    assert(r.getLong(1) == 2L && r.getLong(2) == 0L,
      s"both repaired rows merge, none re-quarantine: $r")
    val keys = table.read().select("repo", "path").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(keys == Set(("r/a", "f1"), ("r/d", "f4"), ("r/e", "f5")))

    // re-running the same replay is a ledger skip — state unchanged
    val v = table.currentSnapshot().get.version
    spark.sql(s"CALL graft_rq.system.replay_quarantine('${table.root}', '$repaired')")
    assert(table.currentSnapshot().get.version == v)

    // a row still malformed after "repair" re-quarantines instead of failing
    spark.read.json(repaired).withColumn("lsn",
      when(col("repo") === "r/d", null).otherwise(col("lsn")))
      .write.mode("overwrite").json(s"$work/bad-repair")
    val r2 = spark.sql(s"CALL graft_rq.system.replay_quarantine('${table.root}', " +
      s"'$work/bad-repair')").head
    assert(r2.getLong(2) == 1L, s"still-poison row must re-quarantine: $r2")
  }

  test("catalog identifiers reject path-traversal segments") {
    val wh = TestSpark.tmpDir("dsv2trav") + "/warehouse"
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(wh))
    // sentinel OUTSIDE the warehouse: a traversal bug would delete it
    val sentinel = new org.apache.hadoop.fs.Path(s"${wh.stripSuffix("/warehouse")}/keepme")
    fs.create(sentinel, true).close()
    spark.conf.set("spark.sql.catalog.graft_trav",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_trav.warehouse", wh)

    // DROP TABLE g.`..` would resolve to the warehouse's PARENT and
    // recursively delete it; same for namespaces
    intercept[Exception](spark.sql("DROP TABLE graft_trav.`..`"))
    intercept[Exception](spark.sql("DROP NAMESPACE graft_trav.`..`"))
    intercept[Exception](spark.sql("SELECT * FROM graft_trav.`..`.`..`"))
    assert(fs.exists(sentinel), "traversal identifier must never touch the parent")
  }

  test("lsn >= Long.MinValue is a tautology, not a prune-everything filter") {
    val table = build()
    val all = table.read().count()
    val viaScan = spark.read.format("graft").load(table.root)
      .where(col("lsn") >= Long.MinValue).count()
    assert(viaScan == all,
      "a tautological bound must not underflow into pruning every file")
    // and a genuinely restrictive bound still works
    val hw = table.currentSnapshot().get.highWaterLsn.get
    assert(spark.read.format("graft").load(table.root)
      .where(col("lsn") >= hw + 1).count() == 0)
  }

  test("SQL MERGE INTO insert of a previously-deleted key clears its tombstone (no hw mark)") {
    import spark.implicits._
    val wh = TestSpark.tmpDir("dsv2hwfall")
    spark.conf.set("spark.sql.catalog.graft_hwf",
      classOf[graft.lake.dsv2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_hwf.warehouse", wh)
    spark.sql("CREATE TABLE graft_hwf.db.t (lsn BIGINT, repo STRING, path STRING, " +
      "content STRING) TBLPROPERTIES ('buckets'='2')")
    spark.sql("INSERT INTO graft_hwf.db.t VALUES " +
      "(1, 'r1', 'a', 'v1'), (2, 'r2', 'b', 'w1')")
    val table = new LakeTable(spark, s"$wh/db/t")
    // delete r1/a at an lsn far ABOVE every visible row (a CDC delete)
    new MergeInto(table, numBuckets = 2, saltBuckets = 1, recordMeta = false)
      .apply(Seq((100L, "D", "r1", "a", ""))
        .toDF("lsn", "op", "repo", "path", "content"), 77L)
    // legacy-table shape: no high-water mark → DML must fall back to a
    // max-lsn that still SEES the tombstone at 100
    val snap = table.currentSnapshot().get
    table.commitSnapshot(snap.copy(version = snap.version + 1, highWaterLsn = None),
      graft.lake.CommitSummary("alter"))
    assert(table.currentSnapshot().get.highWaterLsn.isEmpty)

    // a MATCHED clause keeps this on the row-level DELTA path (an
    // insert-only MERGE optimizes to the plain INSERT surface, which
    // honors the row's own lsn by contract)
    spark.sql("MERGE INTO graft_hwf.db.t t USING (SELECT 'r1' repo, 'a' path, 'reborn' c " +
      "UNION ALL SELECT 'r2', 'b', 'w2') s " +
      "ON t.repo = s.repo AND t.path = s.path " +
      "WHEN MATCHED THEN UPDATE SET content = s.c " +
      "WHEN NOT MATCHED THEN INSERT (lsn, repo, path, content) " +
      "VALUES (0, s.repo, s.path, s.c)")
    val got = spark.sql("SELECT content FROM graft_hwf.db.t " +
      "WHERE repo = 'r1' AND path = 'a'").collect()
    assert(got.length == 1 && got(0).getString(0) == "reborn",
      "the insert must sequence ABOVE the tombstone's lsn 100, not above the visible max")
    spark.sql("DROP TABLE graft_hwf.db.t")
  }
}
