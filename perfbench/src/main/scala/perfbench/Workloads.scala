package perfbench

import scala.collection.mutable

import graft.gen.{ChangeGen, GenConfig}
import graft.ingest.BatchReplay
import graft.lake.{LakeTable, Maintenance}
import graft.merge.{MergeInto, MergeStats}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The three workloads. Each returns its set-up time (excluding session
  * start) and fills the context's result with what it measured. Every
  * layer is timed from outside, around the benchmark's own call into the
  * engine's public API. */
object Workloads {
  val NumBuckets = 16
  val Salt = 4
  val WarmupReplays = 1

  /** The final-state gate: the engine's digest against the fold's. With
    * `perturb`, the same gate is also run against a perturbed expectation
    * on a scratch result, and whether it failed there is recorded. */
  private def digestGate(c: Ctx, got: String, expected: String, what: String): Unit = {
    c.r.check(got == expected, s"$what digest $got, expected $expected")
    if (c.perturb) {
      val probe = new Result
      probe.check(got == Fold.perturb(expected), s"$what digest against a perturbed expectation")
      c.r.info("perturbed_gate_failed") = (probe.failed == 1).toString
    }
  }

  private def stat(r: Result, name: String, xs: Iterable[Double]): Unit =
    r.layer(name) = Stats.median(xs)

  private def mergeLayers(r: Result, stats: Seq[MergeStats], distinctKeys: Seq[Long]): Unit = {
    stat(r, "merge.events_in", stats.map(_.eventsIn.toDouble))
    stat(r, "merge.events_quarantined", stats.map(_.eventsQuarantined.toDouble))
    stat(r, "merge.keys_written", stats.map(_.keysWritten.toDouble))
    stat(r, "merge.tombstones_written", stats.map(_.tombstonesWritten.toDouble))
    stat(r, "merge.buckets_touched", stats.map(_.bucketsTouched.toDouble))
    r.layer("merge.skipped") = stats.count(_.skipped).toDouble
    stat(r, "merge.useful_ratio", stats.zip(distinctKeys).map { case (s, k) =>
      if (s.keysWritten == 0) 0.0 else k.toDouble / s.keysWritten })
  }

  // ---------------------------------------------------------------------
  // backfill: one JSON change log replayed as one epoch into an empty table
  // ---------------------------------------------------------------------

  def backfillConfig(c: Ctx): GenConfig = GenConfig(seed = c.seed,
    nEvents = if (c.toy) 4000L else 20000L, nRepos = 2000, pathsPerRepo = 200,
    hotRepoPct = 30, deletePct = 5, dupPct = 10)

  /** Replays the log into fresh tables: `warmUp` untimed, `run` timed for
    * `seconds` (at least `min` replays); every replay's live row count is
    * checked against the fold. */
  private final class ReplayLoop(c: Ctx, spark: SparkSession, log: String, dir: String,
                                 expectedLive: Long, tag: String) {
    val wallS, cpuS, snapMs = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.ArrayBuffer.empty[MergeStats]
    var last: LakeTable = null
    var jitWaitS = 0.0
    private var n = 0

    private def once(): Unit = {
      n += 1
      val t = new LakeTable(spark, s"$dir/t-$tag-$n")
      jitWaitS += Host.awaitJitIdle()
      val cpu0 = Host.processCpuS()
      val (st, s) = Timed(c.tracer.span("ingest.replay") {
        BatchReplay.replayAll(spark, log, t, NumBuckets, Salt, recordMeta = false, format = "json")
      })
      cpuS += Host.processCpuS() - cpu0
      val (snap, ms) = Timed(c.tracer.span("lake.snapshot")(t.currentSnapshot()))
      wallS += s
      snapMs += ms * 1000
      stats += st
      val live = Snap.liveRows(snap)
      c.r.check(live == expectedLive, s"backfill $tag replay $n: $live live rows, expected $expectedLive")
      if (last != null) Host.deleteRecursively(last.root)
      last = t
    }

    def warmUp(warmups: Int): Double = {
      val (_, s) = Timed((1 to warmups).foreach(_ => once()))
      Seq(wallS, cpuS, snapMs).foreach(_.clear())
      stats.clear()
      s
    }

    def run(seconds: Double, min: Int): Unit = {
      val window = new Window(seconds, min)
      while (window.more) window(c.tracer.span("iteration")(once()))
    }
  }

  /** The replay at the session's core count; then, never at the same
    * time, the same replay with the whole process pinned to the one CPU
    * `pinCpu` (`taskset -a` re-pins every JVM thread, so tasks, GC and JIT
    * share the core; the JVM stays warm from the first leg). */
  def backfill(c: Ctx, pinCpu: Int): Double = {
    val r = c.r
    val dir = s"${c.work}/backfill"
    val log = s"$dir/log"
    var fold: Fold = null
    var nEvents = 0

    // set-up: generation and fold, repeated (median), then warm-up replays
    Host.deleteRecursively(dir)
    val preps = (1 to 3).map { _ =>
      Timed {
        Host.deleteRecursively(log)
        ChangeGen.writeLog(c.spark, backfillConfig(c), log, nBatches = 2,
          partitions = c.cores, format = "json")
        fold = new Fold
        nEvents = fold.applyLog(log).size
      }._2
    }
    val expected = fold.digest
    val expectedLive = fold.liveCount

    val main = new ReplayLoop(c, c.spark, log, dir, expectedLive, "main")
    val warmS = main.warmUp(WarmupReplays)
    c.beginWindow()
    main.run(c.seconds / 3, min = if (c.toy) 2 else 5)
    c.endWindow(main.wallS.size)
    val got = Fold.digestOfTable(main.last)
    digestGate(c, got, expected, "backfill")
    val snap = main.last.currentSnapshot()
    val files = Snap.files(snap)

    val one = {
      c.spark.stop()
      val pid = ProcessHandle.current().pid()
      val rc = new ProcessBuilder("taskset", "-a", "-p", "-c", pinCpu.toString, pid.toString)
        .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD).start().waitFor()
      require(rc == 0, s"taskset exited with $rc")
      c.spark = Host.session(1, c.work)
      Host.awaitJitIdle()
      val l = new ReplayLoop(c, c.spark, log, dir, expectedLive, "1core")
      l.run(c.seconds, min = 2)
      val got1 = Fold.digestOfTable(l.last)
      r.check(got1 == expected, s"backfill 1-core digest $got1, expected $expected")
      l
    }

    val medS = Stats.median(main.wallS)
    val eps = nEvents / medS
    r.e2e("events_per_s") = (eps, "events/s")
    val eps1 = nEvents / Stats.median(one.wallS)
    r.e2e("events_per_s_1core") = (eps1, "events/s")
    r.e2e("scaling_eff") = (eps / (c.cores * eps1), "ratio")
    r.info("replay_1core_s") = one.wallS.map(Json.num).mkString("[", ",", "]")
    r.e2e("op_p50_s") = (medS, "s")
    r.e2e("op_cpu_s") = (Stats.median(main.cpuS), "s")
    r.e2e("table_mb") = (Snap.mb(files.values), "MB")
    r.info("events") = nEvents.toString
    r.info("replay_s") = main.wallS.map(Json.num).mkString("[", ",", "]")
    r.info("replay_cpu_s") = main.cpuS.map(Json.num).mkString("[", ",", "]")
    r.info("live_keys") = expectedLive.toString
    r.info("digest") = Json.str(got)
    r.info("prep_s") = preps.map(Json.num).mkString("[", ",", "]")
    r.info("warmup_s") = Json.num(warmS)
    r.info("jit_wait_s") = Json.num(main.jitWaitS)

    stat(r, "ingest.replay_s", main.wallS)
    r.layer("ingest.input_mb") = Host.dirBytes(log) / 1048576.0
    mergeLayers(r, main.stats.toSeq, main.stats.map(_ => fold.state.size.toLong).toSeq)
    r.layer("lake.files_added") = files.size
    r.layer("lake.files_total") = files.size
    stat(r, "lake.snapshot_ms", main.snapMs)
    r.layer("lake.tombstone_share") = Snap.tombstoneShare(snap)
    Stats.median(preps) + warmS
  }

  // ---------------------------------------------------------------------
  // incremental: small epochs onto a base table, with reads beside them
  // ---------------------------------------------------------------------

  val EpochEvents = 500
  val MaxEpochs = 12
  /** 4 x 25 point lookups: p90 has ten samples beyond it. */
  val LookupsPerEpoch = 25
  val MinEpochs = 4
  val CompactEvery = 3
  /** Base-log events: ~150k live keys, a ~14 MB table. Epoch time grows by
    * ~0.115 s per MB of table over a fixed ~3.1 s (measured at 1.6 and
    * 14 MB), so the whole-table rewrite is about a third of each epoch; a
    * larger base would not fit the run budget. */
  val BaseEvents = 240000L

  def incrementalConfig(c: Ctx): (GenConfig, Long) = {
    val base = if (c.toy) 3000L else BaseEvents
    (GenConfig(seed = c.seed, nEvents = base + MaxEpochs * EpochEvents.toLong,
      nRepos = 5000, pathsPerRepo = 200, hotRepoPct = 30, deletePct = 5, dupPct = 10), base)
  }

  /** Base log as one batch directory; epoch logs as `epoch=<e>` directories.
    * Redeliveries reach back only inside their own epoch, so every epoch's
    * lsns sit above everything applied before it. */
  private def writeIncrementalLogs(c: Ctx, dir: String): Unit = {
    val spark = c.spark
    import spark.implicits._
    val (cfg, base) = incrementalConfig(c)
    Host.deleteRecursively(dir)
    c.spark.range(0L, base, 1L, c.cores).flatMap(id => ChangeGen.emittedFor(cfg, id))
      .write.json(s"$dir/base/batch-00000")
    c.spark.range(base, cfg.nEvents, 1L, c.cores).flatMap { id =>
      val lo = base + (id - base) / EpochEvents * EpochEvents
      ChangeGen.emittedFor(cfg, id).filter(_.lsn >= lo)
    }.withColumn("epoch", ((col("lsn") - base) / EpochEvents).cast("int"))
      .repartition(col("epoch")).write.partitionBy("epoch").json(s"$dir/epochs")
  }

  def incremental(c: Ctx): Double = {
    val r = c.r
    val spark = c.spark
    val dir = s"${c.work}/incremental"
    val logs = s"$dir/logs"
    def epochDir(e: Int) = s"$logs/epochs/epoch=$e"
    val rng = new scala.util.Random(c.seed)
    var fold: Fold = null
    var baseEvents = 0
    var table: LakeTable = null
    var merge: MergeInto = null
    var epoch = 0

    // per-op samples
    val applyS, cpuS, writeMb, removedMb, snapMs, lookupS, planMs, execMs, cdcS, compactS, compactMb =
      mutable.ArrayBuffer.empty[Double]
    val added, removed, lookupFiles, cdcRows = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.ArrayBuffer.empty[MergeStats]
    val distinctKeys = mutable.ArrayBuffer.empty[Long]
    var hits = 0
    var hitsExpected = 0
    var jitWaitS = 0.0
    var eventsApplied = 0L

    def snapshot() = {
      val (s, t) = Timed(c.tracer.span("lake.snapshot")(table.currentSnapshot()))
      snapMs += t * 1000
      s
    }

    def lookup(repo: String, path: String, expectSha: Option[String]): Unit = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val t0 = System.nanoTime()
      val df = spark.read.format("graft").load(table.root)
        .where(col("repo") === repo && col("path") === path)
      val (plan, p) = Timed(c.tracer.span("dsv2.lookup.plan")(df.queryExecution.executedPlan))
      val (rows, e) = Timed(c.tracer.span("dsv2.lookup.exec")(df.select("content").collect()))
      lookupS += (System.nanoTime() - t0) / 1e9
      planMs += p * 1000
      execMs += e * 1000
      val scans = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.collect { case b: BatchScanExec => b }
        case other => other.collect { case b: BatchScanExec => b }
      }
      lookupFiles += scans.flatMap(b => "files=(\\d+)".r.findFirstMatchIn(b.scan.description()))
        .map(_.group(1).toDouble).sum
      val got = rows.map(row => Option(row.getString(0)).map(Fold.sha256Hex).orNull).toSeq
      if (expectSha.isDefined) hitsExpected += 1
      if (expectSha.isDefined && got == expectSha.toSeq) hits += 1
      r.check(got == expectSha.toSeq, s"lookup ($repo, $path): got ${got.size} rows, expected ${expectSha.size}")
    }

    /** Point lookups: half live keys, half keys that were never written. */
    def pointLookups(n: Int): Unit = {
      val liveKeys = fold.live.map(_._1).toArray
      (0 until n).foreach { i =>
        val (repo, path) = liveKeys(rng.nextInt(liveKeys.length))
        if (i % 2 == 0) lookup(repo, path, Some(Fold.sha256Hex(fold.state((repo, path))._2)))
        else lookup(repo, s"src/absent/miss_${rng.nextInt(1 << 20)}.txt", None)
      }
    }

    /** One epoch: apply, diff the snapshots, look up, read the changes. */
    def runEpoch(lookups: Int): Unit = {
      val e = epoch
      epoch += 1
      val before = snapshot()
      val events = spark.read.schema(graft.schema.SchemaRegistry.eventSchemaV1).json(epochDir(e))
      jitWaitS += Host.awaitJitIdle()
      val cpu0 = Host.processCpuS()
      val (st, s) = Timed(c.tracer.span("merge.apply")(merge.apply(events, 1L + e)))
      cpuS += Host.processCpuS() - cpu0
      applyS += s
      stats += st
      val after = snapshot()
      val (f0, f1) = (Snap.files(before), Snap.files(after))
      val add = f1.keySet -- f0.keySet
      val rem = f0.keySet -- f1.keySet
      added += add.size
      removed += rem.size
      writeMb += Snap.mb(add.toSeq.map(f1))
      removedMb += Snap.mb(rem.toSeq.map(f0))
      // the client's own bookkeeping: fold this epoch's events
      val folded = fold.applyLog(epochDir(e))
      eventsApplied += folded.size
      distinctKeys += folded.map(ev => (ev._3, ev._4)).distinct.size
      r.check(!st.skipped && st.eventsQuarantined == 0, s"epoch $e: stats $st")

      jitWaitS += Host.awaitJitIdle()
      pointLookups(lookups)

      // the changes of this epoch, as a batch CDC read
      val lo = incrementalConfig(c)._2 + e.toLong * EpochEvents
      jitWaitS += Host.awaitJitIdle()
      val (rows, cs) = Timed(c.tracer.span("dsv2.cdc_read") {
        spark.read.format("graft").option("changesFrom", before.map(_.version).getOrElse(-1L))
          .load(table.root).select("repo", "path", "lsn").collect()
      })
      cdcS += cs
      cdcRows += rows.length
      val expectRows = fold.live.count(_._2._1 >= lo)
      r.check(rows.length == expectRows && rows.forall(_.getLong(2) >= lo),
        s"cdc read of epoch $e: ${rows.length} rows, expected $expectRows")

      if (epoch % CompactEvery == 0) {
        val pre = Snap.files(table.currentSnapshot())
        val (_, ks) = Timed(c.tracer.span("lake.compact")(Maintenance.compact(table)))
        val post = Snap.files(table.currentSnapshot())
        compactS += ks
        compactMb += Snap.mb((pre.keySet -- post.keySet).toSeq.map(pre))
        r.check(Snap.liveRows(table.currentSnapshot()) == fold.liveCount,
          s"compaction after epoch $e changed the live row count")
      }
    }

    // set-up, once (a second log generation and fold would cost ~6 s of the
    // run budget): the logs and the fold of the base, the base-table build
    // (a backfill: the ingest layer's sample) and a few warm-up lookups. The
    // first measured epoch runs cold; the median of four absorbs it.
    Host.deleteRecursively(dir)
    val (_, prepS) = Timed {
      writeIncrementalLogs(c, logs)
      fold = new Fold
      baseEvents = fold.applyLog(s"$logs/base").size
    }
    val (_, baseS) = Timed {
      table = new LakeTable(spark, s"$dir/table")
      BatchReplay.replayAll(spark, s"$logs/base", table, NumBuckets, Salt,
        recordMeta = false, format = "json")
    }
    merge = new MergeInto(table, NumBuckets, Salt, recordMeta = true)
    val (_, warmS) = Timed(pointLookups(4))
    r.info("prep_s") = Json.num(prepS)
    r.info("warmup_s") = Json.num(warmS)
    r.info("base_build_s") = Json.num(baseS)
    r.info("base_events_per_s") = Json.num(baseEvents / baseS)
    Seq(applyS, cpuS, writeMb, removedMb, snapMs, lookupS, planMs, execMs, cdcS, compactS, compactMb,
      added, removed, lookupFiles, cdcRows).foreach(_.clear())
    stats.clear(); distinctKeys.clear()
    hits = 0; hitsExpected = 0; eventsApplied = 0L

    c.beginWindow()
    val window = new Window(c.seconds, if (c.toy) 2 else MinEpochs)
    var n = 0
    while (window.more && epoch < MaxEpochs) {
      window(c.tracer.span("iteration")(runEpoch(if (c.toy) 4 else LookupsPerEpoch)))
      n += 1
    }
    c.endWindow(n)

    val finalSnap = table.currentSnapshot()
    val got = Fold.digestOfTable(table)
    digestGate(c, got, fold.digest, "incremental")
    val files = Snap.files(finalSnap)

    r.e2e("op_p50_s") = (Stats.median(applyS), "s")
    r.e2e("op_cpu_s") = (Stats.median(cpuS), "s")
    r.e2e("events_per_s") = (eventsApplied / applyS.sum, "events/s")
    r.e2e("epoch_p50_s") = (Stats.median(applyS), "s")
    r.e2e("epoch_write_mb") = (Stats.median(writeMb), "MB")
    r.e2e("table_mb") = (Snap.mb(files.values), "MB")
    r.e2e("lookup_p50_ms") = (Stats.median(lookupS) * 1000, "ms")
    r.e2e("lookup_p90_ms") = (Stats.quantile(lookupS, 0.9) * 1000, "ms")
    r.e2e("cdc_read_p50_s") = (Stats.median(cdcS), "s")
    r.info("apply_s") = applyS.map(Json.num).mkString("[", ",", "]")
    r.info("jit_wait_s") = Json.num(jitWaitS)
    r.info("apply_cpu_s") = cpuS.map(Json.num).mkString("[", ",", "]")
    r.info("lookups") = lookupS.size.toString
    r.info("live_keys") = fold.liveCount.toString
    r.info("digest") = Json.str(got)

    r.layer("ingest.replay_s") = baseS
    r.layer("ingest.input_mb") = Host.dirBytes(s"$logs/base") / 1048576.0
    stat(r, "merge.apply_s", applyS)
    mergeLayers(r, stats.toSeq, distinctKeys.toSeq)
    stat(r, "lake.files_added", added)
    stat(r, "lake.files_removed", removed)
    stat(r, "lake.bytes_removed_mb", removedMb)
    r.layer("lake.files_total") = files.size
    stat(r, "lake.snapshot_ms", snapMs)
    r.layer("lake.tombstone_share") = Snap.tombstoneShare(finalSnap)
    stat(r, "lake.compact_s", compactS)
    stat(r, "lake.compact_mb", compactMb)
    stat(r, "dsv2.lookup_plan_ms", planMs)
    stat(r, "dsv2.lookup_exec_ms", execMs)
    stat(r, "dsv2.lookup_files", lookupFiles)
    r.layer("dsv2.lookup_hit_ratio") = if (hitsExpected == 0) 0.0 else hits.toDouble / hitsExpected
    stat(r, "dsv2.cdc_rows", cdcRows)
    prepS + baseS + warmS
  }

  // ---------------------------------------------------------------------
  // query_suite: a fixed sample of the operator queries over the reference
  // test data
  // ---------------------------------------------------------------------

  /** The timed sample of the operator queries: every kernel family
    * (relational, window/CDC, text, dedup, ANN, geo, graph, packing).
    * Each query costs 0.15-1.7 s even on tiny inputs at local[4] (fixed
    * planning and job overhead), so a warm-up pass plus a timed pass of
    * all 54 would not fit the benchmark's per-run budget. */
  val SuiteQueries: Seq[String] = Seq(
    "q2_revenue_by_nation", "q21_asof_join", "q4_latest_event_per_user", "q27_cdc_lww",
    "q40_doc_freq", "q14_ngram_jaccard", "q16_simhash", "q37_dedup_clusters",
    "q38_ann_ivf", "q33_rep_point", "q23_closure", "q48_seq_pack")

  def querySuite(c: Ctx, data: String): Double = {
    val r = c.r
    val out = s"${c.work}/query_suite/out"
    val queries = SuiteQueries.map(q => q -> graft.SparkEntry.queries(q))
    Json.writeFile(s"$out/oracle_sql.json",
      Json.obj(SuiteQueries.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))))

    // set-up: the warm-up pass, whose results the oracle compare reads
    // after the JVM has exited
    val (_, warmS) = Timed(queries.foreach { case (name, q) =>
      try q(c.spark, data).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable => r.check(ok = false, s"$name failed in the warm-up pass: $e") }
    })

    c.beginWindow()
    val window = new Window(c.seconds, min = if (c.toy) 1 else 3)
    var jitWaitS = 0.0
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    while (window.more) {
      var cpu = 0.0
      passes += window(c.tracer.span("iteration") {
        queries.map { case (name, q) =>
          jitWaitS += Host.awaitJitIdle(idleMs = 100L)
          val cpu0 = Host.processCpuS()
          val (ok, s) = Timed(c.tracer.span(s"ops.$name") {
            try { q(c.spark, data).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable => System.err.println(s"[perfbench] $name: $e"); false }
          })
          cpu += Host.processCpuS() - cpu0
          r.check(ok, s"$name failed")
          name -> s
        }.toMap
      })
      cpuS += cpu
    }
    c.endWindow(passes.size)

    val suite = passes.map(_.values.sum)
    r.e2e("op_p50_s") = (Stats.median(suite), "s")
    r.e2e("op_cpu_s") = (Stats.median(cpuS), "s")
    r.e2e("suite_s") = (Stats.median(suite), "s")
    r.info("pass_s") = suite.map(Json.num).mkString("[", ",", "]")
    r.info("jit_wait_s") = Json.num(jitWaitS)
    r.info("queries") = queries.size.toString
    queries.foreach { case (name, _) =>
      r.layer(Layers.queryMetric(name)) = Stats.median(passes.map(_(name)))
    }
    warmS
  }
}
