package graft.merge

import graft.lake.{CommitSummary, InlineFiles, LakeTable, Snapshot}
import org.apache.hadoop.fs.{FileStatus, Path}
import graft.schema.SchemaRegistry
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Key-partitioned MERGE INTO with last-writer-wins semantics.
  *
  * Semantics per micro-batch of change events:
  *   1. dedup by `lsn` (at-least-once delivery collapse);
  *   2. copy-on-write ONLY the buckets (`pmod(xxhash64(repo), B)`) that
  *      contain changed keys — bucket pruning, the Spark rebirth of the
  *      reference's row-group min/max pruning
  *      (src/places/place_index.rs:217-221);
  *   3. per (repo, path) argmax by lsn across (old state ∪ batch) —
  *      the reference's argmax-per-group
  *      (src/pipeline/conflate/mod.rs:148-175) as one declarative
  *      `max_by(struct(*), lsn)` hash aggregate (in-batch LWW and
  *      target merge in a single exchange);
  *   4. `op = D` winners become tombstones, keeping deletes idempotent
  *      under duplicate redelivery across epochs;
  *   5. publish a new snapshot atomically; the epoch ledger makes
  *      re-delivery of a committed epoch a no-op (exactly-once). The
  *      snapshot also carries the epoch's [[CommitSummary]] (counters,
  *      phase times), and its ledger entry is what makes the epoch's
  *      quarantined rows visible, so what the epoch did becomes visible
  *      with its data and no Spark job runs after the data write.
  *
  * Scale notes (100 TB / 1000 executors):
  *   - The only wide exchange is the per-key argmax, a partial-agg-friendly
  *     hash aggregate on fine-grained (repo, path) keys — no single key is
  *     hot, so the aggregate itself cannot skew.
  *   - The driver plans the reduce stage instead of hashing rows onto it
  *     ([[MergeInto.planTasks]]). Each touched bucket's load is its target
  *     rows (the manifest's per-file `nKeys`) plus its source rows (the
  *     touched scan counts them per bucket, in the same one job that finds
  *     the buckets). A bucket stays whole, one task and one file, unless
  *     its load holds at least 1.5 task shares; then it is split by
  *     `pmod(xxhash64(path), k)`, k = its shares rounded, ≤ `saltBuckets`. Whole buckets and
  *     parts are packed largest-first onto the least-loaded task, so the
  *     tasks finish together and an epoch writes one file per touched
  *     bucket plus one per extra part. Rows reach their task through
  *     `repartitionById` on a literal over the touched buckets only.
  *   - Hot-REPO skew shows up as a hot BUCKET, whose load then holds
  *     several shares and is split over up to `saltBuckets` tasks/files. A fresh
  *     table has no loads (no touched scan runs): every bucket is split
  *     `saltBuckets` ways and each part goes to the task Spark's hash
  *     partitioning on (bucket, part) picks. Spreading those parts evenly
  *     instead would leave no task empty, and on a small backfill the
  *     fixed cost of each extra non-empty task (a file writer, a task
  *     commit) outweighs the balance.
  *   - The stage runs at most `max(spark.sql.shuffle.partitions, input
  *     bytes / advisory partition size)` tasks and no more than there are
  *     parts: a small epoch runs no more tasks than the session's shuffle
  *     parallelism, a large one still gets a task per ~advisory size of
  *     input.
  *   - Untouched buckets are never read or rewritten, so steady-state cost
  *     tracks change volume, not table size.
  *   - The target is planned from the manifest (paths and lengths, no
  *     listing job), and the manifest stats of every written file come
  *     from the write tasks themselves ([[graft.lake.FileStatsTracker]]):
  *     the commit opens none of the files it just wrote.
  */
final case class MergeStats(
    epochId: Long,
    tableVersion: Long,
    skipped: Boolean,
    eventsIn: Long,
    /** Malformed events diverted from the merge: null key columns (repo/
      * path), null lsn, or an op outside {I, U, D}. A CDC engine must not
      * let one poison event abort the stream (a null repo would otherwise
      * land in an unparseable `b=__HIVE_DEFAULT_PARTITION__` directory and
      * fail the commit); they are counted here and in the commit's
      * summary, and — when `recordMeta` — written before the publish to
      * `meta/quarantine/e<epoch>.json` (JSONL: schema-tolerant across
      * evolving event schemas), which counts once the epoch is in the
      * ledger, for replay after upstream repair ([[Meta.quarantine]]). */
    eventsQuarantined: Long,
    /** HLL estimate (~2% rsd) of distinct lsns in the batch — an
      * observability metric, NOT an exact duplicate-delivery count;
      * exactness would cost a dedicated distinct exchange. */
    approxDistinctLsn: Long,
    keysWritten: Long,
    tombstonesWritten: Long,
    bucketsTouched: Int,
    durationMs: Long,
    /** Milliseconds per phase of the epoch: `touched_scan`, `target_plan`,
      * `merge_write`, `quarantine` (only when poison rows were written),
      * `file_stats` and `commit` (empty on a ledger skip). A phase that did
      * not run is absent. The snapshot's summary holds the same map
      * without `commit`, which ends after the summary is written. */
    phaseMs: Map[String, Long] = Map.empty
) {
  /** The counters as a commit summary records them. */
  def counters: Map[String, Long] = CommitSummary.MergeCounters.zip(Seq(eventsIn,
    eventsQuarantined, approxDistinctLsn, keysWritten, tombstonesWritten,
    bucketsTouched.toLong, durationMs)).toMap
}

/** `saltBuckets` is the most tasks (and files) one bucket may be split
  * over. `recordMeta` gates only the quarantine FILE (poison rows kept for
  * replay); the commit summary is always written. */
final class MergeInto(
    table: LakeTable,
    numBuckets: Int = 16,
    saltBuckets: Int = 4,
    recordMeta: Boolean = true
) {
  import LakeTable.DeletedCol

  private val BucketCol = "b"
  private val TaskCol = "_task"

  private def bucketExpr = pmod(xxhash64(col("repo")), lit(numBuckets)).cast(IntegerType)

  /** Project df onto `schema` column-by-column; absent columns become null
    * (the tolerant-reader evolution rule, reference
    * src/places/place_index.rs:359-370). */
  private def align(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** The most tasks the merge's reduce stage may run: the session's
    * shuffle parallelism, unless the input's estimated size (the
    * planner's, from file lengths) needs more tasks of the advisory
    * partition size. An input of unknown size allows one task per part. */
  private def reduceTasks(input: DataFrame): Int = {
    val conf = input.sparkSession.conf
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val bySize = input.queryExecution.optimizedPlan.stats.sizeInBytes / advisory + 1
    bySize.max(conf.get("spark.sql.shuffle.partitions").toInt).min(Int.MaxValue).toInt
  }

  private def asLong(m: Map[String, Any], k: String): Long = m.get(k) match {
    case Some(l: Long) => l
    case Some(i: Int) => i.toLong
    case _ => 0L
  }

  /** Apply one epoch of change events. Idempotent per epochId.
    *
    * Optimistic concurrency: two writers racing toward the same version
    * both write their data into private uuid directories; exactly one
    * wins the atomic snapshot rename. The loser REBASES — re-reads the
    * winner's snapshot (picking up its files, ledger, and high-water
    * mark) and redoes the merge against it, up to `maxCommitRetries`
    * times. Correctness needs no coordination: the merge is an lsn
    * argmax, so replaying the same events over the richer state yields
    * the same winners, and the loser's first attempt stays an orphan
    * directory for `Maintenance.vacuum`. The ledger recheck also covers
    * the same EPOCH landing concurrently (a speculatively-retried task
    * of one logical writer): the retry then degrades to a skip. */
  def apply(events: DataFrame, epochId: Long,
            maxCommitRetries: Int = 8): MergeStats = {
    var attempt = 0
    while (true) {
      val t0 = System.nanoTime()
      val snapOpt = table.currentSnapshot()
      snapOpt.find(_.epochs.contains(epochId)) match {
        case Some(s) =>
          return MergeStats(epochId, s.version, skipped = true, 0, 0, 0, 0, 0, 0,
            (System.nanoTime() - t0) / 1000000)
        case None =>
          try return applyNew(events, epochId, snapOpt, t0)
          catch {
            case _: graft.lake.CommitConflictException if attempt < maxCommitRetries =>
              attempt += 1 // rebase: loop re-reads the winner's snapshot
              // jittered linear backoff decorrelates a writer herd; the
              // jitter source is the attempt-unique nanotime, not a
              // seeded RNG (no shared state, no determinism needed)
              Thread.sleep(attempt * (50L + (System.nanoTime() >>> 3) % 100L))
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def applyNew(events: DataFrame, epochId: Long,
                       snapOpt: Option[Snapshot], t0: Long): MergeStats = {
    val phases = scala.collection.mutable.Map.empty[String, Long]
    def phase[T](name: String)(f: => T): T = {
      val t = System.nanoTime()
      try f finally phases(name) = phases.getOrElse(name, 0L) + (System.nanoTime() - t) / 1000000
    }
    // a merge built for the wrong bucket count would prune by bucket ids
    // that mean something else on disk — fail loudly (after a
    // Maintenance.rebucket, construct a new MergeInto with the new count)
    snapOpt.foreach(s => require(s.numBuckets == numBuckets,
      s"merge configured for $numBuckets buckets but the table is at " +
        s"${s.numBuckets} (rebucketed?) — rebuild the writer with the table's count"))
    // --- schema evolution -------------------------------------------------
    val incomingState = StructType(events.schema.fields.filterNot(_.name == "op"))
    val currentState = snapOpt.map(s => StructType(s.schema.fields.filterNot(_.name == DeletedCol)))
    val evolvedState = currentState match {
      case Some(cur) => SchemaRegistry.evolve(cur, incomingState)
      // creation: type all-null (NullType) columns off the canonical event
      // schema — JSON inference (or an all-poison first batch) must not
      // bake `void` into the table schema
      case None => SchemaRegistry.resolveNullTypes(incomingState)
    }
    val evolvedWithOp = StructType(evolvedState.fields :+ StructField("op", StringType, nullable = false))
    val physicalSchema = evolvedState.add(StructField(DeletedCol, BooleanType, nullable = false))

    // --- source prep ------------------------------------------------------
    // LSN dedup needs NO separate shuffle here: duplicate deliveries carry
    // the same lsn AND the same payload (an lsn identifies one immutable
    // log record), so the per-key `max_by(..., lsn)` argmax below collapses
    // them for free — whichever duplicate wins, the row is identical.
    // (The streaming path additionally runs dropDuplicatesWithinWatermark
    // for cross-batch redelivery; see ingest.StreamingReplay.) Metrics
    // still report the distinct-lsn count via an HLL sketch riding the
    // same pass, rather than paying an exact-distinct exchange.
    // Malformed-event quarantine: a poison event (null repo/path/lsn, or
    // an op outside {I,U,D}) must neither abort the stream nor corrupt
    // state — a null repo would land in an unparseable
    // `b=__HIVE_DEFAULT_PARTITION__` directory and fail the commit. The
    // classification rides the SAME observation pass as the metrics (no
    // extra job on the hot path); the rare persist of the quarantined
    // rows themselves happens only when some exist (count seen by the
    // touched-bucket action below). `op` is null-safe-compared so a null
    // op is quarantined rather than silently dropped by both branches.
    val opOk = coalesce(col("op").isin("I", "U", "D"), lit(false))
    val badCond = col("lsn").isNull || col("repo").isNull || col("path").isNull || !opOk
    val inObs = Observation(s"merge-in-$epochId")
    val inMetrics = Seq(count(lit(1)).as("n"),
      approx_count_distinct(col("lsn")).as("n_lsn"),
      min(col("lsn")).as("min_lsn"),
      sum(when(badCond, 1L).otherwise(0L)).as("n_bad"))
    val aligned = align(events, evolvedWithOp)
    val source = aligned
      .observe(inObs, inMetrics.head, inMetrics.tail: _*)
      .where(!badCond)

    // --- bucket pruning -------------------------------------------------
    // Touched buckets and their source rows: a tiny per-bucket count over
    // the batch (≤ numBuckets groups). Dedup cannot change the bucket set
    // (a dropped duplicate shares its lsn/repo with a survivor), so this
    // reads the raw source — one cheap scan-only job, no cache
    // materialization; the counts size the reduce plan below.
    // FRESH-TABLE fast path: with no snapshot there are no target files
    // to prune and no rebase that could consult the set, so the scan job
    // is pure overhead — skipping it saves a backfill epoch (the dominant
    // cost of replaying a log from zero) one full pass over the source.
    // The write's dynamic partitioning still creates only the buckets
    // that exist; stats take the bucket count from the output
    // observation instead (below).
    val sourceRows: Map[Int, Long] = snapOpt match {
      case None => Map.empty
      case Some(_) => phase("touched_scan")(source.groupBy(bucketExpr.as(BucketCol)).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    }
    val touched: Set[Int] =
      if (snapOpt.isEmpty) (0 until numBuckets).toSet else sourceRows.keySet

    val targetFiles = snapOpt.map(_.filesIn(touched)).getOrElse(Seq.empty)
    val target = phase("target_plan")(align(
      table.readFiles(snapOpt.map(_.schema).getOrElse(physicalSchema), targetFiles)
        .withColumn("op", when(col(DeletedCol), lit("D")).otherwise(lit("U"))),
      evolvedWithOp))

    // --- merge: per-key argmax by lsn, single exchange --------------------
    // ONE shuffle serves both the merge and the file layout: each row is
    // sent to the reduce task the driver planned for its part of its
    // bucket (`planTasks`: bucket = f(repo), part = g(path)), then the
    // lsn-argmax per key is a window over (bucket, task, repo, path).
    // The pass-through partitioning on the task column satisfies the
    // window's distribution, so EnsureRequirements plans the window
    // WITHOUT a second exchange; each reducer task sorts its partition
    // once, bucket first, and the writer adds no sort of its own. (The
    // two derived columns don't change the argmax: (repo, path)
    // determines both.) The window+sort form beats
    // `groupBy.agg(max_by(struct(...)))` ~2× here: a struct-valued
    // aggregation buffer forces the slow aggregate path, while the sort
    // runs on flat UnsafeRows.
    // A bucket's load is its target rows (the manifest's `nKeys`) plus
    // its source rows (the touched scan's counts); a bucket with a file
    // of unknown row count, and every bucket of a fresh table, counts
    // as unknown.
    val loads: Map[Int, Long] =
      if (snapOpt.isEmpty) touched.map(_ -> -1L).toMap
      else {
        val targetRows = targetFiles.groupBy(_.bucket).map { case (b, fs) =>
          b -> (if (fs.forall(_.hasStats)) fs.map(_.nKeys).sum else -1L)
        }
        sourceRows.map { case (b, n) =>
          b -> targetRows.get(b).fold(n)(t => if (t < 0L) -1L else t + n)
        }
      }
    val outObs = Observation(s"merge-out-$epochId")
    // Tie-break equal lsns toward the TARGET copy (an at-least-once
    // redelivery ties with the identical already-applied row): the
    // argmax output is unchanged either way, but it makes `_src` below
    // a precise ordered-delivery detector — a SOURCE row can then only
    // win at an lsn at or below the previous high-water mark if it is
    // a genuinely NOVEL late event (redeliveries lose the tie), which
    // is exactly the case that breaks incremental readers'
    // `lsn > highWater` pruning (see Snapshot.unorderedCommits).
    val SrcCol = "_src"
    val prevHw = snapOpt.flatMap(_.highWaterLsn)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(BucketCol), col(TaskCol), col("repo"), col("path"))
      .orderBy(col("lsn").desc, col(SrcCol).asc)
    // SOURCE on the union's left: the combined Dataset (and therefore
    // every action on it, including the write command below) binds to
    // the left operand's SparkSession = the events dataframe's session.
    // That is load-bearing for the Observations: inside foreachBatch the
    // batch df lives on the stream's CLONED session, and Spark's
    // ExecutionListenerBus delivers execution-end events only to the
    // session that ran the action (sessionUUID filter) — an Observation
    // registered on the source completes ONLY via an action on the
    // source's session. With target on the left, the fresh-table path
    // (no touched-bucket scan) would leave inObs.get blocked forever
    // under streaming. Union order cannot change the argmax: ties are
    // broken by column values, and equal (key, lsn, _src) rows are
    // identical payloads.
    val both = source.withColumn(SrcCol, lit(true))
      .unionByName(target.withColumn(SrcCol, lit(false)))
    val plan = MergeInto.planTasks(loads, reduceTasks(both), saltBuckets)
    // a bucket's tasks, indexed by its part; the literal names only the
    // touched buckets
    val tasksOf = element_at(typedLit(plan.map { case (b, ts) => b -> ts.toSeq }), col(BucketCol))
    val result = both
      .withColumn(BucketCol, bucketExpr)
      .withColumn(TaskCol, element_at(tasksOf,
        pmod(xxhash64(col("path")), size(tasksOf)).cast(IntegerType) + 1))
      .repartitionById(plan.valuesIterator.flatten.maxOption.fold(1)(_ + 1), col(TaskCol))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select((col(SrcCol) +: col(BucketCol) +:
        evolvedState.fields.map(f => col(f.name)).toIndexedSeq) :+
        (col("op") === lit("D")).as(DeletedCol): _*)
      .observe(outObs,
        count(lit(1)).as("keys"),
        sum(when(col(DeletedCol), 1L).otherwise(0L)).as("tombstones"),
        sum(when(col(SrcCol) && prevHw.map(col("lsn") <= lit(_)).getOrElse(lit(false)),
          1L).otherwise(0L)).as("late_wins"),
        // written-bucket count for stats on the fresh-table path, where
        // no touched-scan ran (approx ≡ exact at ≤ numBuckets values)
        approx_count_distinct(col(BucketCol)).as("n_buckets"))
      .drop(SrcCol)

    // --- write touched buckets --------------------------------------------
    // Unique writer-suffixed directory: data files never collide with a
    // concurrent writer racing toward the same version — the loser's
    // commitSnapshot rename fails AFTER writing only its own orphan dir
    // (cleaned by Maintenance.vacuum), never after clobbering committed
    // data. A crashed write before commit leaves the same harmless orphan.
    val newVersion = snapOpt.map(_.version + 1).getOrElse(0L)
    val writeDir = s"v$newVersion-${java.util.UUID.randomUUID().toString.take(8)}"
    val writeStats = phase("merge_write")(table.writeData(result, writeDir))

    // the write (or, on incremental epochs, the earlier touched scan)
    // evaluated the observed plan, so every counter is known before the
    // publish and rides in the snapshot it publishes. The observation
    // comes back EMPTY when no row of a file source survived the poison
    // filter (adaptive execution replaces the emptied stage, and its
    // observed metrics with it): count that all-poison or empty epoch
    // with a job of its own.
    val inM = Some(inObs.get).filter(_.nonEmpty).getOrElse {
      val r = aligned.agg(inMetrics.head, inMetrics.tail: _*).head()
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    }
    val nQuarantined = asLong(inM, "n_bad")
    val stats = MergeStats(epochId, -1L, skipped = false,
      eventsIn = asLong(inM, "n"),
      eventsQuarantined = nQuarantined,
      approxDistinctLsn = asLong(inM, "n_lsn"),
      keysWritten = asLong(outObs.get, "keys"),
      tombstonesWritten = asLong(outObs.get, "tombstones"),
      bucketsTouched =
        if (snapOpt.isEmpty) asLong(outObs.get, "n_buckets").toInt else touched.size,
      durationMs = 0L)

    // Quarantined rows are written BEFORE the publish, as the epoch's one
    // JSONL file (schema-tolerant across evolving event schemas; replay
    // after upstream repair is `Meta.quarantine` → merge.apply). Readers
    // take it only once the epoch is in the ledger, so the rows commit
    // with the epoch or not at all, and the root stays O(1). Every attempt
    // of an epoch quarantines the same rows under the same name: a retry
    // replaces the file, and an attempt that never publishes leaves it
    // for `Maintenance.vacuum`. repartition, NOT coalesce: `aligned` is
    // uncached, and coalesce(1) would fold its whole source re-parse into
    // one task.
    if (nQuarantined > 0L && recordMeta) phase("quarantine") {
      table.writeMetaFile(aligned.where(badCond).withColumn("_epoch", lit(epochId))
        .repartition(1), "json", "quarantine", Meta.quarantineName(epochId))
    }

    // --- commit -----------------------------------------------------------
    // Per-file (min_lsn, max_lsn, n_rows) come from the write tasks; the
    // manifest records them so readers prune sub-bucket, and the
    // snapshot's high-water lsn advances iff every file has stats
    // (ordered-log delivery makes rows with lsn <= highWater provably
    // unchanged in later snapshots).
    val newFiles = phase("file_stats")(table.listDataFilesWithStats(writeDir, writeStats))
    val statsOk = newFiles.forall(_.hasStats)
    // Ordered-log delivery check: a NOVEL source row won its key at an
    // lsn at or below the previous high-water mark — out-of-global-
    // order first delivery (e.g. a streaming source splitting one log
    // batch across micro-batches). Pure redeliveries do NOT trip this
    // (they lose the argmax tie to the target copy above). The merge
    // itself is order-independent (lsn argmax), but incremental
    // readers' `lsn > highWater` fast path is only sound across
    // ordered commits — so violations are counted cumulatively and
    // readers compare endpoint counters (see Snapshot scaladoc).
    val lateWins = asLong(outObs.get, "late_wins") > 0L
    val srcMinLsn = asLong(inM, "min_lsn")

    // Commit, with METADATA-ONLY rebase on conflict: if the concurrent
    // winner left our touched buckets' files and the schema untouched,
    // the data files we already wrote are exactly what a re-merge
    // against the winner would produce — so rebuild only the snapshot
    // metadata on its head and retry the rename. Writers on DISJOINT
    // buckets therefore never recompute (the Iceberg-style rebase);
    // anything else rethrows to apply()'s full-recompute loop.
    var base = snapOpt
    var baseIsOriginal = true
    var committedVersion = -1L
    var skippedStats: Option[MergeStats] = None
    val commitStart = System.nanoTime()
    while (committedVersion < 0L && skippedStats.isEmpty) {
      val commitVersion = base.map(_.version + 1).getOrElse(0L)
      val newHighWater: Option[Long] = base match {
        case None =>
          if (statsOk) Some(newFiles.map(_.maxLsn).foldLeft(Long.MinValue)(math.max))
          else None
        case Some(s) => s.highWaterLsn match {
          case Some(hw) if statsOk =>
            Some(newFiles.map(_.maxLsn).foldLeft(hw)(math.max))
          // a catalog-created EMPTY table has no mark yet; the first data
          // commit initializes it exactly like a fresh table would
          case None if statsOk && s.allFiles.isEmpty =>
            Some(newFiles.map(_.maxLsn).foldLeft(Long.MinValue)(math.max))
          case _ => None
        }
      }
      val filesRef = base
        .map(s => table.successorFiles(s, touched, newFiles))
        .getOrElse(InlineFiles(newFiles))
      val schemaVersion = base.map { s =>
        if (s.schema == physicalSchema) s.schemaVersion else s.schemaVersion + 1
      }.getOrElse(1)
      // against the ORIGINAL base the late-win observation is exact;
      // after a rebase the mark may have advanced past some of our
      // lsns, so fall back to the conservative source-min test (a false
      // positive only costs readers their hw pruning on this range,
      // never soundness)
      val unordered =
        if (baseIsOriginal) lateWins
        else lateWins || base.flatMap(_.highWaterLsn).exists(srcMinLsn <= _)
      val durationMs = (System.nanoTime() - t0) / 1000000
      try {
        table.commitSnapshot(Snapshot(
          version = commitVersion,
          schemaVersion = schemaVersion,
          schema = physicalSchema,
          numBuckets = numBuckets,
          epochs = base.map(_.epochs).getOrElse(Set.empty) + epochId,
          filesRef = filesRef,
          highWaterLsn = newHighWater,
          unorderedCommits = base.map(_.unorderedCommits).getOrElse(0L) +
            (if (unordered) 1L else 0L)
        ), CommitSummary("merge", Some(epochId), stats.copy(durationMs = durationMs).counters,
          phases.toMap, Some(writeDir)))
        committedVersion = commitVersion
      } catch {
        case e: graft.lake.CommitConflictException =>
          val cur = table.currentSnapshot().getOrElse(throw e)
          if (cur.epochs.contains(epochId)) {
            // our own epoch landed concurrently (a speculative retry of
            // one logical writer): degrade to a ledger skip
            skippedStats = Some(MergeStats(epochId, cur.version, skipped = true,
              0, 0, 0, 0, 0, 0, (System.nanoTime() - t0) / 1000000))
          } else {
            val fastOk = snapOpt.isDefined &&
              cur.numBuckets == numBuckets &&
              cur.schema == snapOpt.get.schema &&
              cur.filesIn(touched).map(_.relPath).toSet ==
                targetFiles.map(_.relPath).toSet
            if (!fastOk) throw e
            base = Some(cur)
            baseIsOriginal = false
          }
      }
    }
    phases("commit") = (System.nanoTime() - commitStart) / 1000000
    skippedStats.getOrElse(stats.copy(tableVersion = committedVersion,
      durationMs = (System.nanoTime() - t0) / 1000000, phaseMs = phases.toMap))
  }
}

object MergeInto {
  /** The merge's reduce plan: for each touched bucket, the tasks that hold
    * its parts, indexed by part. A bucket of one part is written whole,
    * as one file; one of k parts is split by `pmod(xxhash64(path), k)`.
    *
    * `loads` is each touched bucket's expected row count, -1 when
    * unknown. A known load is split into as many parts as the task
    * shares (the total over `maxTasks`) it holds, rounded, at least one
    * and at most `maxWays`: a bucket is split only once it holds 1.5
    * shares, since a split of one just over a share adds a file and
    * balances nothing. The parts are packed largest-first onto the
    * least-loaded task (Graham's LPT rule, within 4/3 of the best
    * makespan). An unknown load cannot be packed: it is split `maxWays`
    * ways, and each part goes to the task `repartition(n, bucket, part)`
    * would send it to (Spark's Murmur3 partition id), weighing a share.
    * The stage runs n = min(maxTasks, parts) tasks. */
  private[graft] def planTasks(loads: Map[Int, Long], maxTasks: Int,
                               maxWays: Int): Map[Int, IndexedSeq[Int]] = {
    import org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt
    val share = math.max(1.0, loads.values.filter(_ >= 0L).sum.toDouble / maxTasks)
    val ways = loads.map { case (b, load) =>
      b -> (if (load < 0L) maxWays else math.round(load / share).toInt.max(1).min(maxWays))
    }
    val nTasks = math.min(maxTasks, ways.values.sum).max(1)
    val assigned = Array.fill(nTasks)(0.0)
    val hashed = loads.collect { case (b, load) if load < 0L =>
      b -> (0 until maxWays).map { i =>
        val t = Math.floorMod(hashInt(i, hashInt(b, 42)), nTasks)
        assigned(t) += share
        t
      }
    }
    // (assigned weight, task): the least-loaded task first, the lowest on ties
    val free = scala.collection.mutable.PriorityQueue.empty(Ordering[(Double, Int)].reverse)
    assigned.zipWithIndex.foreach(free.enqueue(_))
    val packed = loads.toSeq.filter(_._2 >= 0L).sortBy(_._1)
      .flatMap { case (b, load) => (0 until ways(b)).map(i => (b, i, load.toDouble / ways(b))) }
      .sortBy(-_._3) // stable: equal weights keep bucket order
      .map { case (b, i, w) =>
        val (l, t) = free.dequeue()
        free.enqueue((l + w, t))
        (b, i, t)
      }
      .groupBy(_._1).map { case (b, ps) => b -> ps.sortBy(_._2).map(_._3).toIndexedSeq }
    hashed ++ packed
  }
}

/** Per-epoch metrics, per-bucket lineage and quarantined rows — the
  * engine's observability surface (reference analogue: atomic counters
  * and cache statistics, src/atp/mod.rs:67-72,
  * src/places/place_index.rs:27-45). Each is read back from the
  * snapshots' own [[CommitSummary]] and epoch ledger, so it is exactly as
  * durable as the commits: one row per RETAINED merge version of this
  * handle's lineage (a summary expires with its snapshot).
  */
object Meta {
  private def merges(table: LakeTable): Seq[(Snapshot, CommitSummary)] =
    table.snapshotVersions().map(table.snapshotAt).flatMap(s =>
      s.summary.filter(_.operation == "merge").map(s -> _))

  /** epoch, version, then [[CommitSummary.MergeCounters]]. */
  def metrics(table: LakeTable): DataFrame = {
    val counterCols = CommitSummary.MergeCounters.map(k =>
      StructField(k, if (k == "buckets_touched") IntegerType else LongType))
    val rows = merges(table).map { case (s, c) =>
      Row.fromSeq(Seq(c.epoch.getOrElse(-1L), s.version) ++ counterCols.map { f =>
        val n = c.counters.getOrElse(f.name, 0L)
        if (f.dataType == IntegerType) n.toInt else n
      })
    }
    table.spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      StructField("epoch", LongType) +: StructField("version", LongType) +: counterCols))
  }

  /** Per bucket a merge version wrote: key count and lsn range, rolled up
    * from the manifest stats of the files in that merge's own data
    * directory. An empty epoch wrote no data files and has no rows. */
  def lineage(table: LakeTable): DataFrame = {
    val spark = table.spark
    import spark.implicits._
    merges(table).flatMap { case (s, c) =>
      val dir = s"data/${c.writeDir.getOrElse("")}/"
      s.allFiles.filter(f => f.relPath.startsWith(dir) && f.hasStats && f.nKeys > 0)
        .groupBy(_.bucket).toSeq.sortBy(_._1).map { case (b, fs) =>
          (b, fs.map(_.nKeys).sum, fs.map(_.minLsn).min, fs.map(_.maxLsn).max,
            s.version, c.epoch.getOrElse(-1L))
        }
    }.toDF("bucket", "n_keys", "min_lsn", "max_lsn", "version", "epoch")
  }

  /** An epoch's quarantine file under `meta/quarantine/`. It counts while
    * the epoch is in a ledger: the file is written before the publish,
    * and a rollback that un-ledgers the epoch drops it from view. */
  private[graft] def quarantineName(epoch: Long): String = s"e$epoch.json"
  private val QuarantineFile = """e(-?\d+)\.json""".r
  /** The epoch a quarantine file name belongs to; None for names this
    * engine does not write (an older engine's `a-<id>-<i>.json` appends,
    * which default reads skip and `vacuum` never removes). */
  private[graft] def quarantineEpoch(name: String): Option[Long] = name match {
    case QuarantineFile(e) => Some(e.toLong)
    case _ => None
  }

  /** The quarantine files of the epochs in the current ledger. */
  private[graft] def quarantineFiles(table: LakeTable): Seq[FileStatus] = {
    val ledger = table.currentSnapshot().map(_.epochs).getOrElse(Set.empty[Long])
    val dir = new Path(table.root, "meta/quarantine")
    val fs = dir.getFileSystem(table.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(st => quarantineEpoch(st.getPath.getName).exists(ledger))
  }

  /** The quarantined rows of every epoch in the current ledger (JSONL,
    * the event columns plus `_epoch`); no rows when nothing was. */
  def quarantine(table: LakeTable): DataFrame = {
    val files = quarantineFiles(table)
    if (files.isEmpty) table.spark.createDataFrame(
      java.util.Collections.emptyList[Row](), StructType(Seq(StructField("_epoch", LongType))))
    else table.spark.read.json(files.map(_.getPath.toString): _*)
  }
}
