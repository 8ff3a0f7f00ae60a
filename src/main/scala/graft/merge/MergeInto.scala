package graft.merge

import graft.lake.{FileEntry, InlineFiles, LakeTable, Snapshot}
import org.apache.hadoop.fs.Path
import graft.schema.SchemaRegistry
import org.apache.spark.sql.{DataFrame, Observation}
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
  *      re-delivery of a committed epoch a no-op (exactly-once).
  *
  * Scale notes (100 TB / 1000 executors):
  *   - The only wide exchange is the per-key argmax, a partial-agg-friendly
  *     hash aggregate on fine-grained (repo, path) keys — no single key is
  *     hot, so the aggregate itself cannot skew.
  *   - Hot-REPO skew shows up as hot BUCKETS (file-size and task skew),
  *     handled by salting the write repartition with
  *     `pmod(xxhash64(path), saltBuckets)` so a hot bucket fans out over
  *     many tasks/files, plus AQE skew splitting.
  *   - The reduce stage runs one task per (bucket, salt) group, capped at
  *     `max(spark.sql.shuffle.partitions, input bytes / advisory
  *     partition size)`: a small epoch runs no more tasks than the
  *     session's shuffle parallelism, a large one still gets a task per
  *     ~advisory size of input. Past the cap a task holds several groups
  *     and writes one file per bucket among them. The cap keeps a small
  *     epoch cheap: touched × salt groups hash unevenly onto as many
  *     partitions, leaving about a third of the tasks empty, and every
  *     task costs its deserialisation.
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
      * fail the commit); they are counted here, recorded in meta/metrics,
      * and — when `recordMeta` — persisted to `meta/quarantine` (JSONL,
      * schema-tolerant across evolving event schemas) for replay after
      * upstream repair. */
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
      * `merge_write`, `file_stats`, `commit` and `meta` (empty on a ledger
      * skip). A phase that did not run is absent. */
    phaseMs: Map[String, Long] = Map.empty
)

final class MergeInto(
    table: LakeTable,
    numBuckets: Int = 16,
    saltBuckets: Int = 4,
    recordMeta: Boolean = true
) {
  import LakeTable.DeletedCol

  private val BucketCol = "b"
  private val SaltCol = "_salt"

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

  /** Width of the merge's reduce stage: one task per (bucket, salt) group,
    * but no more than the session's shuffle parallelism, unless the
    * input's estimated size (the planner's, from file lengths) needs more
    * tasks of the advisory partition size. An input of unknown size
    * keeps one task per group. */
  private def reduceTasks(input: DataFrame, touched: Int): Int = {
    val conf = input.sparkSession.conf
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val bySize = input.queryExecution.optimizedPlan.stats.sizeInBytes / advisory + 1
    bySize.max(conf.get("spark.sql.shuffle.partitions").toInt)
      .min(touched * saltBuckets).max(1).toInt
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
    val aligned = align(events, evolvedWithOp)
    val source = aligned
      .observe(inObs, count(lit(1)).as("n"),
        approx_count_distinct(col("lsn")).as("n_lsn"),
        min(col("lsn")).as("min_lsn"),
        sum(when(badCond, 1L).otherwise(0L)).as("n_bad"))
      .where(!badCond)

    // --- bucket pruning -------------------------------------------------
    // Touched buckets: tiny distinct over the batch (≤ numBuckets values).
    // Dedup cannot change the bucket set (a dropped duplicate shares its
    // lsn/repo with a survivor), so this reads the raw source — one cheap
    // scan-only job, no cache materialization.
    // FRESH-TABLE fast path: with no snapshot there are no target files
    // to prune and no rebase that could consult the set, so the scan job
    // is pure overhead — skipping it saves a backfill epoch (the dominant
    // cost of replaying a log from zero) one full pass over the source.
    // The write's dynamic partitioning still creates only the buckets
    // that exist; stats take the bucket count from the output
    // observation instead (below).
    val touched: Set[Int] = snapOpt match {
      case None => (0 until numBuckets).toSet
      case Some(_) => phase("touched_scan")(source.select(bucketExpr.as(BucketCol))
        .distinct().collect().map(_.getInt(0)).toSet)
    }

    val targetFiles = snapOpt.map(_.filesIn(touched)).getOrElse(Seq.empty)
    val target = phase("target_plan")(align(
      table.readFiles(snapOpt.map(_.schema).getOrElse(physicalSchema), targetFiles)
        .withColumn("op", when(col(DeletedCol), lit("D")).otherwise(lit("U"))),
      evolvedWithOp))

    // --- merge: per-key argmax by lsn, single exchange --------------------
    // ONE shuffle serves both the merge and the file layout: we
    // repartition explicitly on (bucket, salt) — bucket = f(repo),
    // salt = g(path) — then take the lsn-argmax per key with a window
    // over (bucket, salt, repo, path). Since the partitioning
    // expressions are a subset of the window partition spec,
    // EnsureRequirements recognizes the distribution as satisfied and
    // plans the window WITHOUT a second exchange; each reducer task
    // sorts its partition once and writes exactly its own bucket files.
    // (Partitioning by the two derived columns doesn't change the
    // argmax: (repo, path) determines both.) The window+sort form beats
    // `groupBy.agg(max_by(struct(...)))` ~2× here: a struct-valued
    // aggregation buffer forces the slow aggregate path, while the sort
    // runs on flat UnsafeRows. The salt dimension keeps a hot repo's
    // bucket spread over `saltBuckets` tasks/files.
    val saltExpr = pmod(xxhash64(col("path")), lit(saltBuckets)).cast(IntegerType)
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
      .partitionBy(col(BucketCol), col(SaltCol), col("repo"), col("path"))
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
    val result = both
      .withColumn(BucketCol, bucketExpr)
      .withColumn(SaltCol, saltExpr)
      .repartition(reduceTasks(both, touched.size), col(BucketCol), col(SaltCol))
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
    // evaluated the observed plan, so the quarantine count is known; the
    // rows themselves are persisted only AFTER the commit succeeds
    // (below) — a commit-conflict retry of this epoch would otherwise
    // re-append the same poison rows every attempt
    val nQuarantined = asLong(inObs.get, "n_bad")

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
    val srcMinLsn = asLong(inObs.get, "min_lsn")

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
        ))
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
    skippedStats match {
      case Some(sk) => sk
      case None =>
        // persist quarantined rows exactly once, post-commit (JSONL:
        // schema-tolerant across evolving event schemas) — replay after
        // upstream repair is `spark.read.json(...)` → merge.apply. A
        // crash in the gap loses only the quarantine COPY (the metrics
        // row below shares that durability class), never state; a
        // conflict-retried attempt rethrows before reaching here, so
        // retries cannot duplicate the rows. repartition(1): atomicAppend
        // renames part files one by one, so a single part makes the
        // epoch's quarantine all-or-nothing under a mid-loop crash
        // (quarantine volume is poison rows — small by construction).
        // repartition, NOT coalesce: `aligned` is uncached, and
        // coalesce(1) would fold its whole source re-parse into one task;
        // the shuffle barrier keeps the scan+filter parallel.
        if (nQuarantined > 0 && recordMeta) phase("meta") {
          Meta.atomicAppend(table,
            aligned.where(badCond).withColumn("_epoch", lit(epochId)).repartition(1),
            s"${table.root}/meta/quarantine", "json")
        }
        val stats = MergeStats(epochId, committedVersion, skipped = false,
          eventsIn = asLong(inObs.get, "n"),
          eventsQuarantined = nQuarantined,
          approxDistinctLsn = asLong(inObs.get, "n_lsn"),
          keysWritten = asLong(outObs.get, "keys"),
          tombstonesWritten = asLong(outObs.get, "tombstones"),
          bucketsTouched =
            if (snapOpt.isEmpty) asLong(outObs.get, "n_buckets").toInt else touched.size,
          durationMs = (System.nanoTime() - t0) / 1000000)
        if (recordMeta) phase("meta")(Meta.record(table, stats, committedVersion, epochId, newFiles))
        stats.copy(phaseMs = phases.toMap)
    }
  }
}

/** Per-partition lineage + per-epoch metrics tables — the engine's
  * observability surface (reference analogue: atomic counters and cache
  * statistics, src/atp/mod.rs:67-72, src/places/place_index.rs:27-45).
  * Appended as small parquet tables under the lake root.
  */
object Meta {

  /** Append `df` to the flat meta directory `destDir` WITHOUT a shared
    * staging dir: Spark's append mode stages every concurrent job under
    * the same `<dir>/_temporary/0`, so two epochs committing at once can
    * delete each other's attempt files mid-write (observed as a chmod/
    * ENOENT task failure in the quarantine race spec). Instead the job
    * writes to a writer-unique dot-tmp sibling, then each part file is
    * RENAMED into the destination under a unique name — renames never
    * collide, readers never see partial files (dot-prefixed dirs are
    * invisible to Spark), and a crash in the gap strands only a tmp dir
    * that the next `compactMeta` sweeps. */
  private[graft] def atomicAppend(table: LakeTable, df: DataFrame,
                                  destDir: String, format: String): Unit = {
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val root = new Path(destDir).getParent
    val tmp = new Path(root, s".append-$uuid")
    df.write.mode("overwrite").format(format).save(tmp.toString)
    val fs = tmp.getFileSystem(table.spark.sparkContext.hadoopConfiguration)
    val dst = new Path(destDir)
    fs.mkdirs(dst)
    fs.listStatus(tmp).filter { s =>
      val n = s.getPath.getName
      s.isFile && n.startsWith("part-")
    }.zipWithIndex.foreach { case (s, i) =>
      val ext = s.getPath.getName.dropWhile(_ != '.')
      if (!fs.rename(s.getPath, new Path(dst, s"a-$uuid-$i$ext")))
        throw new IllegalStateException(s"meta append rename failed into $destDir")
    }
    fs.delete(tmp, true): Unit
  }

  def record(table: LakeTable, stats: MergeStats, version: Long, epochId: Long,
             newFiles: Seq[FileEntry]): Unit = {
    val spark = table.spark
    import spark.implicits._
    // lineage: per bucket written this version → key count + lsn range,
    // rolled up driver-side from the per-file stats the commit
    // already collected — no extra Spark job re-reading written data.
    // An empty micro-batch commits a version with no data files (the
    // epoch must still be ledgered for exactly-once) — nothing to line.
    val statted = newFiles.filter(_.hasStats).filter(_.nKeys > 0)
    if (statted.nonEmpty) {
      val lineageDf = statted.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (b, fsOf) =>
        (b, fsOf.map(_.nKeys).sum, fsOf.map(_.minLsn).min, fsOf.map(_.maxLsn).max,
          version, epochId)
      }.toDF("bucket", "n_keys", "min_lsn", "max_lsn", "version", "epoch").coalesce(1)
      atomicAppend(table, lineageDf, s"${table.root}/meta/lineage", "parquet")
    }
    val metricsDf = Seq((epochId, version, stats.eventsIn, stats.eventsQuarantined,
      stats.approxDistinctLsn, stats.keysWritten,
      stats.tombstonesWritten, stats.bucketsTouched, stats.durationMs))
      .toDF("epoch", "version", "events_in", "events_quarantined",
        "approx_distinct_lsn", "keys_written",
        "tombstones_written", "buckets_touched", "duration_ms")
      .coalesce(1)
    atomicAppend(table, metricsDf, s"${table.root}/meta/metrics", "parquet")
  }

  // mergeSchema on both readers: a table created before a meta column
  // existed (e.g. metrics' events_quarantined) holds mixed-footer parts,
  // and a single-footer read would either drop the column or fail on it

  // reads go through Maintenance.metaFiles: it repairs crash states and
  // serves a CONSISTENT file list while a compaction is mid-flight (a
  // landed-but-not-swept consolidated file's victims are excluded, so no
  // window double-counts)
  private def readMeta(table: LakeTable, name: String): DataFrame = {
    val files = graft.lake.Maintenance.metaFiles(table, name)
    if (files.isEmpty) // preserve the missing-table error shape
      table.spark.read.option("mergeSchema", "true").parquet(s"${table.root}/meta/$name")
    else table.spark.read.option("mergeSchema", "true").parquet(files: _*)
  }

  def lineage(table: LakeTable): DataFrame = readMeta(table, "lineage")

  def metrics(table: LakeTable): DataFrame = readMeta(table, "metrics")
}
