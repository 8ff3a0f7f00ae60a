package graft.ingest

import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Batch replay: consume a change log laid out as numbered micro-batch
  * directories (`batch-00000`, `batch-00001`, …) and MERGE each into the
  * lake table, one epoch per directory, in order.
  *
  * The epoch id is the batch number, so a partially-replayed log resumes
  * exactly where it stopped: committed epochs are skipped by the merge's
  * ledger (reference analogue: per-stage output-exists resume,
  * src/pipeline/mod.rs:29-48).
  */
object BatchReplay {
  def listBatches(spark: SparkSession, logDir: String): Seq[(Long, String)] = {
    val p = new org.apache.hadoop.fs.Path(logDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("batch-"))
      .flatMap { pp =>
        // tolerate stray non-numeric entries (batch-00003.bak, batch-tmp):
        // a snapshot copy must not abort the whole replay
        pp.getName.stripPrefix("batch-").toLongOption.map(_ -> pp.toString)
      }
      .sortBy(_._1).toSeq
  }

  def replay(spark: SparkSession, logDir: String, table: LakeTable,
             numBuckets: Int = 16, saltBuckets: Int = 4,
             recordMeta: Boolean = true,
             schema: Option[StructType] = None,
             shaColumn: Boolean = false,
             format: String = "parquet"): Seq[MergeStats] = {
    val merge = new MergeInto(table, numBuckets, saltBuckets, recordMeta)
    val jsonSchema = graft.schema.SchemaRegistry.eventSchemaV1
    listBatches(spark, logDir).map { case (epoch, dir) =>
      val reader = spark.read.format(format)
      // JSON (the raw WAL-tail shape) needs the explicit event schema —
      // inference would both cost a pass and type ts as string
      var df = schema.orElse(if (format == "json") Some(jsonSchema) else None)
        .map(reader.schema).getOrElse(reader).load(dir)
      // materialize the per-row invariant (BASELINE.json input_hint:
      // sha256(content) equality) as a state column at ingest time, so
      // state verification is a column compare instead of a rehash
      if (shaColumn) df = df.withColumn("content_sha256",
        org.apache.spark.sql.functions.sha2(org.apache.spark.sql.functions.col("content"), 256))
      merge.apply(df, epoch)
    }
  }

  /** One-shot replay of a whole log as a single epoch — the fastest path
    * when no incremental checkpointing is needed (initial backfill).
    * `epochId` defaults to 0: replaying onto a table whose ledger already
    * holds that epoch is a deliberate no-op skip (the resume contract) —
    * pass a fresh id to force application onto a pre-loaded table. */
  def replayAll(spark: SparkSession, logDir: String, table: LakeTable,
                numBuckets: Int = 16, saltBuckets: Int = 4,
                recordMeta: Boolean = false,
                format: String = "parquet",
                epochId: Long = 0L): MergeStats = {
    val merge = new MergeInto(table, numBuckets, saltBuckets, recordMeta)
    // the same tolerant listing replay() uses — a raw batch-* glob would
    // ingest exactly the stray entries (batch-00003.bak, batch-tmp)
    // listBatches exists to skip, double-reading copies or aborting on
    // a half-written spool dir
    val dirs = listBatches(spark, logDir).map(_._2)
    require(dirs.nonEmpty, s"no batch-N dirs under $logDir")
    val reader = spark.read.format(format)
    val df = (if (format == "json")
      reader.schema(graft.schema.SchemaRegistry.eventSchemaV1) else reader)
      .load(dirs: _*)
    merge.apply(df, epochId)
  }
}

/** Structured Streaming replay: a file-source stream over the change log,
  * watermark-bounded lsn dedup, and a foreachBatch sink that MERGEs each
  * micro-batch under its checkpointed batch id.
  *
  * Exactly-once story (matches the north rule):
  *   - the file source + checkpoint give replayable offsets;
  *   - `dropDuplicatesWithinWatermark("lsn")` collapses redelivered events
  *     whose duplicates arrive within the watermark, with bounded state;
  *   - the MERGE's epoch ledger makes re-running an uncommitted batch after
  *     a crash idempotent (the dangerous window between sink write and
  *     checkpoint advance);
  *   - lsn-argmax + tombstones make even beyond-watermark duplicates
  *     harmless (they lose the argmax).
  *
  * Late-data contract (the honest one): the watermark bounds BOTH the
  * dedup state AND the lateness the stream tolerates — Spark's stateful
  * dedup operator drops input rows older than (max event-time seen −
  * watermark) before they ever reach the merge. That is the standard
  * bounded-state trade; set the watermark at or above the log's maximum
  * event-time disorder (the generator's fixtures are ±4 min against the
  * 10-minute default, so no correct event is ever late). Beyond-watermark
  * drops are NOT silent: Spark's own per-batch
  * `numRowsDroppedByWatermark` counter is recorded in
  * `meta/stream_metrics.late_beyond_watermark` (the observability
  * surface the reference keeps as atomic counters,
  * src/atp/mod.rs:67-72). It is the one per-batch record that cannot
  * ride in the batch's own snapshot: the counter arrives with the
  * progress event, after the batch has committed, so it is appended as
  * one small parquet file per batch (when `recordMeta`), and a crash
  * between the commit and that append loses the batch's row. Recovery is one idempotent
  * `BatchReplay.replay` of the affected log segment — batch replay has
  * no watermark, applies everything, and the lsn-argmax makes
  * re-application of already-merged events a no-op (spec:
  * ReplaySpec "beyond-watermark straggler").
  */
object StreamingReplay {

  /** Parse "10 minutes"/"30 seconds"/"1 hour" to millis (watermark knob,
    * also consumed by Sessionize and WindowedMetrics). Any other shape —
    * "10m", "600", "10minutes" — gets the same clear error instead of a
    * bare MatchError. */
  def durationMs(s: String): Long = {
    def bad() = throw new IllegalArgumentException(
      s"bad duration: '$s' (expected '<n> <milliseconds|seconds|minutes|hours>')")
    s.trim.split("\\s+") match {
      case Array(n, unit) =>
        val v = try n.toLong catch { case _: NumberFormatException => bad() }
        unit.toLowerCase.stripSuffix("s") match {
          case "millisecond" => v
          case "second" => v * 1000L
          case "minute" => v * 60000L
          case "hour" => v * 3600000L
          case _ => bad()
        }
      case _ => bad()
    }
  }

  def run(spark: SparkSession, logDir: String, table: LakeTable,
          schema: StructType,
          checkpoint: String,
          numBuckets: Int = 16, saltBuckets: Int = 4,
          recordMeta: Boolean = true,
          maxFilesPerTrigger: Int = 8,
          watermark: String = "10 minutes",
          /** Materialized views refreshed after every committed epoch, so
            * they trail the table by at most one micro-batch. Each refresh
            * folds only that epoch's pre-image diff (O(changes + view)) —
            * see [[graft.lake.MaterializedView]]. */
          views: Seq[graft.lake.ViewDef] = Seq.empty,
          /** Log encoding: "parquet" (default) or "json" — the raw WAL-tail
            * shape, where the stream also absorbs malformed lines (they
            * parse to null keys and land in the quarantine, never aborting
            * the stream — the fuzz invariant FuzzReplaySpec drives). */
          format: String = "parquet"): Unit = {
    val merge = new MergeInto(table, numBuckets, saltBuckets, recordMeta)
    val wmMs = durationMs(watermark)
    // Epoch ids are NAMESPACED per stream generation: a NEW stream (fresh
    // checkpoint) against an existing table restarts batchId at 0, which
    // would collide with the ledger entries of the previous generation and
    // silently skip real data. The checkpoint path IS the generation
    // identity — stable across crash-retries of the same run (idempotence
    // preserved), distinct across generations. The id is a full 64-bit
    // hash of the path bytes (String.hashCode's 32 bits would make
    // two-generation collisions plausible at scale, silently re-enabling
    // the ledger-skip bug this namespacing exists to prevent).
    val cpBytes = checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val epochBase = graft.functions.Hashing.hashBytes(cpBytes, 0, cpBytes.length, 0L)
    // per-batch stats captured in foreachBatch (events_in, min/max ts);
    // joined with Spark's OWN numRowsDroppedByWatermark from the progress
    // event (which fires after the batch commits) by the listener below
    val batchStats = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long)]()
    val written = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    // rows whose append has LANDED (vs `written` = claimed): the drain
    // below must wait on landed — a claim made by the async listener with
    // the parquet append still in flight would otherwise satisfy it, and
    // run() would return before the row is readable (observed flake)
    val landed = java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
    val runId = new java.util.concurrent.atomic.AtomicReference[String]("")
    def writeMetricsRow(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
      val bid = p.batchId
      val st = batchStats.get(bid)
      if (recordMeta && st != null && written.add(bid)) {
        val dropped = Option(p.stateOperators)
          .map(_.map(_.numRowsDroppedByWatermark).sum).getOrElse(0L)
        val sparkL = table.spark
        import sparkL.implicits._
        val smDf = Seq((bid, epochBase, st._1, dropped, st._2, st._3))
          .toDF("batch_id", "generation", "events_in", "late_beyond_watermark",
            "min_ts_sec", "max_ts_sec")
          .coalesce(1)
        table.writeMetaFile(smDf, "parquet", "stream_metrics",
          s"a-${java.util.UUID.randomUUID().toString.take(12)}.parquet")
        landed.add(bid): Unit
      }
    }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId.toString == runId.get()) writeMetricsRow(e.progress)
    }
    spark.streams.addListener(listener)
    val reader = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // backpressure — the
      // reference's bounded-channel capacity (src/atp/mod.rs:36) as a rate cap
    // The stream watches a PATTERN (new batch dirs must keep arriving),
    // so it cannot use listBatches' point-in-time tolerant listing.
    // Operator contract: the log dir is the stream's spool — only live
    // batch-N dirs may be placed under it (park snapshot copies and
    // half-written dirs elsewhere and rename in), because a file stream
    // reads whatever matches, including batch-00003.bak.
    val glob = s"$logDir/batch-*"
    val base = format match {
      case "json" => reader.json(glob)
      case _ => reader.parquet(glob)
    }
    // Quarantine-bound rows (null ts/lsn — malformed WAL lines parse to
    // null keys) BYPASS the watermark + dedup: a null event time must
    // never reach a stateful operator (undefined expiry), and a null lsn
    // would make every poison row a "duplicate" of the last. They still
    // flow to the merge, whose badCond counts and quarantines them — a
    // poison line can therefore never abort the stream (the reference
    // fuzzes its line parser for the same invariant,
    // fuzz/fuzz_targets/fuzz_import_atp.rs).
    import org.apache.spark.sql.functions.col
    val statefulOk = col("ts").isNotNull && col("lsn").isNotNull
    val deduped = base.where(statefulOk)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("lsn")
    // NOTE: the two branches are two scans of the same files per trigger
    // (json parses twice). The split must live in the PLAN — a null event
    // time must never reach the stateful operator — and mirrors the
    // merge's own re-read-over-cache choice (its touched-bucket scan
    // re-parses the source); the poison branch is empty on healthy logs.
    val stream = deduped.unionByName(base.where(!statefulOk))
    // The listener filters on runId, which is only known AFTER start():
    // a batch completing in that window is dropped by the listener and
    // recovered solely from q.recentProgress in the finally-drain. The
    // default retention (~100 progress updates) could age such a batch
    // out on a long AvailableNow run — retain enough for any real spool.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions._
        val obs = org.apache.spark.sql.Observation(s"stream-obs-$batchId")
        val observed = df.observe(obs,
          max(col("ts").cast("timestamp_ltz").cast("long")).as("max_ts_sec"),
          min(col("ts").cast("timestamp_ltz").cast("long")).as("min_ts_sec"))
        val stats = merge.apply(observed, epochBase + batchId)
        // A ledger-skipped batch (crash-retry of an already-committed
        // epoch) must still EVALUATE the batch dataframe: the watermark /
        // dedup state stores live inside this plan, and Spark validates
        // that every state partition commits each micro-batch — an
        // unevaluated batch would abort the stream.
        if (stats.skipped) observed.write.format("noop").mode("overwrite").save()
        if (!stats.skipped) {
          views.foreach(v => graft.lake.MaterializedView.refresh(table, v): Unit)
          val m = obs.get
          batchStats.put(batchId, (stats.eventsIn,
            m.get("min_ts_sec").collect { case l: Long => l }.getOrElse(-1L),
            m.get("max_ts_sec").collect { case l: Long => l }.getOrElse(-1L))): Unit
        }
      }
      .start()
    runId.set(q.runId.toString)
    try q.awaitTermination()
    finally {
      // The per-batch watermark-drop counter lives in the PROGRESS event,
      // which fires after foreachBatch — drain whatever the async listener
      // has not yet written from the query's own progress history, then
      // detach. (Rows are written once: `written` is the dedup set.)
      // The FINAL batch's progress can still be in flight on the async
      // listener bus when awaitTermination returns (observed under suite
      // load: the metrics row landed milliseconds after the caller read
      // the table) — so wait until every batch that ran foreachBatch has
      // its row, re-draining recentProgress, before declaring run() done.
      if (recordMeta) {
        import scala.jdk.CollectionConverters._
        def pending = batchStats.keySet.asScala.exists(b => !landed.contains(b))
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        q.recentProgress.foreach(p => writeMetricsRow(p))
        while (pending && System.nanoTime() < deadline) {
          Thread.sleep(50)
          q.recentProgress.foreach(p => writeMetricsRow(p))
        }
      }
      spark.streams.removeListener(listener)
    }
  }
}
