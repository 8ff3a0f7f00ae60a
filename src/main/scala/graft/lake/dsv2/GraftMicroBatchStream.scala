package graft.lake.dsv2

import graft.lake.{LakeTable, Maintenance}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Stream offset = committed lake-table version (−1 = before the first
  * commit; versions are 0-based). Versions are monotone and the snapshot files they name are
  * immutable, so any (start, end] range replays deterministically from
  * the checkpoint — Spark's offset log plus this immutability is the
  * exactly-once read story (the write side's epoch ledger is its mirror). */
final case class GraftOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** Incremental (CDC) read of the lake table as a Structured Streaming
  * source:
  * {{{
  *   spark.readStream.format("graft")
  *     .option("includeTombstones", "true")   // surface deletes
  *     .option("maxVersionsPerTrigger", "1")  // admission control
  *     .load(root)
  * }}}
  *
  * Each micro-batch covers a version range (start, end] and emits the
  * rows CHANGED in that range — the binlog/WAL-tail view of the table
  * (per-key upserts at their lsn; deletes as `_deleted` tombstones when
  * `includeTombstones` is set, hidden otherwise). The first batch is a
  * full backfill of the table as of the first trigger (offset 0), or
  * starts at `startingVersion` when given.
  *
  * Change extraction is manifest-driven and reads no stale data:
  *   - manifest groups with identical content hashes are skipped without
  *     loading (split snapshots — Maintenance.differingEntries);
  *   - only files ADDED in the range are candidates (files are
  *     immutable; rewritten buckets add new files);
  *   - added files whose manifest `max_lsn` is at or below `start`'s
  *     high-water mark hold only carried rows (compaction/redelivery)
  *     and are skipped without IO;
  *   - surviving files push `lsn > highWater` into parquet row-group
  *     skipping AND filter residually per row, so copy-on-write carried
  *     rows inside mixed files never reach the sink.
  * IO per batch therefore tracks CHANGE volume, not table size.
  *
  * `maxVersionsPerTrigger` bounds how many commits one micro-batch may
  * cover (the reference's bounded-channel backpressure,
  * src/atp/mod.rs:36, as source admission control);
  * `maxBytesPerTrigger` bounds the batch by the manifest-recorded SIZE
  * of the files added in the range — the knob that actually protects
  * executor memory when commit sizes vary by orders of magnitude (a
  * version count can't). Both caps always admit at least one version so
  * the stream progresses; they compose (the tighter one wins).
  * Retention caveat: resuming from a checkpoint needs `start`'s
  * snapshot file — vacuum retention must cover the maximum expected
  * stream downtime.
  */
final class GraftMicroBatchStream(
    root: String,
    physicalSchema: StructType,
    required: StructType,
    includeTombstones: Boolean,
    startingVersion: Option[Long],
    maxVersionsPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long] = None,
    maxSplitBytes: Long = GraftSplit.DefaultMaxSplitBytes,
    branch: String = graft.lake.LakeTable.MainBranch)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // a non-positive cap would stall the stream forever (latestOffset could
  // never advance) — refuse loudly at construction instead
  require(maxVersionsPerTrigger.forall(_ > 0),
    s"maxVersionsPerTrigger must be positive, got $maxVersionsPerTrigger")
  require(maxBytesPerTrigger.forall(_ > 0L),
    s"maxBytesPerTrigger must be positive, got $maxBytesPerTrigger")
  // 0 would divide-by-zero at split planning; a negative value would make
  // every over-cap file silently vanish from the scan — refuse like the
  // sibling admission options
  require(maxSplitBytes > 0L, s"maxSplitBytes must be positive, got $maxSplitBytes")

  private def table = new LakeTable(SparkSession.active, root).forBranch(branch)
  private def currentVersion: Long = table.snapshotVersions().lastOption.getOrElse(-1L)

  /** Trigger.AvailableNow pins the target at stream start so the run
    * terminates even while writers keep committing. */
  @volatile private var availableNowTarget: Option[Long] = None

  override def initialOffset(): Offset =
    GraftOffset(startingVersion.map(_ - 1L).getOrElse(-1L))
  override def deserializeOffset(json: String): Offset = GraftOffset(json.toLong)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(currentVersion)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(currentVersion)
    val s = start.asInstanceOf[GraftOffset].version
    val versionCapped = maxVersionsPerTrigger match {
      case Some(n) => math.min(target, s + n)
      case None => target
    }
    val end = maxBytesPerTrigger match {
      case Some(maxB) if versionCapped > s =>
        // walk forward, accumulating each commit's ADDED-file bytes from
        // the manifests (no data IO); always admit the first version
        val t = table
        var v = s
        var bytes = 0L
        var prev = if (s < 0L) None else Some(t.snapshotAt(s))
        while (v < versionCapped && bytes < maxB) {
          val next = t.snapshotAt(v + 1L)
          val added = prev match {
            case None => next.allFiles
            case Some(p) =>
              val (pe, ne) = Maintenance.differingEntries(p, next)
              val pPaths = pe.map(_.relPath).toSet
              ne.filterNot(f => pPaths(f.relPath))
          }
          // unknown sizes (legacy entries) count as the full budget so a
          // stats-less commit is never silently batched with others;
          // saturating adds — an overflow would wrap negative and
          // silently re-open the budget
          val chunk = added.foldLeft(0L) { (a, f) =>
            val b = if (f.nBytes >= 0L) f.nBytes else maxB
            if (a > Long.MaxValue - b) Long.MaxValue else a + b
          }
          bytes = if (bytes > Long.MaxValue - chunk) Long.MaxValue else bytes + chunk
          prev = Some(next)
          v += 1L
        }
        v
      case _ => versionCapped
    }
    GraftOffset(math.max(end, s))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(start, limit)")
  override def reportLatestOffset(): Offset = GraftOffset(currentVersion)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fromV = start.asInstanceOf[GraftOffset].version
    val toV = end.asInstanceOf[GraftOffset].version
    if (toV <= fromV) return Array.empty
    val t = table
    val to = t.snapshotAt(toV)
    requireNoRename(to)
    val (entries, bound) = GraftChanges.entriesAfter(t, fromV, to)
    GraftSplit.partitions(root, entries, bound, maxSplitBytes)
  }

  /** The readers resolve each column by the names `physicalSchema` knew
    * when the stream started (its name and former names). A RENAME
    * committed since then stores the column under a name they do not
    * know, so every later row would read it as null: fail the batch
    * instead. A batch ending before a rename the pinned schema already
    * knows reads fine, since its files use one of the pinned names. A
    * restarted stream pins the new schema, whose aliases cover every
    * earlier era. */
  private def requireNoRename(to: graft.lake.Snapshot): Unit = {
    import graft.schema.FieldIds
    def names(f: org.apache.spark.sql.types.StructField) = (f.name +: FieldIds.aliases(f)).toSet
    val pinned = physicalSchema.fields.flatMap(f => FieldIds.id(f).map(_ -> f)).toMap
    for (f <- to.schema.fields; p <- FieldIds.id(f).flatMap(pinned.get)
         if !names(f).subsetOf(names(p)))
      throw new IllegalStateException(
        s"column ${p.name} was renamed to ${f.name} (version ${to.version}) while this " +
          "stream was running; restart the stream to read it under its current name")
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(physicalSchema, required, includeTombstones)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Change-extraction planning shared by the streaming source and the batch
  * `changesFrom` scan: the files that can hold rows changed in
  * (fromVersion, to.version], plus the exclusive row-level lsn bound. */
object GraftChanges {
  def entriesAfter(table: LakeTable, fromVersion: Long,
                   to: graft.lake.Snapshot): (Seq[graft.lake.FileEntry], Long) = {
    if (fromVersion < 0L) return (to.allFiles, Long.MinValue) // full backfill
    val from = table.snapshotAt(fromVersion)
    val (fromEntries, toEntries) = Maintenance.differingEntries(from, to)
    val fromPaths = fromEntries.map(_.relPath).toSet
    val added = toEntries.filterNot(f => fromPaths(f.relPath))
    from.highWaterLsn match {
      // hw pruning is sound only across ORDERED commits (endpoint
      // unordered-counters equal — see Snapshot.unorderedCommits);
      // otherwise fall back to all added files with no row bound:
      // the feed then re-emits a changed bucket's carried rows
      // (at-least-once change delivery — harmless to LWW folds,
      // which the CDC contract already requires of consumers)
      case Some(hw) if from.unorderedCommits == to.unorderedCommits =>
        (added.filter(f => !f.hasStats || f.maxLsn > hw), hw)
      case _ => (added, Long.MinValue) // legacy/unordered: no row bound
    }
  }
}
