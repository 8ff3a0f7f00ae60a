package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance + incremental-read services over the snapshot log.
  *
  * Compaction — streaming upsert epochs leave `saltBuckets` files per
  * touched bucket per epoch; over many epochs a bucket accumulates small
  * files (the classic streaming-ingest small-file problem). `compact`
  * rewrites each oversized bucket's current winners into one key-sorted
  * file (or several key-DISJOINT files under a byte budget) and
  * commits a new snapshot — data-identical, metadata smaller. This is a
  * pure metadata+layout operation: concurrent readers keep reading their
  * pinned snapshot (reference analogue: stage outputs replaced atomically
  * by rename, src/osm/filter.rs:381-398).
  *
  * Changes-between-versions (incremental CDC read) — the consumer-side
  * mirror of the ingest engine: given two snapshot versions, emit one
  * I/U/D row per key that changed. Bucket-level file pruning applies:
  * buckets whose file lists are identical in both snapshots cannot
  * contain changes and are never read (the reference's freshness check,
  * src/pipeline/mod.rs:29-48, at bucket granularity).
  */
object Maintenance {
  import LakeTable.DeletedCol

  /** Rewrite buckets having more than `maxFilesPerBucket` files; returns
    * the number of compacted buckets (0 → no new snapshot committed).
    *
    * Safe under CONCURRENT writers: the commit rebases on conflict —
    * rewrites of buckets untouched by the interleaved commits land
    * against the new head (with its ledger/high-water state), stale
    * rewrites are dropped and their files deleted, so compaction cannot
    * starve under continuous ingest and never overwrites a racing
    * merge's result.
    *
    * Output layout: a bucket whose rows fit `targetFileBytes` (manifest
    * byte sum) becomes ONE key-sorted file; a bucket beyond the budget
    * splits into KEY-DISJOINT sorted files via range partitioning on
    * (bucket, repo, path). Key-disjoint splits are what make the
    * manifest's per-file (repo, path) ranges PRUNABLE — a point lookup
    * plans exactly the one range file of its bucket. (The merge's salt
    * files spread keys by hash, so their ranges overlap by construction
    * and only row-group stats help there; compaction is where file-level
    * key pruning is established.) The executor-memory story is the same:
    * no single task ever materializes more than ~targetFileBytes of one
    * bucket, so compaction survives buckets far larger than executor
    * memory. */
  def compact(table: LakeTable, maxFilesPerBucket: Int = 4,
              targetFileBytes: Long = 128L * 1024 * 1024,
              /** Test seam: runs between the rewrite and the commit, the
                * window where a concurrent merge can land and force the
                * rebase path below. Production callers leave the default. */
              beforeCommit: () => Unit = () => ()): Int = {
    // fail loudly BEFORE any work: a zero byte budget would divide by zero
    // mid-pass
    require(maxFilesPerBucket >= 1, s"maxFilesPerBucket must be >= 1, got $maxFilesPerBucket")
    require(targetFileBytes > 0L, s"targetFileBytes must be > 0, got $targetFileBytes")
    val snap = table.currentSnapshot().getOrElse(return 0)
    // full-table maintenance pass: enumerating every bucket's file count
    // is O(files) by nature (and batched per manifest group)
    val byBucket = snap.allFiles.groupBy(_.bucket)
    val oversized = byBucket.filter(_._2.size > maxFilesPerBucket).keySet
    if (oversized.isEmpty) return 0

    val newVersion = snap.version + 1
    // unique writer-suffixed dir, same protocol as MergeInto: never
    // overwrite a directory a concurrent committer may already own
    val writeDir = s"v$newVersion-${java.util.UUID.randomUUID().toString.take(8)}"
    // tombstones and winners are already resolved in the stored rows —
    // this is a pure rewrite. sortWithinPartitions keeps the rewritten
    // files key-sorted so the footer (repo, path) min/max stay TIGHT per
    // row group — without it compaction would silently degrade the
    // point-lookup row-group pruning the merge write path establishes (a
    // compacted bucket file with shuffled keys has every row group
    // spanning the whole range)
    val src = table.readFiles(snap.schema, snap.filesIn(oversized))
      .withColumn("b", pmod(xxhash64(col("repo")), lit(snap.numBuckets)).cast("int"))
    // byte-budget split count from manifest stats (unknown sizes count 0 —
    // conservative toward the single-file layout, never toward a skewed
    // over-split); Int.MaxValue cap is a formality (2^31 × 128 MB ≫ any
    // table)
    val nSplits = oversized.toSeq.map { b =>
      val bytes = byBucket(b).map(f => math.max(f.nBytes, 0L)).sum
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    }.sum
    val arranged =
      if (nSplits <= oversized.size)
        // every bucket fits the budget: exactly one file per bucket
        src.repartition(oversized.size, col("b"))
      else
        // range partitioning on (bucket, repo, path): within a bucket the
        // resulting files hold contiguous, DISJOINT key ranges (the write's
        // partitionBy("b") keeps a sampled range straddling two buckets in
        // separate files), sized by the global sort sample ≈ targetFileBytes
        src.repartitionByRange(math.min(nSplits, Int.MaxValue.toLong).toInt,
          col("b"), col("repo"), col("path"))
    val stats = table.writeData(
      arranged.sortWithinPartitions(col("b"), col("repo"), col("path")), writeDir)

    // rows keep their lsns — the rewrite cannot move the high-water mark,
    // and the recorded file stats let later incremental reads skip the
    // compacted files entirely (nothing in them exceeds the old mark)
    val newFiles = table.listDataFilesWithStats(writeDir, stats)
    beforeCommit()
    // Commit with REBASE under concurrent writers: a table ingesting
    // continuously would otherwise starve compaction forever — the
    // rewrite takes minutes, a merge lands version N+1 meanwhile, and a
    // bare commitSnapshot(N+1) loses every race (the merge retries on
    // conflict; maintenance previously just threw). On conflict, re-read
    // the head and keep the rewrite for every bucket whose file set is
    // UNCHANGED since the base snapshot (the interleaved commits touched
    // other buckets — the rewrite's input is still exactly the head's
    // content for that bucket); buckets the interleaved commits DID touch
    // have stale rewrites — drop them (their freshly-written files are
    // deleted NOW, before any snapshot references them: leaving them
    // would leak, since vacuum reclaims whole dirs and file-granular
    // expiry only sees files a snapshot once referenced) and leave those
    // buckets for the next compaction pass. Ledger/high-water/unordered
    // state carry from the HEAD snapshot, not the stale base.
    var base = snap
    var buckets = oversized
    var files = newFiles
    var attempt = 0
    val maxRetries = 8
    while (true) {
      try {
        table.commitSnapshot(base.copy(
          version = base.version + 1,
          filesRef = table.successorFiles(base, buckets, files)), CommitSummary("compact"))
        return buckets.size
      } catch {
        case e: graft.lake.CommitConflictException =>
          if (attempt >= maxRetries) throw e
          attempt += 1
          val head = table.currentSnapshot().getOrElse(throw e)
          // an interleaved REBUCKET changed what bucket ids mean — every
          // rewrite is stale by construction; clean up and report loudly
          // (rebucket is a stop-the-world administrative move anyway)
          val hconf = table.spark.sparkContext.hadoopConfiguration
          def deleteRewrites(fs: Seq[FileEntry]): Unit = fs.foreach { f =>
            val p = new org.apache.hadoop.fs.Path(s"${table.root}/${f.relPath}")
            p.getFileSystem(hconf).delete(p, false): Unit
          }
          if (head.numBuckets != snap.numBuckets) {
            deleteRewrites(files)
            throw new graft.lake.CommitConflictException(
              s"table was rebucketed (${snap.numBuckets} -> ${head.numBuckets}) " +
                "during compaction; re-run compact against the new layout")
          }
          // ONE filesIn per side (each call loads every group manifest it
          // needs from disk — per-bucket calls would reload the same
          // group O(buckets) times per retry)
          val headByBucket = head.filesIn(buckets).groupBy(_.bucket)
          val baseByBucket = snap.filesIn(buckets).groupBy(_.bucket)
          def relPaths(m: Map[Int, Seq[FileEntry]], b: Int): Set[String] =
            m.getOrElse(b, Seq.empty).map(_.relPath).toSet
          val valid = buckets.filter(b =>
            relPaths(headByBucket, b) == relPaths(baseByBucket, b))
          val (keep, stale) = files.partition(f => valid(f.bucket))
          deleteRewrites(stale)
          if (valid.isEmpty) return 0
          base = head
          buckets = valid
          files = keep
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Bucket-count evolution: rewrite the whole table into `newNumBuckets`
    * hash buckets and commit it as one snapshot. The administrative move
    * when a table outgrows its layout (per-bucket rewrite cost is
    * tableSize/B, so B must grow with the table). One full shuffle+write
    * by nature — this IS a table rewrite; everything else is preserved:
    * rows keep their lsns (tombstones included — they are CDC state),
    * the high-water mark, epoch ledger and unordered counter carry over,
    * old snapshots still time-travel, and because every new file's
    * max_lsn is at or below the mark, incremental readers skip the
    * entire commit without data IO (same stats pruning as compaction).
    * Subsequent merges must be built with the new bucket count — the
    * merge validates this against the snapshot. */
  def rebucket(table: LakeTable, newNumBuckets: Int): Long = {
    require(newNumBuckets > 0, s"bad bucket count: $newNumBuckets")
    val snap = table.currentSnapshot().getOrElse(
      throw new IllegalStateException("cannot rebucket an empty table"))
    val newVersion = snap.version + 1
    val writeDir = s"v$newVersion-${java.util.UUID.randomUUID().toString.take(8)}"
    val stats = table.writeData(table.readFiles(snap.schema, snap.allFiles)
      .withColumn("b", pmod(xxhash64(col("repo")), lit(newNumBuckets)).cast("int"))
      .repartition(newNumBuckets, col("b"))
      // key-sorted rewrite: keeps footer (repo, path) min/max tight per
      // row group so point-lookup pruning survives the layout change
      .sortWithinPartitions(col("b"), col("repo"), col("path")), writeDir)
    val newFiles = table.listDataFilesWithStats(writeDir, stats)
    table.commitSnapshot(snap.copy(
      version = newVersion,
      numBuckets = newNumBuckets,
      filesRef = InlineFiles(newFiles)), CommitSummary("rebucket"))
    newVersion
  }

  /** Roll the table back to an earlier committed version by publishing a
    * NEW snapshot whose logical content equals `toVersion`'s — history
    * stays linear and append-only (current = highest version), nothing is
    * deleted, and the rolled-back-from versions remain time-travelable
    * until `expireSnapshots` reclaims them. The restored snapshot:
    *   - carries `toVersion`'s file listing BY REFERENCE (split-manifest
    *     groups are never loaded — a rollback is metadata-only, zero data
    *     IO regardless of table size);
    *   - restores `toVersion`'s epoch ledger, so the undone epochs are
    *     re-appliable (they are genuinely no longer applied) while a
    *     crash-retry of a PRE-rollback epoch stays a no-op — and with it
    *     drops the undone epochs' quarantine files from view: their
    *     poison rows re-quarantine if those epochs are redelivered;
    *   - restores `toVersion`'s high-water mark, and bumps the cumulative
    *     `unorderedCommits` counter past the current head's: rows REVERT
    *     to lsns at or below any spanning range's anchor mark — exactly
    *     the failure mode the counter exists to flag — so incremental
    *     readers (`changesBetween`, the CDC stream) cross the rollback on
    *     the join-classification path and emit the reverted keys
    *     correctly instead of hw-pruning them away.
    * Caveat (inherent to metadata restores, same as Delta RESTORE): the
    * restored rows carry their OLD lsns, so a downstream replica folding
    * the CDC feed by lsn-LWW will keep the undone values. When downstream
    * convergence matters, use [[revert]] — the forward-event form. */
  def rollback(table: LakeTable, toVersion: Long): Long = {
    val cur = table.currentSnapshot().getOrElse(
      throw new IllegalStateException("cannot roll back an empty table"))
    require(toVersion <= cur.version,
      s"cannot roll back to v$toVersion: current is v${cur.version}")
    if (toVersion == cur.version) return cur.version // no-op: already there
    val target = table.snapshotAt(toVersion)
    val newVersion = cur.version + 1
    table.commitSnapshot(target.copy(
      version = newVersion,
      unorderedCommits = math.max(cur.unorderedCommits, target.unorderedCommits) + 1),
      CommitSummary("rollback"))
    newVersion
  }

  /** Compensating FORWARD change events that, merged as one epoch, return
    * the table's VISIBLE state to `toVersion` — the CDC-compatible twin of
    * [[rollback]]. A metadata rollback restores old rows at their OLD
    * lsns, which a downstream lsn-LWW replica cannot apply (it would keep
    * the undone higher-lsn values); the revert instead inverts the
    * retraction-complete feed over (toVersion, current]:
    *   - keys CREATED after `toVersion`      → one `D` event;
    *   - keys UPDATED after it               → `U` with the old values
    *     (the feed's `update_preimage` row);
    *   - keys DELETED after it               → `U` with the old values
    *     (the feed's `delete` row carries the retracted values);
    * all at one lsn just above the current high-water mark. The mistake
    * and its correction both stay in the log, the commit is ORDERED, and
    * the correction flows through `changesBetween`/the CDC stream like any
    * other epoch — every downstream converges with no re-sync. Columns
    * added by schema evolution after `toVersion` revert to null (the
    * pre-evolution rows never had them). Apply via [[revert]] or merge the
    * returned events yourself. */
  def revertEvents(table: LakeTable, toVersion: Long): DataFrame = {
    val cur = table.currentSnapshot().getOrElse(
      throw new IllegalStateException("cannot revert an empty table"))
    require(toVersion <= cur.version,
      s"cannot revert to v$toVersion: current is v${cur.version}")
    // fallback must see TOMBSTONE lsns too (read() hides them): a key
    // deleted at a high lsn would otherwise out-rank its compensating
    // 'U' event and the revert would silently fail to restore it; also
    // null-safe when the visible state is empty
    val revertLsn = cur.highWaterLsn.getOrElse(table.maxLsnOf(cur)) + 1L
    val feed = changesBetween(table, toVersion, cur.version, includePreimages = true)
    val keyCols = Seq("repo", "path")
    // an "update" whose pre- and post-image differ only in lsn needs no
    // compensation (the VALUE never moved — e.g. a previous revert's own
    // value-identical epoch): keep only value-changed updates, so a
    // completed revert re-run produces zero events and no-ops
    val valueStruct = struct(feed.columns
      .filterNot(c => c == "_change_type" || c == "lsn" || keyCols.contains(c))
      .map(col).toIndexedSeq: _*)
    val post = feed.where(col("_change_type") === "update_postimage")
      .select(keyCols.map(col) :+ valueStruct.as("_newv"): _*)
    val realUpdates = feed.where(col("_change_type") === "update_preimage")
      .join(post, keyCols)
      .where(!(valueStruct <=> col("_newv")))
      .drop("_newv")
    feed.where(col("_change_type").isin("insert", "delete"))
      .unionByName(realUpdates)
      .withColumn("op",
        when(col("_change_type") === "insert", lit("D")).otherwise(lit("U")))
      .withColumn("lsn", lit(revertLsn))
      .drop("_change_type")
  }

  /** Merge [[revertEvents]] as one epoch; returns the resulting version
    * (the current one when nothing changed in the range). The epoch id
    * derives from (current version, toVersion), so a platform retry of
    * the same revert is a ledger no-op while a *later* revert (different
    * head) is a fresh epoch. */
  def revert(table: LakeTable, toVersion: Long, saltBuckets: Int = 2): Long = {
    val cur = table.currentSnapshot().getOrElse(
      throw new IllegalStateException("cannot revert an empty table"))
    if (toVersion == cur.version) return cur.version
    val events = revertEvents(table, toVersion)
    if (events.isEmpty) return cur.version // range was data-identical
    val seed = s"revert:v${cur.version}->v$toVersion"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val epoch = graft.functions.Hashing.hashBytes(seed, 0, seed.length, 0x5E7E47L)
    new graft.merge.MergeInto(table, numBuckets = cur.numBuckets,
      saltBuckets = saltBuckets, recordMeta = false).apply(events, epoch).tableVersion
  }

  /** Stream every file entry referenced by the given (lineage, version)
    * pairs into `f`, loading each DISTINCT content-addressed manifest at
    * most once: versions share most of their groups (a commit rewrites
    * O(touched) groups), so reachability over V versions costs O(distinct
    * manifests) loads, not O(V × groups) — the difference between a
    * maintenance pass that scales with CHANGE volume and one that scales
    * with history × table size. `visited` carries the dedup set across
    * calls; a manifest whose name was already visited is skipped entirely
    * (content addressing: same name ⇒ byte-identical entries). */
  private def foreachEntry(pairs: Iterator[(LakeTable, Long)],
                           visited: scala.collection.mutable.Set[String])
                          (f: FileEntry => Unit): Unit =
    pairs.foreach { case (t, v) =>
      t.snapshotAt(v).filesRef match {
        case InlineFiles(es) => es.foreach(f)
        case SplitFiles(carried, updated, _, load) =>
          carried.foreach { case (_, name) =>
            if (visited.add(name)) load(name).foreach(f)
          }
          updated.values.foreach(_.foreach(f))
      }
    }

  /** Remove orphaned data directories, manifest files and quarantine
    * files — left by writers that crashed (or lost a commit race) between
    * writing and committing the snapshot root — plus aged `meta/.append-*`
    * staging directories of crashed meta-file writes. An artifact is an
    * orphan iff NO committed snapshot references it (a quarantine file:
    * ledgers its epoch) AND it is older than `retentionMs`
    * (modification-time cutoff, the Iceberg remove-orphan-files rule):
    * an IN-FLIGHT writer's artifacts are unreferenced by construction
    * until its commit lands, so an age gate — not reachability alone —
    * is what keeps vacuum safe to run alongside live writers. Time
    * travel keeps every referenced version alive regardless of age.
    * Returns the artifacts removed. Pass `retentionMs = 0` only when no
    * writer can be active (e.g. tests, single-writer maintenance
    * windows). */
  def vacuum(table: LakeTable, retentionMs: Long = 24L * 3600 * 1000): Seq[String] = {
    // reachability spans EVERY lineage at the root (main + branches): a
    // file referenced only by an unpublished audit branch is live.
    // Driver state: the referenced DATA-DIR name set (O(commits), tiny)
    // and the manifest-name set — never the full file list.
    val lineages = table.lineageHandles()
    val cutoff = System.currentTimeMillis() - retentionMs
    val referenced = new scala.collection.mutable.HashSet[String]
    val visited = new scala.collection.mutable.HashSet[String]
    val refManifests = new scala.collection.mutable.HashSet[String]
    lineages.foreach { t =>
      t.snapshotVersions().foreach(v => refManifests ++= t.manifestRefsOf(v))
    }
    foreachEntry(
      lineages.iterator.flatMap(t => t.snapshotVersions().map(v => (t, v))),
      visited) { e =>
      referenced += e.relPath.stripPrefix("data/").takeWhile(_ != '/')
    }
    val orphans = table.dataDirNames()
      .filterNot(referenced)
      .filter(d => table.dataDirMtime(d) <= cutoff)
    orphans.foreach(table.deleteDataDir)
    val orphanManifests = table.manifestFileNames()
      .filterNot(refManifests)
      .filter(m => table.manifestMtime(m) <= cutoff)
    orphanManifests.foreach(table.deleteManifest)
    // DML staging (_dml/<queryId>, GraftDeltaBatchWrite): commit/abort
    // clean their own dir, but a driver crash between task commits and
    // batch commit strands it — no snapshot ever references staging, so
    // ordinary reachability would never reclaim it
    // and the same sweep for `meta/.append-*` staging dirs of crashed
    // meta-file writes, and for quarantine files of epochs no retained
    // snapshot ledgers (attempts that never published, epochs a rollback
    // undid). Only the engine's own `e<epoch>.json` names are candidates:
    // an older engine's quarantine appends hold the only copy of their
    // rows and nothing ledgers them.
    def sweep(dir: String)(orphan: String => Boolean): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"${table.root}/$dir")
      val fs = p.getFileSystem(table.spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(st => st.getModificationTime <= cutoff && orphan(st.getPath.getName))
        .map { st => fs.delete(st.getPath, true); s"$dir/${st.getPath.getName}" }
    }
    lazy val ledgered: Set[Long] = lineages.iterator.flatMap(t =>
      t.snapshotVersions().iterator.flatMap(v => t.snapshotAt(v).epochs)).toSet
    orphans ++ orphanManifests ++ sweep("_dml")(_ => true) ++
      sweep("meta/quarantine")(graft.merge.Meta.quarantineEpoch(_).exists(!ledgered(_))) ++
      sweep("meta")(_.startsWith(".append-"))
  }

  /** Expire old snapshot versions and reclaim the storage only they
    * reference — the retention half of the time-travel contract (Iceberg's
    * `expire_snapshots`): without it, every compaction/merge keeps its
    * pre-image files alive forever and the table's footprint grows with
    * HISTORY, not state. A version expires iff it is strictly older than
    * the newest `keepLast` versions AND its snapshot file is older than
    * `olderThanMs`. Reclaimed: data files and manifests referenced by
    * expired versions ONLY (file-granular — a long-lived file shared with
    * a retained version survives). Deletion order is crash-safe: all
    * expired snapshot ROOTS go first, so no readable snapshot ever
    * references a deleted file; a crash mid-sweep leaves unreferenced
    * files that `vacuum` reclaims.
    *
    * Contract changes for consumers: time travel and `changesBetween`
    * anchored at an expired version fail loudly (missing snapshot file);
    * a streaming CDC reader checkpointed below the earliest retained
    * version cannot resume. Size `keepLast`/`olderThanMs` above the
    * slowest consumer's lag, as with any retention knob. TAGGED versions
    * (LakeTable.createTag) never expire — a tag is precisely the promise
    * that this version stays readable; drop the tag to release it.
    * A version's commit summary lives in its snapshot, so it expires
    * with it (as Delta's DESCRIBE HISTORY follows log retention):
    * `history` and `Meta.metrics`/`Meta.lineage` then no longer show it.
    * Quarantine files are referenced through the epoch ledger, which
    * every later commit carries forward, so the rows stay; the file of an
    * epoch only expired versions ledger (one a rollback undid) is left
    * for `vacuum`.
    * Returns the removed artifacts. */
  def expireSnapshots(table: LakeTable, keepLast: Int = 2,
                      olderThanMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val versions = table.snapshotVersions() // ascending
    if (versions.size <= keepLast) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    val protectedVersions = versions.takeRight(keepLast).toSet ++
      table.listTags().map(_._2)
    val expired = versions.filterNot(protectedVersions)
      .filter(v => table.snapshotMtime(v) <= cutoff)
    if (expired.isEmpty) return Seq.empty
    val expiredSet = expired.toSet
    val retained = versions.filterNot(expiredSet)
    // expiry acts on THIS handle's lineage only, but a reclaimed file must
    // be unreferenced by every OTHER lineage too (an audit branch may
    // still hold a version main just expired). Two streaming passes with
    // a SHARED distinct-manifest dedup set: the keep pass loads each live
    // manifest once; the drop pass then skips every manifest the keep
    // pass saw (same name ⇒ identical content ⇒ all its entries are kept
    // anyway) and loads only manifests exclusive to expired versions —
    // driver work tracks the EXPIRED delta, not history × table size.
    // keepFiles (the live relPath set) is the irreducible footprint at
    // file granularity; its measured size is recorded in BASELINE.md.
    val others = table.lineageHandles().filterNot(_.branch == table.branch)
    val keepFiles = new scala.collection.mutable.HashSet[String]
    val visited = new scala.collection.mutable.HashSet[String]
    foreachEntry(
      retained.iterator.map(v => (table, v)) ++
        others.iterator.flatMap(t => t.snapshotVersions().map(v => (t, v))),
      visited)(keepFiles += _.relPath)
    val dropSet = new scala.collection.mutable.LinkedHashSet[String]
    foreachEntry(expired.iterator.map(v => (table, v)), visited) { e =>
      if (!keepFiles(e.relPath)) dropSet += e.relPath
    }
    val dropFiles = dropSet.toSeq
    val keepManifests = retained.flatMap(table.manifestRefsOf).toSet ++
      others.flatMap(t => t.snapshotVersions().flatMap(t.manifestRefsOf))
    val dropManifests = expired.flatMap(table.manifestRefsOf).distinct.filterNot(keepManifests)
    expired.foreach(table.deleteSnapshotFile)
    dropFiles.foreach(table.deleteDataFile)
    dropManifests.foreach(table.deleteManifest)
    expired.map(v => s"_snapshots/v$v") ++ dropFiles ++ dropManifests
  }

  /** Entries of the groups that can differ between two snapshots. For
    * split listings, groups whose content-addressed manifest NAMES match
    * are byte-identical and are skipped WITHOUT loading — change
    * detection rides the content addressing for free. Inline (or
    * mixed/legacy) listings fall back to the full lists. */
  private[graft] def differingEntries(from: Snapshot, to: Snapshot): (Seq[FileEntry], Seq[FileEntry]) =
    (from.filesRef, to.filesRef) match {
      case (SplitFiles(cf, uf, gf, loadF), SplitFiles(ct, ut, gt, loadT))
          if gf == gt && uf.isEmpty && ut.isEmpty =>
        val fm = cf.toMap
        val tm = ct.toMap
        val gids = (fm.keySet ++ tm.keySet).filter(g => fm.get(g) != tm.get(g))
        (gids.toSeq.flatMap(g => fm.get(g).map(loadF).getOrElse(Seq.empty)),
          gids.toSeq.flatMap(g => tm.get(g).map(loadT).getOrElse(Seq.empty)))
      case _ => (from.allFiles, to.allFiles)
    }

  /** Incremental changes between two committed versions as CDC rows:
    * `_change_type` in {insert, update_postimage, delete} per (repo,
    * path). Read pruning, coarse to fine:
    *   1. manifest groups with identical content hashes are skipped
    *      without loading (split snapshots);
    *   2. buckets whose file sets are identical cannot contain changes
    *      and are never read;
    *   3. within changed buckets, files whose manifest `max_lsn` is at or
    *      below `from`'s high-water mark are skipped — every row they
    *      hold predates `from` (ordered-log delivery), so compaction- or
    *      redelivery-only rewrites cost ZERO data IO here (the
    *      reference's row-group stats pruning,
    *      src/places/place_index.rs:217-221, at file granularity);
    *   4. surviving files still push `lsn > highWater` into the parquet
    *      scan, pruning row groups inside mixed files.
    * The old side is read only for buckets with surviving new files, and
    * only to classify insert-vs-update and suppress tombstone-only keys.
    *
    * With `includePreimages=true` the feed is RETRACTION-COMPLETE
    * (Delta-CDF shape): updates emit `update_preimage` (the old row) and
    * `update_postimage` (the new row), and `delete` rows carry the OLD
    * row's values — exactly what an incremental consumer needs to
    * subtract outdated contributions (see [[MaterializedView]]). The old
    * side is then read with full columns (same files, wider projection);
    * all four variants are emitted in ONE pass over the join via an
    * explode, not by re-joining per variant. */
  def changesBetween(table: LakeTable, fromVersion: Long, toVersion: Long,
                     includePreimages: Boolean = false): DataFrame = {
    val from = table.snapshotAt(fromVersion)
    val to = table.snapshotAt(toVersion)
    if (from.numBuckets != to.numBuckets) {
      // bucket-count evolution inside the range: bucket ids are
      // incomparable across the boundary, so diff the full states by key
      // (a rebucket is a full rewrite anyway — rare, administrative)
      // BOTH sides read with the `to` era's schema: its FieldIds aliases
      // resolve pre-rename files, columns added inside the range surface
      // as null from the old side (tolerant rule) — so the feed's column
      // names are uniformly the destination era's
      val oldDf = table.readFiles(to.schema, from.allFiles)
      val newDf = table.readFiles(to.schema, to.allFiles)
      return if (includePreimages) emitWithPreimages(newDf, oldDf, "full_outer")
             else emitPostimagesFullOuter(newDf, oldDf)
    }
    val (fromEntries, toEntries) = differingEntries(from, to)
    val fromByBucket = fromEntries.groupBy(_.bucket)
    val toByBucket = toEntries.groupBy(_.bucket)
    val changedBuckets = (fromByBucket.keySet ++ toByBucket.keySet).filter { b =>
      fromByBucket.getOrElse(b, Nil).map(_.relPath).toSet !=
        toByBucket.getOrElse(b, Nil).map(_.relPath).toSet
    }
    val candidateNew = toEntries.filter(f => changedBuckets(f.bucket))

    from.highWaterLsn match {
      // The hw fast path additionally requires every commit in the range
      // to have respected ordered-log delivery (equal unordered-commit
      // counters at the endpoints) — otherwise a late batch's rows hide
      // BELOW the mark and `lsn > hw` would drop real changes; the
      // full-diff branch below classifies by join instead and stays
      // correct under any delivery order.
      case Some(hw) if candidateNew.forall(_.hasStats) &&
          from.unorderedCommits == to.unorderedCommits =>
        val readNew = candidateNew.filter(_.maxLsn > hw)
        val liveBuckets = readNew.map(_.bucket).toSet
        val newDf = table.readFiles(to.schema, readNew).where(col("lsn") > hw)
        if (includePreimages)
          return emitWithPreimages(newDf,
            table.readFiles(to.schema, from.filesIn(liveBuckets)), "left")
        val o = table.readFiles(to.schema, from.filesIn(liveBuckets))
          .select(col("repo"), col("path"), col("lsn").as("_old_lsn"),
            col(DeletedCol).as("_old_del"))
        val joined = newDf.as("n").join(o.as("o"),
          col("n.repo") === col("o.repo") && col("n.path") === col("o.path"), "left")
        val changeType =
          when(col("_old_lsn").isNull || col("_old_del"),
            when(col(s"n.$DeletedCol"), lit(null)).otherwise(lit("insert")))
            .otherwise(when(col(s"n.$DeletedCol"), lit("delete"))
              .otherwise(lit("update_postimage")))
        joined
          .withColumn("_change_type", changeType)
          .where(col("_change_type").isNotNull)
          .select(col("_change_type") +:
            newDf.columns.filterNot(_ == DeletedCol).map(c => col(s"n.$c")).toIndexedSeq: _*)

      case _ => // legacy/stat-less/unordered path: full per-bucket diff
        // old side under the `to` schema — same era-uniformity rule as
        // the rebucket branch above
        val oldDf = table.readFiles(to.schema, from.filesIn(changedBuckets))
        val newDf = table.readFiles(to.schema, to.filesIn(changedBuckets))
        if (includePreimages) emitWithPreimages(newDf, oldDf, "full_outer")
        else emitPostimagesFullOuter(newDf, oldDf)
    }
  }

  /** Post-image-only classification over a full-outer key join; sound
    * under any delivery order (carried rows fail the lsn inequality).
    * Shuffle is bounded by whatever file sets the caller read.
    *
    * A key PHYSICALLY ABSENT from the new snapshot (no row, not even a
    * tombstone — a rollback to a version predating the key's insert does
    * this; forward merges always leave tombstones) is a delete: the row
    * carries the key from the old side and null payload. */
  private def emitPostimagesFullOuter(newDf: DataFrame, oldDf: DataFrame): DataFrame = {
    val o = oldDf.select(col("repo"), col("path"), col("lsn").as("_old_lsn"),
      col(DeletedCol).as("_old_del"))
    val joined = newDf.as("n").join(o.as("o"),
      col("n.repo") === col("o.repo") && col("n.path") === col("o.path"), "full_outer")
    // the insert branch requires a PRESENT new side: a key existing only
    // as an old tombstone (absent from `to`) must not surface as a
    // spurious all-null "insert" (latent with writers that drop keys,
    // even though current writers always rewrite buckets whole)
    val changeType =
      when(col("n.repo").isNull, // physically dropped key
        when(col("_old_del"), lit(null)).otherwise(lit("delete")))
        .when(col("_old_lsn").isNull || col("_old_del"),
          when(col(s"n.$DeletedCol"), lit(null)).otherwise(lit("insert")))
        .otherwise(
          when(col(s"n.$DeletedCol"), lit("delete"))
            .when(col("n.lsn") =!= col("_old_lsn"), lit("update_postimage"))
            .otherwise(lit(null)))
    val outCols = newDf.columns.filterNot(_ == DeletedCol).map {
      case "repo" => coalesce(col("n.repo"), col("o.repo")).as("repo")
      case "path" => coalesce(col("n.path"), col("o.path")).as("path")
      case "lsn" => coalesce(col("n.lsn"), col("_old_lsn")).as("lsn")
      case c => col(s"n.$c")
    }
    joined
      .withColumn("_change_type", changeType)
      .where(col("_change_type").isNotNull)
      .select(col("_change_type") +: outCols.toIndexedSeq: _*)
  }

  /** Retraction-complete CDC emission: one pass over the key join, each
    * row exploding into its applicable variants —
    *   insert            → new row;
    *   update_preimage   → OLD row;   update_postimage → new row;
    *   delete            → OLD row (the value being retracted).
    * Old rows from before a schema evolution surface the added columns
    * as null (the tolerant-reader rule), cast to the current types. */
  private def emitWithPreimages(newDf: DataFrame, oldDf: DataFrame,
                                joinType: String): DataFrame = {
    val outCols = newDf.columns.filterNot(_ == DeletedCol).toSeq
    val oldHas = oldDf.columns.toSet
    val joined = newDf.as("n").join(oldDf.as("o"),
      col("n.repo") === col("o.repo") && col("n.path") === col("o.path"), joinType)
    val oldLive = col("o.lsn").isNotNull && !col(s"o.$DeletedCol")
    val newLive = col("n.repo").isNotNull && !col(s"n.$DeletedCol")
    val newDel = col("n.repo").isNotNull && col(s"n.$DeletedCol")
    val isInsert = !oldLive && newLive
    // lsn inequality matters only on the stat-less full-diff path, where
    // unchanged keys reach the join; on the stats path new rows postdate
    // the old high-water mark by construction
    val isUpdate = oldLive && newLive && col("n.lsn") =!= col("o.lsn")
    // a key physically ABSENT from the new snapshot (rollback past its
    // insert — forward merges always leave tombstones) is also a delete
    val isDelete = oldLive && (newDel || col("n.repo").isNull)
    def variant(prefix: String, tpe: String,
                cond: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val fields = lit(tpe).as("_change_type") +: outCols.map { c =>
        val t = newDf.schema(c).dataType
        if (prefix == "o" && !oldHas(c)) lit(null).cast(t).as(c)
        else col(s"$prefix.$c").cast(t).as(c)
      }
      when(cond, struct(fields: _*))
    }
    val variants = array(
      variant("n", "insert", isInsert),
      variant("o", "update_preimage", isUpdate),
      variant("n", "update_postimage", isUpdate),
      variant("o", "delete", isDelete))
    joined
      .select(explode(filter(variants, v => v.isNotNull)).as("_c"))
      .select("_c.*")
  }
}
