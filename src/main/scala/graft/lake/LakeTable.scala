package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import java.nio.charset.StandardCharsets

/** A snapshot of the lake table: an immutable manifest of data files plus
  * the committed-epoch ledger and the schema version.
  *
  * Commit protocol: a snapshot file `_snapshots/v{N}` is written to a tmp
  * path and atomically renamed into place; the CURRENT snapshot is simply
  * the highest N present. Rename-if-absent makes the commit atomic and
  * makes concurrent-writer conflicts detectable (the second rename fails).
  * This is the reference pipeline's exists-check + tmp-file + atomic-rename
  * checkpoint protocol (reference: src/osm/filter.rs:381-398 "renaming is an
  * atomic operation"; src/atp/mod.rs:84; src/pipeline/edits.rs:192) promoted
  * to a versioned table format.
  *
  * Exactly-once: `epochs` is the set of already-applied ingest epoch ids;
  * re-delivering a committed epoch is a no-op (idempotent sink). The
  * reference's per-stage "output exists → skip" check is the same idea at
  * stage granularity (src/pipeline/mod.rs:29-48).
  */
final case class FileEntry(
    bucket: Int,
    relPath: String,
    /** Per-file lsn range + row count, gathered by the write tasks (the
      * reference's row-group min/max statistics,
      * src/places/place_index.rs:426-444, recorded in the manifest so
      * readers prune without opening files). `nKeys = -1` marks a legacy
      * entry without stats; the lsn sentinels are then conservative
      * (never prunable). */
    minLsn: Long = Long.MinValue,
    maxLsn: Long = Long.MaxValue,
    nKeys: Long = -1L,
    /** File length in bytes (from the commit-time listing — free); lets
      * reads plan and split files without an FS stat per file. -1 =
      * unknown (legacy entry). */
    nBytes: Long = -1L,
    /** Rows with `_deleted = false` — the file's contribution to the
      * VISIBLE row count, which is what lets `SELECT count(*)` answer
      * from the manifest with zero data IO. Counted by the write tasks; a
      * NULL flag is not live. -1 = unknown (legacy entry); readers must
      * then fall back. */
    nLive: Long = -1L,
    /** Per-file KEY ranges (min/max of the `repo` and `path` columns,
      * gathered by the write tasks). Lets a point lookup (`repo = x [AND
      * path = y]`) prune at FILE granularity on the driver, before any
      * task launches. The ranges BITE on
      * compaction's byte-budget splits, which are range-partitioned on
      * (bucket, repo, path) and therefore KEY-DISJOINT — a lookup plans
      * exactly the one range file of its bucket; the files of a bucket
      * the merge split spread keys by path hash, so their ranges overlap
      * and survive the filter (row-group stats bound IO inside them
      * instead). Order is
      * UNSIGNED UTF-8 BYTE order (parquet's binary stats order — NOT
      * String.compareTo). null = unknown (legacy entry / a bound past
      * FileStatsTracker.MaxKeyStatBytes) — never prunable. */
    minRepo: String = null,
    maxRepo: String = null,
    minPath: String = null,
    maxPath: String = null,
    /** Base64 bloom over the file's DISTINCT paths (see [[PathBloom]]),
      * built by the write tasks.
      * Closes the pruning gap the ranges cannot: a compacted multi-repo
      * file spans nearly the whole path domain, so a `path = x` lookup
      * WITHOUT a repo never prunes on [minPath, maxPath] alone. null =
      * absent (legacy entry / over the size cap) — never prunable. */
    pathBloom: String = null
) {
  def hasStats: Boolean = nKeys >= 0L
  def hasKeyStats: Boolean =
    minRepo != null && maxRepo != null && minPath != null && maxPath != null

  /** Decoded once per entry; pruning probes all candidate files per
    * lookup, the base64 decode must not repeat per probe. */
  @transient private lazy val bloomBytes: Array[Byte] =
    if (pathBloom == null) null else PathBloom.decode(pathBloom)

  /** Could this file contain the given key values? (unsigned UTF-8 byte
    * order; conservative true when key stats are absent). An EMPTY file
    * (nKeys == 0) carries no key stats and stays unprunable — harmless. */
  def mayContain(repoEq: String, pathEq: String): Boolean = {
    import LakeTable.utf8Le
    (repoEq == null || !hasKeyStats ||
      (utf8Le(minRepo, repoEq) && utf8Le(repoEq, maxRepo))) &&
    (pathEq == null || !hasKeyStats ||
      (utf8Le(minPath, pathEq) && utf8Le(pathEq, maxPath))) &&
    (pathEq == null || bloomBytes == null ||
      PathBloom.mayContain(bloomBytes, pathEq))
  }
}

/** How a snapshot's file list is stored and resolved.
  *
  * `Inline` keeps every entry in the snapshot root (small tables).
  * `Split` holds per-bucket-group CONTENT-ADDRESSED manifest references;
  * group entries load LAZILY through `load`, so an operation touching k
  * buckets materializes only ⌈k / groups-per-bucket⌉ group manifests on
  * the driver — driver memory tracks the TOUCHED set, not table size.
  * `updated` carries in-memory replacements for groups modified by a
  * pending commit; `carried` groups pass through by reference and are
  * never read. */
sealed trait FilesRef
final case class InlineFiles(entries: Seq[FileEntry]) extends FilesRef
final case class SplitFiles(
    carried: Seq[(Int, String)],
    updated: Map[Int, Seq[FileEntry]],
    groupCount: Int,
    load: String => Seq[FileEntry]
) extends FilesRef

final case class Snapshot(
    version: Long,
    schemaVersion: Int,
    schema: StructType,
    numBuckets: Int,
    epochs: Set[Long],
    filesRef: FilesRef,
    /** Upper bound on every applied event's lsn: rows with
      * `lsn <= highWaterLsn` are byte-identical to their state in this
      * snapshot in every LATER snapshot (ordered-log delivery — the
      * north rule's ordered change events — means any later change to a
      * row carries a larger lsn). None when any committed file lacks
      * stats; consumers must then fall back to unpruned reads. */
    highWaterLsn: Option[Long] = None,
    /** Cumulative count of commits whose batch contained an lsn AT OR
      * BELOW the previous snapshot's high-water mark — i.e. commits that
      * VIOLATED ordered-log delivery (a streaming source that splits one
      * log batch across micro-batch boundaries does this legitimately).
      * A version range (v0, v1] is "hw-safe" iff the counter is EQUAL at
      * both endpoints: only then may incremental readers use
      * `lsn > highWaterLsn(v0)` to separate changed rows from carried
      * ones; otherwise they must fall back to join-classification
      * against the old state (see Maintenance.changesBetween). */
    unorderedCommits: Long = 0L,
    /** What the commit that published this version did. None on
      * snapshots written before commits recorded it. */
    summary: Option[CommitSummary] = None
) {
  /** Entries for the given buckets; split listings load only the groups
    * that can contain them. */
  def filesIn(buckets: Set[Int]): Seq[FileEntry] = filesRef match {
    case InlineFiles(es) => es.filter(f => buckets(f.bucket))
    case SplitFiles(carried, updated, g, load) =>
      val groups = buckets.map(b => b % g)
      val fromCarried = carried.collect { case (gid, name) if groups(gid) => load(name) }.flatten
      val fromUpdated = updated.collect { case (gid, es) if groups(gid) => es }.flatten
      (fromCarried ++ fromUpdated).filter(f => buckets(f.bucket))
  }

  /** The complete file list — a full-table operation (read of the whole
    * table, compaction, vacuum reachability). O(files) driver memory by
    * nature: the caller is about to enumerate every file anyway. */
  def allFiles: Seq[FileEntry] = filesRef match {
    case InlineFiles(es) => es
    case SplitFiles(carried, updated, _, load) =>
      carried.flatMap { case (_, name) => load(name) } ++ updated.values.flatten
  }
}

/** What one commit did, written into the snapshot it publishes — so the
  * record becomes visible atomically with the data, or not at all.
  * `operation` is merge, compact, rebucket, rollback, alter or create.
  * A merge also records its `epoch`, its [[CommitSummary.MergeCounters]],
  * the milliseconds of each phase before the publish, and the data
  * directory it wrote (lineage reads that directory's entries back). A
  * snapshot cannot time its own publish: `duration_ms` and `phaseMs` stop
  * at it. */
final case class CommitSummary(
    operation: String,
    epoch: Option[Long] = None,
    counters: Map[String, Long] = Map.empty,
    phaseMs: Map[String, Long] = Map.empty,
    writeDir: Option[String] = None)

object CommitSummary {
  /** The counters a merge records, in `Meta.metrics` column order; the
    * one place their names are spelled (`MergeStats.counters` fills them,
    * `Meta.metrics` and `history` read them). `buckets_touched` reads
    * back as an int, the others as longs. */
  val MergeCounters: Seq[String] = Seq("events_in", "events_quarantined",
    "approx_distinct_lsn", "keys_written", "tombstones_written", "buckets_touched",
    "duration_ms")
}

object Snapshot {
  private val Header = "graft-snapshot v1"

  private def serializeLongs(m: Map[String, Long]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString(",")
  private def parseLongs(v: String): Map[String, Long] =
    v.split(',').filter(_.nonEmpty).map { kv =>
      val i = kv.lastIndexOf(':')
      kv.substring(0, i) -> kv.substring(i + 1).toLong
    }.toMap

  /** The epoch ledger serializes RUN-LENGTH ENCODED: epochs within one
    * stream generation are `generationBase + batchId` (contiguous by
    * construction), so a ledger of 10⁵ epochs from G generations is G
    * runs, not 10⁵ numbers — snapshot size tracks generation count, not
    * epoch count. Runs print as `a..b`, singletons as `a`; the parser
    * accepts both forms (and thus every pre-RLE snapshot on disk). */
  private[graft] def serializeEpochs(epochs: Set[Long]): String = {
    if (epochs.isEmpty) return ""
    val sorted = epochs.toArray
    java.util.Arrays.sort(sorted)
    val sb = new StringBuilder
    var runStart = sorted(0); var prev = sorted(0)
    def emit(): Unit = {
      if (sb.nonEmpty) sb.append(',')
      if (runStart == prev) sb.append(runStart)
      else sb.append(runStart).append("..").append(prev)
    }
    var i = 1
    while (i < sorted.length) {
      val e = sorted(i)
      if (e != prev + 1) { emit(); runStart = e }
      prev = e; i += 1
    }
    emit()
    sb.toString
  }

  private[lake] def parseEpochs(v: String): Set[Long] =
    v.split(',').iterator.flatMap { tok =>
      val i = tok.indexOf("..")
      if (i < 0) Iterator.single(tok.toLong)
      else (tok.substring(0, i).toLong to tok.substring(i + 2).toLong).iterator
    }.toSet

  /** Convenience constructor with an inline file list. */
  def apply(version: Long, schemaVersion: Int, schema: StructType, numBuckets: Int,
            epochs: Set[Long], files: Seq[FileEntry]): Snapshot =
    new Snapshot(version, schemaVersion, schema, numBuckets, epochs, InlineFiles(files), None)

  /** Root fields without the file list (shared by the inline and
    * manifest-split serializations). */
  private[lake] def serializeHeader(s: Snapshot): String = {
    val sb = new StringBuilder
    sb.append(Header).append('\n')
    sb.append("version=").append(s.version).append('\n')
    sb.append("schemaVersion=").append(s.schemaVersion).append('\n')
    sb.append("numBuckets=").append(s.numBuckets).append('\n')
    s.highWaterLsn.foreach(h => sb.append("highWaterLsn=").append(h).append('\n'))
    if (s.unorderedCommits > 0L)
      sb.append("unorderedCommits=").append(s.unorderedCommits).append('\n')
    sb.append("epochs=").append(serializeEpochs(s.epochs)).append('\n')
    sb.append("schema=").append(s.schema.json).append('\n')
    // one tab-separated line, "-" for an absent field: operation, epoch,
    // counters, phase ms, write dir
    s.summary.foreach { c =>
      def orDash(v: String) = if (v.isEmpty) "-" else v
      sb.append("commit=").append(Seq(c.operation, c.epoch.fold("")(_.toString),
        serializeLongs(c.counters), serializeLongs(c.phaseMs), c.writeDir.getOrElse(""))
        .map(orDash).mkString("\t")).append('\n')
    }
    sb.toString
  }

  /** Key-stat field encoding for the tab-separated file lines: a leading
    * marker char (so the token is never empty and never starts with a
    * digit) + percent-escaped value (%, tab, newline, CR). */
  private[lake] def encKey(v: String): String =
    "k" + v.flatMap {
      case '%' => "%25"
      case '\t' => "%09"
      case '\n' => "%0A"
      case '\r' => "%0D"
      case c => c.toString
    }
  private[lake] def decKey(tok: String): String = {
    val v = tok.stripPrefix("k")
    if (!v.contains('%')) v
    else {
      val sb = new StringBuilder(v.length)
      var i = 0
      while (i < v.length) {
        if (v.charAt(i) == '%' && i + 3 <= v.length) {
          sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(v.charAt(i)); i += 1 }
      }
      sb.toString
    }
  }

  /** Stats serialize INDEPENDENTLY: a file whose lsn stats were
    * absent still keeps its known nBytes (from the listing), nLive,
    * and key ranges — gating everything behind one hasStats check would
    * needlessly degrade byte-budget admission, split sizing,
    * estimateStatistics, LIMIT planning and COUNT(*) to their no-stats
    * fallbacks. Unknown fields write their sentinels (-1 / lsn extremes);
    * absent key bounds write "-" (never a valid encKey token, which
    * always starts with 'k'). Legacy shorter lines still parse. */
  private def fileLine(f: FileEntry): String =
    if (f.hasStats || f.nBytes >= 0L || f.nLive >= 0L || f.hasKeyStats ||
        f.pathBloom != null) {
      def k(v: String) = if (v == null) "-" else encKey(v)
      // pathBloom is base64 (tab/newline-free by construction); "-" = absent
      val bloom = if (f.pathBloom == null) "-" else f.pathBloom
      s"file=${f.bucket}\t${f.relPath}\t${f.minLsn}\t${f.maxLsn}\t${f.nKeys}\t${f.nBytes}\t${f.nLive}\t" +
        s"${k(f.minRepo)}\t${k(f.maxRepo)}\t${k(f.minPath)}\t${k(f.maxPath)}\t$bloom\n"
    } else s"file=${f.bucket}\t${f.relPath}\n"

  private[graft] def serializeFileLines(files: Seq[FileEntry]): String = {
    val sb = new StringBuilder
    files.sortBy(f => (f.bucket, f.relPath)).foreach(f => sb.append(fileLine(f)))
    sb.toString
  }

  private[graft] def parseFileLine(v: String): FileEntry = {
    val parts = v.split('\t')
    def key(tok: String): String = if (tok == "-") null else decKey(tok)
    if (parts.length >= 11)
      FileEntry(parts(0).toInt, parts(1), parts(2).toLong, parts(3).toLong,
        parts(4).toLong, parts(5).toLong, parts(6).toLong,
        key(parts(7)), key(parts(8)), key(parts(9)), key(parts(10)),
        pathBloom = if (parts.length >= 12 && parts(11) != "-") parts(11) else null)
    else if (parts.length >= 7)
      FileEntry(parts(0).toInt, parts(1), parts(2).toLong, parts(3).toLong,
        parts(4).toLong, parts(5).toLong, parts(6).toLong)
    else if (parts.length >= 6)
      FileEntry(parts(0).toInt, parts(1), parts(2).toLong, parts(3).toLong,
        parts(4).toLong, parts(5).toLong)
    else if (parts.length >= 5)
      FileEntry(parts(0).toInt, parts(1), parts(2).toLong, parts(3).toLong, parts(4).toLong)
    else FileEntry(parts(0).toInt, parts(1))
  }

  private[graft] def parseFileLines(text: String): Seq[FileEntry] =
    text.split('\n').filter(_.startsWith("file=")).toSeq
      .map(ln => parseFileLine(ln.stripPrefix("file=")))

  private[lake] def manifestRefs(text: String): Seq[(Int, String)] =
    text.split('\n').filter(_.startsWith("manifest=")).toSeq.map { ln =>
      val v = ln.stripPrefix("manifest=")
      val t = v.indexOf('\t')
      (v.substring(0, t).toInt, v.substring(t + 1))
    }

  /** Root header + inline file lines (split roots handled by LakeTable,
    * which owns the manifest directory). */
  def serialize(s: Snapshot): String = s.filesRef match {
    case InlineFiles(es) => serializeHeader(s) + serializeFileLines(es)
    case _ => throw new IllegalArgumentException("split snapshots serialize via LakeTable")
  }

  /** Parse a root's header fields; `file=`/`manifest=` lines are resolved
    * by the caller (LakeTable), which supplies the FilesRef. */
  private[lake] def deserializeHeader(text: String): Snapshot = {
    val lines = text.split('\n')
    require(lines.nonEmpty && lines(0) == Header, s"bad snapshot header: ${lines.headOption}")
    var version = -1L; var schemaVersion = -1; var numBuckets = -1
    var epochs = Set.empty[Long]; var schema: StructType = null
    var highWater: Option[Long] = None
    var unordered = 0L
    var summary: Option[CommitSummary] = None
    lines.drop(1).filter(_.nonEmpty).foreach { ln =>
      val i = ln.indexOf('=')
      val (k, v) = (ln.substring(0, i), ln.substring(i + 1))
      k match {
        case "version" => version = v.toLong
        case "schemaVersion" => schemaVersion = v.toInt
        case "numBuckets" => numBuckets = v.toInt
        case "highWaterLsn" => highWater = Some(v.toLong)
        case "unorderedCommits" => unordered = v.toLong
        case "epochs" => if (v.nonEmpty) epochs = parseEpochs(v)
        case "schema" => schema = DataType.fromJson(v).asInstanceOf[StructType]
        case "commit" =>
          val f = v.split('\t').map(x => if (x == "-") "" else x)
          summary = Some(CommitSummary(f(0), Option(f(1)).filter(_.nonEmpty).map(_.toLong),
            parseLongs(f(2)), parseLongs(f(3)), Option(f(4)).filter(_.nonEmpty)))
        case _ => // forward-compatible: ignore unknown keys (file=/manifest= included)
      }
    }
    Snapshot(version, schemaVersion, schema, numBuckets, epochs,
      InlineFiles(Seq.empty), highWater, unordered, summary)
  }

  def deserialize(text: String): Snapshot =
    deserializeHeader(text).copy(filesRef = InlineFiles(parseFileLines(text)))
}

/** The lake table: bucketed Parquet data files + snapshot manifests.
  *
  * Layout:
  * {{{
  *   <root>/_snapshots/v{N}          snapshot manifests (highest N = current)
  *   <root>/data/v{N}-{uuid}/b={bucket}/   data files written by commit N
  * }}}
  *
  * Data is hash-bucketed by `pmod(xxhash64(repo), numBuckets)` so a MERGE
  * only rewrites the buckets that contain changed keys — the reference's
  * row-group min/max pruning (src/places/place_index.rs:217-221) reborn as
  * bucket pruning. At 100 TB / 1000 executors, numBuckets is sized so one
  * bucket ≈ a few GB; here it defaults small for local testing.
  */
final class LakeTable(
    val spark: SparkSession,
    val root: String,
    /** Split the file list into per-bucket-group manifest files once it
      * exceeds this many entries. Manifests are CONTENT-ADDRESSED
      * (g<group>-<sha16>.manifest): a commit touching k buckets rewrites
      * only the ≤k affected groups' manifests — every other group's
      * manifest already exists under the same name and is referenced AND
      * CARRIED by name only, never loaded. Commit IO and driver memory
      * therefore track CHANGE volume, not table size (the Iceberg
      * manifest-list idea; SURVEY §9's B≫10⁵ limit). The default keeps
      * small tables on the simpler inline form. */
    val manifestSplitThreshold: Int = 4096,
    /** Bucket-group count for split manifests (group = bucket % this).
      * Size so one group ≈ a few thousand file entries at the target
      * bucket count. */
    val manifestGroupCount: Int = 64,
    /** Snapshot LINEAGE this handle commits to and reads from. "main" is
      * the primary lineage under `_snapshots/`; any other name is a
      * branch under `_snapshots/branches/<name>/` (write-audit-publish:
      * stage risky epochs on a branch, audit them, then `fastForward`
      * main — a metadata-only publish). All lineages SHARE the root's
      * data pool and content-addressed manifests, so branching and
      * publishing move no data. */
    val branch: String = LakeTable.MainBranch) {
  import LakeTable._

  // every surface that names a lineage funnels through this constructor
  // (forBranch, the DSv2 branch option, SQL VERSION AS OF's branch
  // fallback), so one check here closes the path-traversal hole — a name
  // like ".." would otherwise resolve snapshotDir ONTO the snapshot store
  require(branch == MainBranch || validRefName(branch),
    s"bad branch name: '$branch'")

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs: FileSystem = new Path(root).getFileSystem(hconf)

  def snapshotDir: Path =
    if (branch == MainBranch) new Path(root, "_snapshots")
    else new Path(root, s"_snapshots/branches/$branch")
  def manifestDir: Path = new Path(root, "_snapshots/manifests")
  def refsDir: Path = new Path(root, "_snapshots/refs")

  /** Group-manifest loads performed by this table handle — observability
    * hook for specs asserting that untouched groups are never read. */
  private[graft] val manifestLoads = new java.util.concurrent.atomic.AtomicLong(0L)

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    new String(bytes, StandardCharsets.UTF_8)
  }

  /** Write `body` to `dst` atomically: full write to a writer-unique tmp
    * sibling, then publish-if-absent. False = `dst` already exists — the
    * caller decides whether that is a conflict, an idempotent landing, or
    * a content-addressed hit; the tmp file is always cleaned up. This is
    * the ONE commit idiom every publish (snapshots, manifests, tags,
    * branches, fork markers) shares.
    *
    * The publish step must FAIL if `dst` exists — that failure is the
    * whole conflict-detection story. HDFS `rename` has exactly that
    * contract, but on the local filesystem Hadoop's rename bottoms out
    * in POSIX rename(2), which silently REPLACES an existing destination:
    * two racing writers could both "successfully" rename onto the same
    * snapshot version and one commit would vanish (caught by the
    * six-writer race spec as a missing version). On `file:` URIs the
    * publish therefore goes through link(2) (`Files.createLink`), whose
    * EEXIST failure is atomic in the kernel — true rename-if-absent. */
  private[lake] def writeAtomic(f: FileSystem, dst: Path, body: String): Boolean = {
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val landed =
      if ("file" == f.getUri.getScheme) {
        val tmpNio = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
        val dstNio = java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath)
        try { java.nio.file.Files.createLink(dstNio, tmpNio); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // `file:` mounts without hard-link support (some NFS/FUSE/SMB)
          // raise these instead of EEXIST. Degrade to exists-check +
          // rename: not kernel-atomic, but correct for the common
          // single-writer case — and named loudly so an operator running
          // CONCURRENT writers on such a mount knows the conflict window.
          // FileSystemException also covers GENUINE IO errors (EACCES,
          // EIO, a concurrently-removed tmp), which must stay loud: probe
          // whether the directory supports link(2) at all, and only
          // degrade when it does not — otherwise rethrow the real error
          // instead of misreporting it as a commit conflict.
          case _: UnsupportedOperationException =>
            LakeTable.logLinkUnsupportedOnce(dstNio.getParent.toString)
            if (f.exists(dst)) false else f.rename(tmp, dst)
          case _: java.nio.file.FileSystemException
              if !LakeTable.linksSupported(dstNio.getParent) =>
            LakeTable.logLinkUnsupportedOnce(dstNio.getParent.toString)
            if (f.exists(dst)) false else f.rename(tmp, dst)
        }
      } else f.rename(tmp, dst)
    // link() leaves the tmp name in place; rename() consumed it on success
    f.delete(tmp, false)
    landed
  }

  private def loadManifest(name: String): Seq[FileEntry] = {
    manifestLoads.incrementAndGet()
    Snapshot.parseFileLines(readText(fs, new Path(manifestDir, name)))
  }

  /** Parse a snapshot root; a split root (manifest= lines) resolves its
    * group manifests LAZILY — nothing is loaded here. */
  private def readSnapshotFile(f: FileSystem, p: Path): Snapshot = {
    val text = readText(f, p)
    val base = Snapshot.deserializeHeader(text)
    val refs = Snapshot.manifestRefs(text)
    if (refs.isEmpty) base.copy(filesRef = InlineFiles(Snapshot.parseFileLines(text)))
    else base.copy(filesRef =
      SplitFiles(refs, Map.empty, manifestGroupCount, loadManifest))
  }

  /** Highest committed snapshot, or None if the table is empty. */
  def currentSnapshot(): Option[Snapshot] = {
    val dir = snapshotDir
    val f = fs
    if (!f.exists(dir)) return None
    val versions = f.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
    if (versions.isEmpty) None
    else Some(readSnapshotFile(f, new Path(dir, s"v${versions.max}")))
  }

  /** The successor file listing after a commit that rewrote `touched`
    * buckets: every entry in a touched bucket is dropped, `newFiles` are
    * added. For split listings the untouched groups' manifest references
    * carry over VERBATIM (no load, no rewrite); only groups containing
    * touched buckets are materialized — O(touched) driver work. */
  def successorFiles(snap: Snapshot, touched: Set[Int], newFiles: Seq[FileEntry]): FilesRef =
    snap.filesRef match {
      case InlineFiles(es) =>
        InlineFiles(es.filterNot(f => touched(f.bucket)) ++ newFiles)
      case SplitFiles(carried, updated, g, load) =>
        val touchedGroups = touched.map(b => b % g)
        val stillCarried = carried.filterNot { case (gid, _) => touchedGroups(gid) }
        val loaded: Map[Int, Seq[FileEntry]] =
          carried.collect { case (gid, name) if touchedGroups(gid) => gid -> load(name) }.toMap
        val merged = (loaded.keySet ++ updated.keySet ++ newFiles.map(_.bucket % g)).map { gid =>
          val prior = updated.getOrElse(gid, loaded.getOrElse(gid, Seq.empty))
          gid -> (prior.filterNot(f => touched(f.bucket)) ++
            newFiles.filter(_.bucket % g == gid))
        }.toMap
        SplitFiles(stillCarried, merged, g, load)
    }

  private def writeGroupManifests(groups: Map[Int, Seq[FileEntry]],
                                  f: FileSystem): Seq[(Int, String)] = {
    f.mkdirs(manifestDir)
    groups.toSeq.sortBy(_._1).filter(_._2.nonEmpty).map { case (gid, entries) =>
      val body = Snapshot.serializeFileLines(entries)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(body.getBytes(StandardCharsets.UTF_8))
        .take(8).map(b => f"$b%02x").mkString
      val name = s"g$gid-$digest.manifest"
      val dst = new Path(manifestDir, name)
      if (!f.exists(dst) && !writeAtomic(f, dst, body))
        // a concurrent writer landed the identical content first — fine
        require(f.exists(dst), s"manifest write failed for $name")
      (gid, name)
    }
  }

  /** Atomically publish `snap` as version `snap.version`, recording
    * `summary` as what this commit did (whatever summary `snap` carried
    * from a predecessor it was copied from is replaced).
    * Fails if that version already exists (conflict detection). */
  def commitSnapshot(snap0: Snapshot, summary: CommitSummary): Unit = {
    // single choke point for column-identity assignment: every committed
    // schema carries a stable `graft.id` per field (new fields get the
    // next free id; existing ids are never touched) — see FieldIds
    val snap = snap0.copy(summary = Some(summary), schema =
      graft.schema.FieldIds.assignIds(snap0.schema, skip = Set(LakeTable.DeletedCol)))
    val f = fs
    f.mkdirs(snapshotDir)
    val body = snap.filesRef match {
      case InlineFiles(es) if es.size <= manifestSplitThreshold =>
        Snapshot.serialize(snap)
      case InlineFiles(es) => // crossing the threshold: split everything once
        val refs = writeGroupManifests(es.groupBy(_.bucket % manifestGroupCount), f)
        Snapshot.serializeHeader(snap) +
          refs.map { case (gid, name) => s"manifest=$gid\t$name" }.mkString("", "\n", "\n")
      case SplitFiles(carried, updated, _, _) =>
        val refs = (carried ++ writeGroupManifests(updated, f)).sortBy(_._1)
        Snapshot.serializeHeader(snap) +
          refs.map { case (gid, name) => s"manifest=$gid\t$name" }.mkString("", "\n", "\n")
    }
    val dst = new Path(snapshotDir, s"v${snap.version}")
    if (!writeAtomic(f, dst, body))
      throw new CommitConflictException(
        s"snapshot commit conflict: ${dst} already exists (concurrent writer?)")
  }

  /** The manifest names referenced by the given committed version. */
  private[graft] def manifestRefsOf(version: Long): Seq[String] = {
    val f = fs
    Snapshot.manifestRefs(readText(f, new Path(snapshotDir, s"v$version"))).map(_._2)
  }

  /** All manifest file names present on disk. */
  private[graft] def manifestFileNames(): Seq[String] = {
    val f = fs
    if (!f.exists(manifestDir)) Seq.empty
    else f.listStatus(manifestDir).filter(_.isFile).map(_.getPath.getName)
      .filter(_.endsWith(".manifest")).toSeq
  }

  private[graft] def deleteManifest(name: String): Unit = {
    fs.delete(new Path(manifestDir, name), false): Unit
  }

  private[graft] def manifestMtime(name: String): Long =
    fs.getFileStatus(new Path(manifestDir, name)).getModificationTime

  private[graft] def dataDirMtime(dirName: String): Long =
    fs.getFileStatus(new Path(root, s"data/$dirName")).getModificationTime

  /** List the parquet part-files Spark wrote under `data/<dirName>`, as
    * (bucket, rel) WITHOUT stats (no file IO beyond the listing). Writers
    * use unique version-uuid dir names so concurrent/crashed writers
    * never share a directory; the snapshot manifest records the paths, so
    * physical dir naming is free. */
  def listDataFiles(dirName: String): Seq[FileEntry] = {
    val f = fs
    val base = new Path(root, s"data/$dirName")
    if (!f.exists(base)) return Seq.empty
    f.listStatus(base).filter(_.isDirectory).flatMap { bdir =>
      val bucket = bdir.getPath.getName.stripPrefix("b=").toInt
      f.listStatus(bdir.getPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => FileEntry(bucket, s"data/$dirName/b=$bucket/${s.getPath.getName}",
          nBytes = s.getLen))
    }.toSeq
  }

  /** Write `df` — the table's columns plus the bucket column `b` — into
    * `data/<dirName>` as zstd parquet, one `b=<bucket>` directory per
    * bucket. Returns the per-file manifest stats the write tasks gathered
    * (see [[FileStatsTracker]]), for [[listDataFilesWithStats]]. */
  def writeData(df: DataFrame, dirName: String): Map[String, FileEntry] = {
    val tracker = new FileStatsTracker(StructType(df.schema.fields.filterNot(_.name == "b")))
    org.apache.spark.sql.graftx.Bridge.writeParquet(df, s"$root/data/$dirName", "b", tracker)
    tracker.result
  }

  /** Write `df` (one partition) as ONE `format` file named `name` under
    * `meta/<dir>/`: Spark writes into a dot-prefixed staging directory,
    * which readers skip, and the single part file is then renamed into
    * place, so a reader sees the whole file or none of it. A file already
    * at `name` is replaced. A crash strands only the staging directory;
    * `Maintenance.vacuum` sweeps it once aged. */
  private[graft] def writeMetaFile(df: DataFrame, format: String, dir: String,
                                   name: String): Unit = {
    val f = fs
    val stage = new Path(root, s"meta/.append-${java.util.UUID.randomUUID().toString.take(12)}")
    df.write.mode("overwrite").format(format).save(stage.toString)
    val parts = f.listStatus(stage).map(_.getPath).filter(_.getName.startsWith("part-"))
    require(parts.length == 1, s"expected one part file in $stage, found ${parts.length}")
    val dst = new Path(root, s"meta/$dir/$name")
    f.mkdirs(dst.getParent)
    // a local rename replaces the destination; HDFS refuses, so delete first
    if (!f.rename(parts.head, dst) && !(f.delete(dst, false) && f.rename(parts.head, dst)))
      throw new IllegalStateException(s"meta file rename failed onto $dst")
    f.delete(stage, true): Unit
  }

  /** `listDataFiles` with the stats [[writeData]] returned for the same
    * directory attached: no file is opened. This is how the commit path
    * records the stats readers later prune by (reference: footer
    * statistics extraction, src/places/place_index.rs:107-145). A file the
    * write did not report keeps the conservative no-stats sentinel. */
  def listDataFilesWithStats(dirName: String, stats: Map[String, FileEntry]): Seq[FileEntry] =
    listDataFiles(dirName).map { e =>
      stats.get(FileStatsTracker.fileKey(e.relPath)).fold(e)(
        _.copy(bucket = e.bucket, relPath = e.relPath, nBytes = e.nBytes))
    }

  /** Data directory names currently present under `data/`. */
  def dataDirNames(): Seq[String] = {
    val f = fs
    val base = new Path(root, "data")
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** All committed snapshot versions (ascending). */
  def snapshotVersions(): Seq[Long] = {
    val f = fs
    if (!f.exists(snapshotDir)) Seq.empty
    else f.listStatus(snapshotDir).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted.toSeq
  }

  /** Delete a data directory (vacuum support). */
  private[graft] def deleteDataDir(dirName: String): Unit = {
    fs.delete(new Path(root, s"data/$dirName"), true): Unit
  }

  private[graft] def snapshotMtime(version: Long): Long =
    fs.getFileStatus(new Path(snapshotDir, s"v$version")).getModificationTime

  private[graft] def deleteSnapshotFile(version: Long): Unit = {
    fs.delete(new Path(snapshotDir, s"v$version"), false): Unit
  }

  /** Delete one data FILE (snapshot expiry: a file may be referenced by
    * expired versions only, while its siblings in the same commit dir
    * live on in retained versions). Sweeps now-empty bucket/version dirs
    * so expiry leaves no husks behind. */
  private[graft] def deleteDataFile(relPath: String): Unit = {
    val f = fs
    val p = new Path(root, relPath)
    f.delete(p, false)
    val bucketDir = p.getParent
    if (f.exists(bucketDir) && f.listStatus(bucketDir).isEmpty) f.delete(bucketDir, false)
    val versionDir = bucketDir.getParent
    if (f.exists(versionDir) && f.listStatus(versionDir).isEmpty) f.delete(versionDir, false): Unit
  }

  /** The entries as a parquet relation planned from the manifest: paths and
    * lengths come from the entries, so no listing job runs. Legacy entries
    * without a recorded length are stat'ed. */
  private def parquetFiles(schema: StructType, entries: Seq[FileEntry]): DataFrame = {
    val f = fs
    val base = f.makeQualified(new Path(root))
    org.apache.spark.sql.graftx.Bridge.parquetFiles(spark, schema, entries.map { e =>
      val p = new Path(base, e.relPath)
      (p, if (e.nBytes >= 0L) e.nBytes else f.getFileStatus(p).getLen)
    })
  }

  /** Raw state rows (including tombstones) of the given files. Old files
    * lacking newly-evolved columns are read with the snapshot schema so the
    * missing columns surface as nulls (the reference's tolerant reader,
    * src/places/place_index.rs:359-370, done by Spark's parquet reader).
    *
    * RENAMED columns (FieldIds aliases): files written before the rename
    * store the column under its era name. The read schema is expanded
    * with every alias (same type, nullable) and the logical column is
    * `coalesce(current, alias…)` — exact, because any one file contains
    * at most ONE of a field's names (names are reserved against reuse),
    * so per file all but one leg of the coalesce are all-null. Tables
    * that never renamed skip the wrapper entirely. */
  def readFiles(schema: StructType, entries: Seq[FileEntry]): DataFrame =
    if (entries.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val aliasMap = graft.schema.FieldIds.aliasMap(schema)
      if (aliasMap.isEmpty) parquetFiles(schema, entries)
      else {
        import org.apache.spark.sql.functions.{coalesce, col}
        val expanded = StructType(schema.fields.flatMap(f =>
          f +: aliasMap.getOrElse(f.name, Nil)
            .map(a => StructField(a, f.dataType, nullable = true))))
        parquetFiles(expanded, entries)
          .select(schema.fields.toIndexedSeq.map { f =>
            aliasMap.get(f.name) match {
              case None => col(f.name)
              case Some(als) => coalesce((f.name +: als).map(col): _*).as(f.name)
            }
          }: _*)
      }
    }

  /** Max applied lsn across ALL rows of `snap` — tombstones INCLUDED,
    * unlike `read()`: a deleted key's tombstone still orders later events,
    * so any event sequenced "just above the table" (revert epochs, SQL
    * DML) must clear it or it silently loses the LWW argmax. This is the
    * correct floor when `highWaterLsn` is absent (e.g. one stats-less
    * legacy commit). Footer stats answer with zero data IO; stat-less
    * files force a raw-file scan. 0 on an empty table. */
  def maxLsnOf(snap: Snapshot): Long = {
    val files = snap.allFiles
    if (files.isEmpty) 0L
    else if (files.forall(_.hasStats)) {
      val nonEmpty = files.filter(_.nKeys > 0)
      if (nonEmpty.isEmpty) 0L else nonEmpty.map(_.maxLsn).max
    } else {
      val m = readFiles(snap.schema, files)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("lsn"))).head()
      if (m.isNullAt(0)) 0L else m.getLong(0)
    }
  }

  /** The current visible table state: tombstones filtered out. */
  def read(): DataFrame = {
    val snap = currentSnapshot().getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    readFiles(snap.schema, snap.allFiles)
      .where(!org.apache.spark.sql.functions.col(DeletedCol))
      .drop(DeletedCol)
  }

  /** The committed snapshot with exactly this version (time travel). */
  def snapshotAt(version: Long): Snapshot = {
    val own = new Path(snapshotDir, s"v$version")
    if (branch == MainBranch || fs.exists(own)) readSnapshotFile(fs, own)
    else {
      // pre-fork history: a branch lineage starts at its fork copy, and
      // every version BELOW the fork is shared ancestry that lives in
      // main's lineage — time travel and CDC ranges anchored before the
      // fork resolve there. Versions at/above the fork missing from the
      // branch dir are genuinely absent (expired), never borrowed: after
      // divergence, main's same-numbered snapshots are a DIFFERENT
      // history. The fork point comes from the createBranch marker, NOT
      // from the earliest surviving snapshot — expireSnapshots may have
      // trimmed the branch below its true fork, and inferring from the
      // survivor would borrow main's divergent versions.
      val fork = forkVersion().orElse(snapshotVersions().headOption).getOrElse(
        throw new IllegalStateException(s"branch '$branch' does not exist at $root"))
      require(version < fork,
        s"no snapshot v$version on branch '$branch' (fork at v$fork)")
      forBranch(MainBranch).snapshotAt(version)
    }
  }

  // ---- named refs (tags) -------------------------------------------------
  // A tag pins a committed version by NAME — time travel by meaning
  // ("the audited training snapshot") rather than number, and
  // Maintenance.expireSnapshots keeps tagged versions alive regardless of
  // age/keepLast (the Iceberg tag-retention contract). One file per tag
  // under `_snapshots/refs/`, holding the version number; creation is
  // write-tmp + rename-if-absent, so tags are IMMUTABLE and a create race
  // has exactly one winner (same commit protocol as snapshots).
  //
  // The refs dir is shared across lineages but a tag records only a
  // version NUMBER, which is meaningless without a lineage — so tags pin
  // MAIN versions, always: creation validates against main's lineage and
  // resolution reads through it, regardless of which branch handle the
  // call went through. (A branch's same-numbered snapshot is a DIFFERENT
  // history; resolving a tag against it would silently return divergent
  // data.)

  def createTag(name: String, version: Long): Unit = {
    require(validRefName(name), s"bad tag name: $name")
    val f = fs
    require(f.exists(new Path(forBranch(MainBranch).snapshotDir, s"v$version")),
      s"cannot tag version $version: not committed on main (tags pin main versions)")
    f.mkdirs(refsDir)
    if (!writeAtomic(f, new Path(refsDir, name), version.toString))
      throw new IllegalArgumentException(s"tag '$name' already exists (tags are immutable: " +
        s"drop it first to re-point)")
  }

  def dropTag(name: String): Boolean = {
    require(validRefName(name), s"bad tag name: $name")
    fs.delete(new Path(refsDir, name), false)
  }

  def tagVersion(name: String): Option[Long] = {
    if (!validRefName(name)) return None
    val p = new Path(refsDir, name)
    val f = fs
    if (!f.exists(p)) None else Some(readText(f, p).trim.toLong)
  }

  /** All tags as (name, version), name-sorted. */
  def listTags(): Seq[(String, Long)] = {
    val f = fs
    if (!f.exists(refsDir)) Seq.empty
    else f.listStatus(refsDir).filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map(s => s.getPath.getName -> readText(f, s.getPath).trim.toLong)
      .sortBy(_._1).toSeq
  }

  /** Snapshot pinned by a tag — resolved against MAIN's lineage (the one
    * the recorded version number belongs to), whatever this handle's
    * branch. */
  def snapshotAtTag(name: String): Snapshot =
    forBranch(MainBranch).snapshotAt(tagVersion(name).getOrElse(
      throw new IllegalArgumentException(s"no tag '$name' at $root")))

  // ---- branches (write-audit-publish) ------------------------------------
  // A branch is a SEPARATE snapshot lineage under `_snapshots/branches/
  // <name>/`, sharing the root's data pool and content-addressed
  // manifests: creating one copies a single snapshot file, committing to
  // one is the ordinary commit protocol against its own directory, and
  // publishing (`fastForward`) copies the branch's immutable snapshot
  // files onto the target lineage — all metadata-only, no data moves.
  // The WAP (write-audit-publish) flow for a risky backfill: fork a
  // branch, MERGE the suspect epochs there, audit the branch (readers of
  // main never see it), then fast-forward main; because the branch's
  // snapshots carry the full epoch ledger, exactly-once holds across the
  // publish (re-delivering a published epoch to main is a ledger skip).
  // Time travel below the fork point goes through the lineage that owns
  // those versions (usually main).

  private def branchesDir: Path = new Path(root, "_snapshots/branches")

  /** A handle on the same table committing to/reading from `name`'s
    * lineage ("main" = the primary). */
  def forBranch(name: String): LakeTable =
    if (name == branch) this
    else new LakeTable(spark, root, manifestSplitThreshold, manifestGroupCount, name)

  private def snapshotText(version: Long): String =
    readText(fs, new Path(snapshotDir, s"v$version"))

  /** Fork a branch at `fromVersion` of THIS handle's lineage. Returns the
    * branch handle. Creation is one atomic snapshot-file copy plus a fork
    * marker; a create race has exactly one winner (rename-if-absent, like
    * tags). */
  def createBranch(name: String, fromVersion: Long): LakeTable = {
    require(validRefName(name) && name != MainBranch, s"bad branch name: $name")
    val f = fs
    require(f.exists(new Path(snapshotDir, s"v$fromVersion")),
      s"cannot branch from uncommitted version $fromVersion")
    val b = forBranch(name)
    require(!f.exists(b.snapshotDir), s"branch '$name' already exists")
    f.mkdirs(b.snapshotDir)
    // the fork point is RECORDED, not inferred: after expireSnapshots
    // trims the branch, post-fork versions must stay "genuinely absent"
    // rather than resolving to main's divergent same-numbered snapshots —
    // only a durable marker survives the trim to tell the two apart
    if (!writeAtomic(f, new Path(b.snapshotDir, ForkMarker), fromVersion.toString)) {
      val existing = readText(f, new Path(b.snapshotDir, ForkMarker)).trim
      if (existing != fromVersion.toString)
        throw new CommitConflictException(
          s"branch '$name' creation lost a race (concurrent fork at v$existing)")
    }
    if (!writeAtomic(f, new Path(b.snapshotDir, s"v$fromVersion"), snapshotText(fromVersion)))
      throw new CommitConflictException(s"branch '$name' creation lost a race")
    b
  }

  /** The recorded fork point of this branch lineage. None on main, and on
    * a legacy branch created before the marker existed — those fall back
    * to inferring it from the earliest surviving snapshot, which is
    * correct only until `expireSnapshots` trims the branch. */
  private[graft] def forkVersion(): Option[Long] = {
    if (branch == MainBranch) return None
    val p = new Path(snapshotDir, ForkMarker)
    val f = fs
    if (!f.exists(p)) None else Some(readText(f, p).trim.toLong)
  }

  /** Branch names present at this root (excluding "main"). */
  def branchNames(): Seq[String] = {
    val f = fs
    if (!f.exists(branchesDir)) Seq.empty
    else f.listStatus(branchesDir).filter(_.isDirectory)
      .map(_.getPath.getName).sorted.toSeq
  }

  /** All branches as (name, currentVersion), name-sorted. */
  def listBranches(): Seq[(String, Long)] =
    branchNames().flatMap(n => forBranch(n).currentSnapshot().map(s => (n, s.version)))

  /** Drop a branch lineage (its snapshot files only — shared data and
    * manifests stay; `vacuum` reclaims anything now unreachable). Name
    * validation matters here most of all: an unvalidated ".." would
    * recursively delete the whole snapshot store. */
  def dropBranch(name: String): Boolean = {
    require(validRefName(name) && name != MainBranch, s"bad branch name: $name")
    fs.delete(new Path(branchesDir, name), true)
  }

  /** Every lineage handle at this root: main first, then branches. Vacuum
    * and snapshot expiry compute reachability across ALL of these — a
    * file referenced only by an unpublished audit branch is live. */
  def lineageHandles(): Seq[LakeTable] =
    forBranch(MainBranch) +: branchNames().map(forBranch)

  /** Publish branch `from` onto THIS handle's lineage by fast-forward:
    * requires this lineage's current version to be an ancestor the branch
    * forked from (present in the branch's lineage with IDENTICAL
    * content — otherwise the histories diverged and the publish fails
    * loudly; replay the branch's epochs as ordinary CDC merges instead).
    * Copies each newer branch snapshot file in version order, so a crash
    * mid-publish leaves a consistent prefix and re-running resumes
    * (identical content → skip; different content → conflict). Returns
    * the published current version. */
  def fastForward(from: String): Long = {
    require(from != branch, s"cannot fast-forward '$branch' from itself")
    val src = forBranch(from)
    val srcVersions = src.snapshotVersions()
    require(srcVersions.nonEmpty, s"branch '$from' does not exist or is empty")
    val cur = currentSnapshot().map(_.version).getOrElse(
      throw new IllegalStateException(s"cannot fast-forward an empty lineage — use createBranch"))
    if (!srcVersions.contains(cur) || snapshotText(cur) != src.snapshotText(cur))
      throw new CommitConflictException(
        s"'$branch' (at v$cur) and '$from' have diverged — fast-forward impossible; " +
          s"replay the branch's epochs as CDC merges instead")
    val f = fs
    srcVersions.filter(_ > cur).foreach { v =>
      val body = src.snapshotText(v)
      val dst = new Path(snapshotDir, s"v$v")
      if (!writeAtomic(f, dst, body)) {
        // an interrupted earlier publish already landed this version: fine
        if (readText(f, dst) != body)
          throw new CommitConflictException(
            s"concurrent commit at v$v during fast-forward from '$from'")
      }
    }
    srcVersions.max
  }

  /** Visible state as of a past snapshot version (time travel). */
  def readVersion(version: Long): DataFrame = {
    val snap = snapshotAt(version)
    readFiles(snap.schema, snap.allFiles)
      .where(!org.apache.spark.sql.functions.col(DeletedCol))
      .drop(DeletedCol)
  }
}

/** A concurrent writer published the contested version first. The losing
  * writer's data landed in its own uuid directory (never clobbering
  * committed data), so the safe reaction is rebase-and-retry: re-read the
  * current snapshot and redo the operation against it (see
  * MergeInto's retry loop); the orphaned directory is reclaimed by
  * `Maintenance.vacuum`. Subclasses IllegalStateException so callers
  * treating any commit failure as fatal keep working. */
final class CommitConflictException(msg: String) extends IllegalStateException(msg)

object LakeTable {
  /** Tombstone marker column in the physical state files. Tombstones keep
    * deletes idempotent under redelivered duplicates: a re-applied old
    * upsert for a key deleted at a higher lsn loses the lsn argmax against
    * the tombstone instead of resurrecting the key. */
  val DeletedCol = "_deleted"

  /** Name of the primary snapshot lineage. */
  val MainBranch = "main"

  /** File inside a branch's snapshot dir recording its fork version —
    * the durable boundary between shared pre-fork ancestry (resolved via
    * main) and the branch's own history (never borrowed, even after
    * snapshot expiry trims it). Deliberately not matching `v\d+`. */
  private[lake] val ForkMarker = "fork"

  /** a ≤ b in UNSIGNED byte order — the order parquet uses for binary
    * column min/max statistics. */
  private[graft] def bytesLe(x: Array[Byte], y: Array[Byte]): Boolean = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    x.length <= y.length
  }

  /** a ≤ b in UNSIGNED UTF-8 byte order. `String.compareTo` (UTF-16 code
    * units) disagrees for code points ≥ U+10000 vs U+E000..U+FFFF, so key
    * pruning must compare the bytes parquet compared. */
  private[graft] def utf8Le(a: String, b: String): Boolean =
    bytesLe(a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** Valid tag/branch name: one path segment, no traversal. The charset
    * regex alone admits "." and "..", which as directory names escape the
    * ref store — rejected explicitly. */
  private[graft] def validRefName(name: String): Boolean =
    name.matches("[A-Za-z0-9_.-]+") && name != "." && name != ".."

  /** Warn once per JVM per directory that its filesystem lacks link(2) and
    * writeAtomic fell back to exists+rename (see writeAtomic's scaladoc). */
  private val linkUnsupportedWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Probe (once per directory per JVM) whether link(2) works there, by
    * hard-linking a fresh scratch file. Distinguishes "this mount cannot
    * link" (degrade to rename) from "this link failed for a real IO
    * reason" (propagate): only a probe failure certifies the former. */
  private val linkProbe =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private[graft] def linksSupported(dir: java.nio.file.Path): Boolean =
    linkProbe.computeIfAbsent(dir.toString, { _ =>
      val id = java.util.UUID.randomUUID().toString.take(8)
      val a = dir.resolve(s".linkprobe.$id.a")
      val b = dir.resolve(s".linkprobe.$id.b")
      val ok = try {
        java.nio.file.Files.write(a, Array.emptyByteArray)
        java.nio.file.Files.createLink(b, a)
        true
      } catch { case _: Throwable => false }
      try java.nio.file.Files.deleteIfExists(b) catch { case _: Throwable => () }
      try java.nio.file.Files.deleteIfExists(a) catch { case _: Throwable => () }
      java.lang.Boolean.valueOf(ok)
    })
  private[lake] def logLinkUnsupportedOnce(dir: String): Unit =
    if (linkUnsupportedWarned.add(dir))
      System.err.println(
        s"[graft] WARN: filesystem at $dir does not support hard links; " +
        "atomic publish degrades to exists-check + rename — concurrent " +
        "writers on this mount may lose a racing commit")
}
