package graft.lake

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Manifest stats of every file a data write produces, gathered by the
  * write tasks from the rows they write (the way Delta's
  * `DeltaJobStatisticsTracker` gathers its file stats), so the commit never
  * re-opens the files it just wrote. Per file: the row count, the lsn
  * range, the live-row count (a NULL `_deleted` counts as not live, like
  * `read()`'s `!_deleted`), the `repo` and `path` ranges in unsigned UTF-8
  * byte order, and the [[PathBloom]] over the distinct paths.
  *
  * `dataSchema` is the schema of the rows the writer hands the tracker:
  * the written columns without the partition column. A missing (or
  * differently typed) column leaves its stat absent, which readers treat
  * conservatively. After the job, [[result]] holds one template entry per
  * file, keyed by `b=<bucket>/<file name>` (the tail the committed path
  * shares with the task's attempt path); its location fields are filled
  * from the listing. */
final class FileStatsTracker(dataSchema: StructType) extends WriteJobStatsTracker {
  import FileStatsTracker._

  private def ordinal(name: String, tpe: org.apache.spark.sql.types.DataType): Int =
    dataSchema.fields.indexWhere(f => f.name == name && f.dataType == tpe)
  private val lsnIdx = ordinal("lsn", LongType)
  private val repoIdx = ordinal("repo", StringType)
  private val pathIdx = ordinal("path", StringType)
  private val delIdx = ordinal(LakeTable.DeletedCol, BooleanType)

  @volatile @transient private var collected: Map[String, FileEntry] = Map.empty

  def result: Map[String, FileEntry] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val done = Seq.newBuilder[(String, FileEntry)]
    private var open = Map.empty[String, FileAcc]

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit =
      open += filePath -> new FileAcc(lsnIdx, repoIdx, pathIdx, delIdx)
    override def newRow(filePath: String, row: InternalRow): Unit = open(filePath).add(row)
    override def closeFile(filePath: String): Unit =
      open.get(filePath).foreach { acc =>
        done += fileKey(filePath) -> acc.entry
        open -= filePath
      }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = TaskFiles(done.result())
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.flatMap { case TaskFiles(files) => files }.toMap
}

object FileStatsTracker {
  /** Key bounds above this many bytes are not recorded: a long key would
    * bloat every manifest that carries the file (parquet drops binary
    * column stats past the same size). */
  val MaxKeyStatBytes = 4096

  private val MaxDistinctPaths = PathBloom.MaxBytes * 8 / PathBloom.BitsPerKey

  /** `b=<bucket>/<file name>` of a data file's path: the key of [[result]]. */
  private[lake] def fileKey(path: String): String = path.split('/').takeRight(2).mkString("/")

  private final case class TaskFiles(files: Seq[(String, FileEntry)]) extends WriteTaskStats

  /** Running stats of one open file. The writer reuses its row buffer, so
    * every retained string is copied. */
  private final class FileAcc(lsnIdx: Int, repoIdx: Int, pathIdx: Int, delIdx: Int) {
    private var rows = 0L
    private var live = 0L
    private var lsnSeen = false
    private var minLsn = Long.MaxValue
    private var maxLsn = Long.MinValue
    private var minRepo, maxRepo, minPath, maxPath: UTF8String = _
    private var paths = new java.util.HashSet[UTF8String]()

    def add(row: InternalRow): Unit = {
      rows += 1
      if (lsnIdx >= 0 && !row.isNullAt(lsnIdx)) {
        val l = row.getLong(lsnIdx)
        lsnSeen = true
        if (l < minLsn) minLsn = l
        if (l > maxLsn) maxLsn = l
      }
      if (delIdx >= 0 && !row.isNullAt(delIdx) && !row.getBoolean(delIdx)) live += 1
      if (repoIdx >= 0 && !row.isNullAt(repoIdx)) {
        val r = row.getUTF8String(repoIdx)
        if (minRepo == null || r.compareTo(minRepo) < 0) minRepo = r.clone()
        if (maxRepo == null || r.compareTo(maxRepo) > 0) maxRepo = r.clone()
      }
      if (pathIdx >= 0 && !row.isNullAt(pathIdx)) {
        val p = row.getUTF8String(pathIdx)
        if (minPath == null || p.compareTo(minPath) < 0) minPath = p.clone()
        if (maxPath == null || p.compareTo(maxPath) > 0) maxPath = p.clone()
        if (paths != null && !paths.contains(p)) {
          paths.add(p.clone())
          if (paths.size > MaxDistinctPaths) paths = null // past the bloom's size cap
        }
      }
    }

    /** A bound usable for pruning: short enough to record, and valid UTF-8
      * (an invalid sequence would not survive the round trip through the
      * manifest's String). */
    private def bound(u: UTF8String): Option[String] =
      if (u == null || u.numBytes > MaxKeyStatBytes) None
      else {
        val s = u.toString
        if (java.util.Arrays.equals(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), u.getBytes))
          Some(s)
        else None
      }

    /** Stats as a manifest entry; bucket and location come from the listing. */
    def entry: FileEntry =
      if (rows == 0L)
        FileEntry(0, "", minLsn = Long.MaxValue, maxLsn = Long.MinValue, nKeys = 0L, nLive = 0L)
      else {
        val nLive = if (delIdx >= 0) live else -1L
        val base =
          if (lsnSeen) FileEntry(0, "", minLsn = minLsn, maxLsn = maxLsn, nKeys = rows, nLive = nLive)
          else FileEntry(0, "", nLive = nLive)
        val keys = for (rLo <- bound(minRepo); rHi <- bound(maxRepo);
                        pLo <- bound(minPath); pHi <- bound(maxPath))
          yield base.copy(minRepo = rLo, maxRepo = rHi, minPath = pLo, maxPath = pHi)
        val bloom = Option(paths).flatMap { ps =>
          import scala.jdk.CollectionConverters._
          PathBloom.build(ps.asScala.toSeq.map(_.getBytes)).map(PathBloom.encode)
        }
        val withKeys = keys.getOrElse(base)
        bloom.fold(withKeys)(b => withKeys.copy(pathBloom = b))
      }
  }
}
