package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** An incrementally-maintained aggregate view over the lake table.
  *
  * `groupCols` partition the state; every measure is the SUM of a
  * row-level expression over the group's live rows (`count` = sum of 1) —
  * the self-maintainable aggregate class: a sum can absorb a change
  * stream without rereading the base table, because retracting a row is
  * subtracting its contribution. Non-additive aggregates (min/max/
  * distinct) would need base-table reads on retraction and are
  * deliberately out of scope.
  */
final case class ViewDef(name: String, groupCols: Seq[String],
                         sums: Seq[(String, Column)]) {
  require(name.matches("[A-Za-z0-9_-]+"), s"bad view name: $name")
  require(groupCols.nonEmpty && sums.nonEmpty, "empty view definition")
}

final case class RefreshStats(fromVersion: Option[Long], toVersion: Long,
                              initialFull: Boolean, noOp: Boolean)

/** Maintains materialized views under `<table>/views/<name>/`.
  *
  * Refresh cost tracks CHANGE volume plus view size, never base-table
  * size: the first refresh aggregates the pinned snapshot once; every
  * later refresh folds `Maintenance.changesBetween(from, to,
  * includePreimages = true)` — whose IO is pruned down to the files
  * actually holding post-`from` rows — into the stored aggregate:
  * insert/update_postimage rows add their contribution,
  * update_preimage/delete rows subtract the outdated one, and groups
  * whose live-row count reaches zero disappear. A compaction-only commit
  * therefore refreshes with ZERO data IO.
  *
  * Commit protocol mirrors the snapshot layer (the reference's tmp +
  * atomic-rename stage commits, src/osm/filter.rs:381-398): data lands in
  * a uuid directory, then a pointer file `p<tableVersion>` (content: the
  * data dir name) is renamed into place. Pointers are never overwritten —
  * readers take the highest version — so every crash state shows the
  * last complete view. Single-maintainer operation, like
  * [[Maintenance.compact]]; stale pointers and data dirs (including
  * leftovers of crashed refreshes) are reclaimed on the next successful
  * commit.
  */
object MaterializedView {
  private val RowCount = "_n_rows" // implicit measure: live rows per group

  /** Superseded pointers/data dirs retained inside the grace window
    * (newest-first, per kind): bounds disk amplification under streaming
    * refresh cadences while still covering any in-flight reader. */
  private[lake] val SupersededKeepCount = 4

  /** Entries beyond the keep count still survive this long: the COUNT
    * bound alone would delete a superseded dir seconds after a fast
    * refresh cadence buries it, racing a reader mid-scan — the very
    * race the grace window exists to prevent. Reader contract: a scan
    * must complete within this window of its pointer resolution under a
    * streaming cadence (the full grace hour applies at batch cadences,
    * where the count bound never triggers). Bounds amplification to
    * cadence x 10 min instead of cadence x 1 h. */
  private[lake] val SupersededMinRetainMs: Long = 10L * 60 * 1000

  /** Superseded entries older than this are deleted whatever the count. */
  private val SupersededGraceMs: Long = 3600L * 1000

  private def viewRoot(table: LakeTable, name: String) = s"${table.root}/views/$name"

  private def fs(table: LakeTable, p: Path) =
    p.getFileSystem(table.spark.sparkContext.hadoopConfiguration)

  /** (tableVersion, dataDir) of the newest committed pointer, if any. */
  def currentPointer(table: LakeTable, name: String): Option[(Long, String)] = {
    val root = new Path(viewRoot(table, name))
    val f = fs(table, root)
    if (!f.exists(root)) return None
    val versions = f.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("p\\d+")).map(_.drop(1).toLong)
    versions.sorted.lastOption.map { v =>
      val in = f.open(new Path(root, s"p$v"))
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      (v, body.trim)
    }
  }

  /** The view's stored rows: groupCols ++ measures ++ `_n_rows`.
    *
    * Reader grace: the returned DataFrame is planned against the data
    * directory the current pointer names, and a later refresh may delete
    * that directory once it is superseded. At a streaming refresh cadence
    * (more than [[SupersededKeepCount]] refreshes inside the hour) a
    * superseded directory survives only [[SupersededMinRetainMs]], about
    * 10 minutes, so a scan must finish within ~10 minutes of this call;
    * at slower cadences it has the full hour. Re-read the view rather
    * than hold a DataFrame across refreshes. */
  def read(table: LakeTable, name: String): DataFrame = {
    val (_, dir) = currentPointer(table, name).getOrElse(
      throw new IllegalStateException(s"view $name has never been refreshed"))
    table.spark.read.parquet(s"${viewRoot(table, name)}/$dir")
  }

  /** Signed fold of `rows` (state rows, or CDC rows when `signed`). */
  private def aggregate(view: ViewDef, rows: DataFrame, signed: Boolean): DataFrame = {
    val sign = if (signed)
      when(col("_change_type").isin("update_preimage", "delete"), lit(-1L)).otherwise(lit(1L))
    else lit(1L)
    val aggs = sum(sign).as(RowCount) +:
      view.sums.map { case (n, e) => sum(sign * e).as(n) }
    rows.groupBy(view.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Bring the view to the table's current version. */
  def refresh(table: LakeTable, view: ViewDef): RefreshStats = {
    val toVersion = table.currentSnapshot().getOrElse(
      throw new IllegalStateException("cannot refresh a view of an empty table")).version
    val pointer = currentPointer(table, view.name)
    if (pointer.exists(_._1 == toVersion))
      return RefreshStats(pointer.map(_._1), toVersion, initialFull = false, noOp = true)

    // a pointer whose anchor snapshot was expired (snapshot retention
    // outran the view's refresh cadence) cannot refresh incrementally —
    // the incremental path would throw on EVERY refresh forever; rebuild
    // from the current state instead (one full aggregation, same cost as
    // the initial refresh)
    val anchorAlive = pointer.forall(p => table.snapshotVersions().contains(p._1))
    val next = pointer match {
      case Some((fromVersion, dir)) if anchorAlive =>
        val delta = aggregate(view,
          Maintenance.changesBetween(table, fromVersion, toVersion, includePreimages = true),
          signed = true)
        val old = table.spark.read.parquet(s"${viewRoot(table, view.name)}/$dir")
        val merged = old.unionByName(delta)
        val aggs = sum(col(RowCount)).as(RowCount) +:
          view.sums.map { case (n, _) => sum(col(n)).as(n) }
        merged.groupBy(view.groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      case _ => // first refresh, or expired anchor
        aggregate(view, table.readVersion(toVersion), signed = false)
    }

    val root = viewRoot(table, view.name)
    val dataDir = s"d-${java.util.UUID.randomUUID().toString.take(8)}"
    next.where(col(RowCount) > 0)
      .write.mode("overwrite").option("compression", "zstd").parquet(s"$root/$dataDir")

    val f = fs(table, new Path(root))
    val dst = new Path(root, s"p$toVersion")
    // the shared rename-if-absent publish (link(2) on file: URIs —
    // POSIX rename silently REPLACES an existing destination, so a
    // hand-rolled tmp+rename would let two racing maintainers both
    // "succeed" with one pointer silently vanishing). A lost race means
    // another maintainer already published this exact base version: our
    // data dir is unreferenced garbage — drop it and yield.
    if (!table.writeAtomic(f, dst, dataDir)) {
      f.delete(new Path(root, dataDir), true): Unit
      return RefreshStats(pointer.map(_._1), toVersion,
        initialFull = false, noOp = true)
    }
    // reclaim what the (single-maintainer) new pointer supersedes: older
    // pointers and every data dir it doesn't name — including leftovers
    // of crashed earlier refreshes. Superseded entries get a reader
    // grace window (SupersededGraceMs): a dashboard query
    // that resolved the OLD pointer and planned its files must not have
    // them deleted mid-read (streaming refreshes supersede every
    // micro-batch, so an immediate delete races constantly). The grace
    // window alone is unbounded by COUNT — a per-micro-batch refresh
    // cadence would hoard hundreds of full view copies per hour — so
    // within the window only the K newest superseded entries of each
    // kind survive: a reader needs one pointer resolution plus its scan,
    // i.e. a couple of refresh intervals, never the whole hour.
    val cutoff = System.currentTimeMillis() - SupersededGraceMs
    val superseded = f.listStatus(new Path(root)).filter { st =>
      val n = st.getPath.getName
      (n.matches("p\\d+") && n.drop(1).toLong < toVersion) ||
        (n.startsWith("d-") && n != dataDir)
    }
    val minRetainCutoff = System.currentTimeMillis() - SupersededMinRetainMs
    superseded.groupBy(_.getPath.getName.head == 'p').values.foreach { kind =>
      val keepNewest = kind.sortBy(-_.getModificationTime)
        .take(SupersededKeepCount).map(_.getPath.getName).toSet
      kind.foreach { st =>
        val m = st.getModificationTime
        if (m < cutoff || (!keepNewest(st.getPath.getName) && m < minRetainCutoff))
          f.delete(st.getPath, true): Unit
      }
    }
    RefreshStats(pointer.map(_._1), toVersion,
      initialFull = pointer.isEmpty || !anchorAlive, noOp = false)
  }
}
