package graft.lake.dsv2

import graft.lake.{FileEntry, LakeTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{Map => JMap, Set => JSet}

/** DataSourceV2 read surface for the lake table:
  * {{{
  *   spark.read.format("graft").load(root)                       // current
  *   spark.read.format("graft").option("versionAsOf", 3).load(root) // time travel
  *   CREATE TEMPORARY VIEW t USING graft OPTIONS (path '...', versionAsOf '3')
  * }}}
  * SQL-surfaces the table the way GraftExtensions already SQL-surfaces
  * the custom expressions. The scan plans ONE partition per data file
  * and pushes two prunings into planning, both manifest-only:
  *   - `repo = 'x'` → only that repo's bucket's files are planned (the
  *     engine's bucket pruning, reference row-group pruning
  *     src/places/place_index.rs:217-221);
  *   - `lsn > x` / `lsn >= x` → files whose manifest max_lsn can't
  *     qualify are skipped (the per-file lsn stats recorded at
  *     commit; the incremental-read path of Maintenance.changesBetween
  *     exposed to SQL).
  * All filters are also kept as residuals — Spark re-evaluates them on
  * the rows, so pruning is a pure reduction. Tombstones are filtered in
  * the reader (`read()` semantics: visible state only).
  */
class GraftDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft"

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft source requires a path")
    p
  }

  private def branchOf(options: CaseInsensitiveStringMap): String =
    BranchOpt.of(options)

  private def snapshotOpt(options: CaseInsensitiveStringMap): Option[graft.lake.Snapshot] = {
    val spark = SparkSession.active
    // branch selects the snapshot LINEAGE (write-audit-publish audits read
    // the staged state: .option("branch", "audit")); data and manifests
    // are shared, so everything downstream is lineage-agnostic
    val table = new LakeTable(spark, rootOf(options)).forBranch(branchOf(options))
    require(Seq("versionAsOf", "changesTo", "tag").count(options.containsKey) <= 1,
      "versionAsOf / changesTo / tag all pin the read endpoint — set at most one")
    Option(options.get("tag")) match {
      case Some(t) => return Some(table.snapshotAtTag(t))
      case None => ()
    }
    ReadOpts.version(options, "versionAsOf").orElse(ReadOpts.version(options, "changesTo")) match {
      case Some(v) => Some(table.snapshotAt(v))
      case None => table.currentSnapshot()
    }
  }

  private def snapshotOf(options: CaseInsensitiveStringMap) =
    snapshotOpt(options).getOrElse(
      throw new IllegalStateException(s"no snapshot at ${rootOf(options)} " +
        "(writing a STREAM to a new table? pass .option(\"checkpointLocation\", ...) " +
        "— it marks the sink target and is the exactly-once epoch-generation identity)"))

  /** A streaming WRITE to a not-yet-created table must not fail in table
    * resolution: the sink creates the table on its first batch. The
    * `checkpointLocation` option marks that path (DataStreamWriter passes
    * the writer options here; reads never carry it). */
  private def uninitializedSinkTarget(options: CaseInsensitiveStringMap): Boolean =
    options.containsKey("checkpointLocation") && snapshotOpt(options).isEmpty

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    if (uninitializedSinkTarget(options)) return new StructType()
    val s = snapshotOf(options).schema
    if (options.getBoolean("includeTombstones", false)) s
    else StructType(s.fields.filterNot(_.name == LakeTable.DeletedCol))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    ReadOpts.validate(options) // refuse a bad option at load(), not mid-query
    if (uninitializedSinkTarget(options))
      return new GraftUninitializedTable(rootOf(options))
    val snap = snapshotOf(options)
    ReadOpts.checkChangesFrom(options, rootOf(options), snap)
    new GraftTable(rootOf(options), snap, schema, options)
  }

  /** `df.writeStream.format("graft")` — the engine's CDC merge as a first-
    * class streaming sink (see [[GraftSink]]). Spark routes here because
    * [[GraftTable]] deliberately does NOT claim STREAMING_WRITE: the merge
    * is a driver-orchestrated job per micro-batch (bucket pruning + one
    * repartition + snapshot commit), not a per-partition DataWriter. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): GraftSink = {
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft sink upserts per batch (append/update); Complete mode is not supported")
    require(partitionColumns.isEmpty,
      "graft tables are hash-bucketed by repo; partitionBy is not supported")
    def opt(k: String) = parameters.collectFirst { case (n, v) if n.equalsIgnoreCase(k) => v }
    val path = opt("path").getOrElse(
      throw new IllegalArgumentException("graft sink requires a path"))
    // the checkpoint IS the epoch-generation identity (GraftSink scaladoc).
    // Only USER-SET options reach a V1 sink: a checkpoint resolved from
    // the session conf or a temp dir would be invisible here, and falling
    // back to the table path would make every fresh-checkpoint stream
    // share the previous generation's epoch ids — its batches ledger-skip
    // as crash-retries and data silently drops. Require it explicitly.
    val cp = opt("checkpointLocation").getOrElse(throw new IllegalArgumentException(
      "graft sink requires .option(\"checkpointLocation\", ...) — the checkpoint is " +
        "the stream's exactly-once epoch-generation identity; a session-conf or " +
        "temporary checkpoint does not reach the sink and cannot provide one"))
    new GraftSink(path, cp,
      numBuckets = opt("numBuckets").map(_.toInt),
      saltBuckets = opt("saltBuckets").map(_.toInt).getOrElse(2),
      recordMeta = opt("recordMeta").exists(_.toBoolean),
      branch = opt("branch").getOrElse(LakeTable.MainBranch))
  }
}

/** The snapshot lineage an option map names ("main" when absent) — every
  * DSv2 path that builds a LakeTable goes through this, so a branch read,
  * write, CDC range, or stream never silently mixes lineages. */
private[dsv2] object BranchOpt {
  def of(options: CaseInsensitiveStringMap): String =
    Option(options.get("branch")).getOrElse(graft.lake.LakeTable.MainBranch)
}

/** The numeric read options, parsed in one place. A value that is not a
  * number, a negative version, or a bound that is not positive is refused
  * with an IllegalArgumentException naming the option. */
private[dsv2] object ReadOpts {
  private def parse[T](options: CaseInsensitiveStringMap, name: String, what: String)
                      (conv: String => Option[T], ok: T => Boolean): Option[T] =
    Option(options.get(name)).map { raw =>
      conv(raw).filter(ok).getOrElse(throw new IllegalArgumentException(
        s"$name must be $what, got '$raw'"))
    }

  def maxSplitBytes(options: CaseInsensitiveStringMap): Long =
    parse(options, "maxSplitBytes", "positive")(_.toLongOption, (_: Long) > 0L)
      .getOrElse(GraftSplit.DefaultMaxSplitBytes)
  def version(options: CaseInsensitiveStringMap, name: String): Option[Long] =
    parse(options, name, "a non-negative version")(_.toLongOption, (_: Long) >= 0L)
  def startingVersion(options: CaseInsensitiveStringMap): Option[Long] =
    version(options, "startingVersion")
  /** Negative = before the first commit: a full backfill. */
  def changesFrom(options: CaseInsensitiveStringMap): Option[Long] =
    parse(options, "changesFrom", "a version")(_.toLongOption, (_: Long) => true)
  def maxVersionsPerTrigger(options: CaseInsensitiveStringMap): Option[Int] =
    parse(options, "maxVersionsPerTrigger", "positive")(_.toIntOption, (_: Int) > 0)
  def maxBytesPerTrigger(options: CaseInsensitiveStringMap): Option[Long] =
    parse(options, "maxBytesPerTrigger", "positive")(_.toLongOption, (_: Long) > 0L)

  /** A `changesFrom` version must be one the read can diff against: at
    * or below the read's end version, and not expired. */
  def checkChangesFrom(options: CaseInsensitiveStringMap, root: String,
                       end: graft.lake.Snapshot): Unit =
    changesFrom(options).filter(_ >= 0L).foreach { v =>
      val table = new LakeTable(SparkSession.active, root).forBranch(BranchOpt.of(options))
      val retained = v <= end.version &&
        (try { table.snapshotAt(v); true } catch {
          case _: java.io.FileNotFoundException | _: IllegalArgumentException => false
        })
      if (!retained) throw new IllegalArgumentException(
        s"changesFrom must be a retained version at or below ${end.version} " +
          s"(the version the read ends at), got '$v'")
    }

  def validate(options: CaseInsensitiveStringMap): Unit = {
    maxSplitBytes(options); startingVersion(options)
    maxVersionsPerTrigger(options); maxBytesPerTrigger(options)
    version(options, "versionAsOf"); version(options, "changesTo"); changesFrom(options)
  }
}

/** Placeholder for a streaming-sink target whose table does not exist yet
  * (no capabilities: anything except routing to the V1 sink fails loudly). */
final class GraftUninitializedTable(root: String) extends Table {
  override def name(): String = s"graft.`$root` (uninitialized sink target)"
  override def schema(): StructType = new StructType()
  override def capabilities(): JSet[TableCapability] =
    java.util.Collections.emptySet[TableCapability]()
}

final class GraftTable(root: String, snapshot: graft.lake.Snapshot, visibleSchema: StructType,
                       tableOptions: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private val branch = BranchOpt.of(tableOptions)
  override def name(): String = s"graft.`$root`@v${snapshot.version}"

  /** The declared schema marks the CDC key columns non-nullable — an
    * engine invariant (merge keys are never null: every write path groups
    * on them), and a requirement for row-level DML (Spark refuses nullable
    * row-id attributes). Parquet footers say nullable because the format
    * has no way to record the invariant. */
  private val declaredSchema = StructType(visibleSchema.fields.map(f =>
    if (f.name == "repo" || f.name == "path") f.copy(nullable = false) else f))
  override def schema(): StructType = declaredSchema
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // merge creation-time options under runtime ones (runtime wins)
    val merged = new java.util.HashMap[String, String](tableOptions.asCaseSensitiveMap())
    merged.putAll(options.asCaseSensitiveMap())
    new GraftScanBuilder(root, snapshot, declaredSchema, new CaseInsensitiveStringMap(merged))
  }

  /** `INSERT INTO` = one MERGE epoch with upsert semantics (this is an
    * upsert table: rows land through the same LWW argmax as CDC events,
    * with `op` defaulted to "U"). The epoch id derives from the query id,
    * so a retried INSERT of the same query is idempotent while distinct
    * INSERTs are distinct epochs. Delegated as a V1 write because the
    * merge is a driver-orchestrated Spark job (bucket pruning + one
    * repartition), not a per-partition DataWriter. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              require(!overwrite, "INSERT OVERWRITE is not supported: this is an " +
                "upsert table — delete via CDC 'D' events")
              val spark = data.sparkSession
              val table = new LakeTable(spark, root).forBranch(branch)
              val snap = table.currentSnapshot().getOrElse(snapshot)
              val merge = new graft.merge.MergeInto(table,
                numBuckets = snap.numBuckets,
                saltBuckets = 2, recordMeta = false)
              val qid = info.queryId().getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val epoch = graft.functions.Hashing.hashBytes(qid, 0, qid.length, 0x1A5EL)
              val withOp =
                if (data.columns.contains("op")) data
                else data.withColumn("op", org.apache.spark.sql.functions.lit("U"))
              merge.apply(withOp, epoch): Unit
            }
        }
    }

  /** SQL `UPDATE` / `MERGE INTO` as delta-based row-level operations —
    * see [[GraftRowLevelOperation]]: Spark computes the changed rows,
    * executors stage them as change events, commit is one MERGE epoch. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(root, snapshot, declaredSchema, tableOptions, info)

  /** SQL `DELETE FROM t WHERE ...` (and `TRUNCATE TABLE t` via the
    * inherited default, which delegates as delete-where-true): matching
    * LIVE keys get tombstone events through one MERGE epoch — the exact
    * CDC 'D' semantics, so deletes stay idempotent under redelivery and
    * surface in `changesBetween`/the CDC stream like any other change.
    * All tombstones share one lsn just above the previous high-water
    * mark, keeping the commit ordered (incremental readers keep their
    * `lsn > hw` pruning). Condition columns beyond the key are fine:
    * the predicate is evaluated against the full visible row. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => FilterToColumn.translate(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions._
    val spark = SparkSession.active
    val table = new LakeTable(spark, root).forBranch(branch)
    val snap = table.currentSnapshot().getOrElse(return)
    val cond = filters.flatMap(FilterToColumn.translate)
      .reduceOption(_ && _).getOrElse(lit(true))
    // read through the DSv2 source so a `repo =` predicate keeps its
    // manifest-level bucket pruning; victims are just the key columns
    val victims = spark.read.format("graft").option("branch", branch)
      .load(root).where(cond)
      .select(col("repo"), col("path")).distinct().cache()
    try {
      if (victims.isEmpty) return // no-op: no new version, no empty epoch
      // the fallback must include TOMBSTONE lsns (read() hides them): a
      // delete sequenced below an existing tombstone would let an old
      // absorbed event out-rank it and resurrect the row
      val delLsn = snap.highWaterLsn.getOrElse(table.maxLsnOf(snap)) + 1L
      val events = victims
        .withColumn("lsn", lit(delLsn))
        .withColumn("op", lit("D"))
      // epoch from (version, predicate): a platform retry of this DELETE
      // against the same snapshot replays the same epoch (ledger no-op);
      // a user re-running it sees no surviving victims and no-ops above
      val seed = s"delete:v${snap.version}:${filters.map(_.toString).sorted.mkString("&")}"
      val sb = seed.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val epoch = graft.functions.Hashing.hashBytes(sb, 0, sb.length, 0xDE1E7EL)
      new graft.merge.MergeInto(table, numBuckets = snap.numBuckets,
        saltBuckets = 2, recordMeta = false).apply(events, epoch): Unit
    } finally victims.unpersist(blocking = false): Unit
  }
}

/** V1 `Filter` → `Column` translation for the delete path. `None` marks a
  * predicate shape we cannot evaluate — `canDeleteWhere` then refuses and
  * Spark reports the unsupported condition instead of mis-deleting. */
private[dsv2] object FilterToColumn {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case Or(l, r) => for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case Not(c) => translate(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }
}

final class GraftScanBuilder(root: String, snapshot: graft.lake.Snapshot,
                             visibleSchema: StructType,
                             options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  ReadOpts.validate(options) // catalog reads carry options that getTable never saw
  ReadOpts.checkChangesFrom(options, root, snapshot)

  private var required: StructType = visibleSchema
  private var repoEq: Option[String] = None
  private var pathEq: Option[String] = None
  private var lsnLowerBound: Option[Long] = None // exclusive bound (>= x → > x-1)
  private var residual: Array[Filter] = Array.empty
  // set when a whole aggregation is answered from the manifest:
  // (output column name, value or null) per aggregate expression
  private var pushedAgg: Option[Seq[(String, Any)]] = None

  /** `SELECT count(*)` answered from MANIFEST stats — zero data files
    * opened (the metadata-only count the reference's index header serves,
    * place_index.rs:107-145). Sound only when the manifest knows every
    * file's live-row count (`nLive`, recorded at commit), the scan is the
    * plain current/time-travel state (not a CDC range), and there are no
    * filters — Spark only attempts aggregate pushdown when all filters
    * were consumed, and this builder keeps every filter residual, so the
    * no-filter invariant is structural; `residual.isEmpty` re-checks it. */
  // lazy: evaluated at most once per query (Spark probes it up to three
  // times — supportCompletePushDown, pushAggregation, build — and each
  // evaluation walks the full manifest). Safe to cache: snapshot and
  // options are immutable, and by the time aggregates are pushed the
  // filter set is final (filters push before aggregates).
  private lazy val manifestCount: Option[Long] = {
    if (residual.nonEmpty || options.containsKey("changesFrom")) None
    else {
      val fs = snapshot.allFiles
      if (options.getBoolean("includeTombstones", false))
        if (fs.forall(_.hasStats)) Some(fs.map(_.nKeys).sum) else None
      else if (fs.forall(_.nLive >= 0L)) Some(fs.map(_.nLive).sum)
      else None
    }
  }
  /** MIN/MAX(lsn) from manifest stats — the same zero-IO answer as
    * COUNT(*), with a stricter soundness gate: per-file lsn ranges cover
    * ALL rows including tombstones, while a plain read hides them — a
    * tombstone holding the extreme lsn would make the stats answer wrong.
    * So the push fires only when the scan surfaces tombstones
    * (`includeTombstones`) or no planned file contains any
    * (`nLive == nKeys` everywhere — e.g. an insert-only table). */
  private lazy val manifestMinMaxOk: Boolean =
    residual.isEmpty && !options.containsKey("changesFrom") && {
      val fs = snapshot.allFiles
      fs.forall(_.hasStats) &&
        (options.getBoolean("includeTombstones", false) ||
          fs.forall(f => f.nLive == f.nKeys))
    }
  private def lsnExtreme(isMin: Boolean): Any = {
    val fs = snapshot.allFiles.filter(_.nKeys > 0)
    if (fs.isEmpty) null // min/max over zero rows is NULL
    else java.lang.Long.valueOf(
      if (isMin) fs.map(_.minLsn).min else fs.map(_.maxLsn).max)
  }
  private def isLsnRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case n: org.apache.spark.sql.connector.expressions.NamedReference =>
        n.fieldNames.length == 1 && n.fieldNames()(0) == "lsn"
      case _ => false
    }
  /** (name, value) per aggregate expression when EVERY one is answerable
    * from the manifest; None otherwise. */
  private def aggValues(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[(String, Any)]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.groupByExpressions.nonEmpty || agg.aggregateExpressions.isEmpty ||
        limitRows.nonEmpty) return None // aggregates over LIMIT k are k-bounded
    val vs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => manifestCount.map(c => ("count(*)", c: Any))
      case m: Min if isLsnRef(m.column) && manifestMinMaxOk =>
        Some(("min(lsn)", lsnExtreme(isMin = true)))
      case m: Max if isLsnRef(m.column) && manifestMinMaxOk =>
        Some(("max(lsn)", lsnExtreme(isMin = false)))
      case _ => None
    }
    if (vs.forall(_.isDefined)) Some(vs.flatten) else None
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggValues(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggValues(agg) match {
      case Some(vs) => pushedAgg = Some(vs); true
      case None => false
    }
  }

  /** LIMIT k planned as a FILE-PREFIX scan: a limit promises an arbitrary
    * k-row subset, and the manifest knows each file's live-row count, so
    * it suffices to plan the first files whose counts sum to ≥ k —
    * `LIMIT 10` on a million-file table opens one file. Partial push
    * (Spark still cuts to exactly k); sound only when every surviving
    * row of a planned file is emitted, i.e. no filters and no CDC range
    * — otherwise refused and the scan plans normally. */
  private var limitRows: Option[Int] = None
  override def pushLimit(l: Int): Boolean = {
    if (residual.nonEmpty || options.containsKey("changesFrom")) return false
    limitRows = Some(l)
    true
  }

  private def limitPrefix(files: Seq[FileEntry]): Seq[FileEntry] = limitRows match {
    case Some(k) =>
      val rowsOf: FileEntry => Long =
        if (options.getBoolean("includeTombstones", false)) _.nKeys else _.nLive
      if (files.exists(rowsOf(_) < 0L)) files // a file without stats: no pruning
      else {
        val ordered = files.sortBy(f => (f.bucket, f.relPath))
        val cum = ordered.map(rowsOf).scanLeft(0L)(_ + _)
        ordered.take(cum.segmentLength(_ < k, 1) + 1) // first prefix reaching k (≤ all)
      }
    case None => files
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case EqualTo("repo", v: String) => repoEq = Some(v)
      case EqualTo("path", v: String) => pathEq = Some(v)
      case GreaterThan("lsn", v: Long) =>
        lsnLowerBound = Some(math.max(lsnLowerBound.getOrElse(Long.MinValue), v))
      case GreaterThanOrEqual("lsn", v: Long) if v != Long.MinValue =>
        // v == MinValue is tautological and v - 1 would wrap to MaxValue,
        // flipping "keep everything" into "prune everything"
        lsnLowerBound = Some(math.max(lsnLowerBound.getOrElse(Long.MinValue), v - 1))
      case _ => ()
    }
    // pruning is partial (file granularity) — every filter stays residual
    residual = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = {
    pushedAgg.foreach(vs => return new GraftAggScan(vs))
    // Batch CDC read: `option("changesFrom", v)` emits the rows CHANGED
    // after version v up to `changesTo`/current — the batch twin of the
    // streaming source (same manifest-driven planning via GraftChanges:
    // only files added in the range, hw-bounded rows; a compaction-only
    // range reads zero data files). Emitted rows are per-key upserts at
    // their lsn; pair with includeTombstones for deletes.
    val (all, changeBound) = ReadOpts.changesFrom(options) match {
      case Some(v) =>
        GraftChanges.entriesAfter(
          new LakeTable(SparkSession.active, root).forBranch(BranchOpt.of(options)),
          v, snapshot)
      case None => (snapshot.allFiles, Long.MinValue)
    }
    val bucketed = repoEq match {
      case Some(repo) =>
        val bucket = GraftScanBuilder.bucketOf(repo, snapshot.numBuckets)
        all.filter(_.bucket == bucket)
      case None => all
    }
    val rowBound = math.max(changeBound, lsnLowerBound.getOrElse(Long.MinValue))
    val statsFiltered =
      if (rowBound == Long.MinValue) bucketed
      else bucketed.filter(f => !f.hasStats || f.maxLsn > rowBound)
    // file-level KEY pruning: manifest-recorded (repo, path) min/max (in
    // parquet's unsigned UTF-8 byte order) drop whole files a point lookup
    // cannot match. This bites on compaction's KEY-DISJOINT range splits —
    // a big bucket compacted under the byte budget plans exactly ONE file
    // for a point lookup, and an absent key plans zero; the merge's
    // hash-salted files have overlapping ranges and survive (row-group
    // stats bound IO inside them). Files without key stats (legacy
    // manifests) always survive; every filter stays residual, so pruning
    // is a pure reduction.
    val keyFiltered =
      if (repoEq.isEmpty && pathEq.isEmpty) statsFiltered
      else statsFiltered.filter(_.mayContain(repoEq.orNull, pathEq.orNull))
    val files = limitPrefix(keyFiltered)
    new GraftScan(root, snapshot.schema, required, files,
      bucketPruned = repoEq.isDefined, statsPruned = bucketed.size - statsFiltered.size,
      keyPruned = statsFiltered.size - keyFiltered.size,
      options = options, rowBound = rowBound,
      repoEq = repoEq.orNull, pathEq = pathEq.orNull,
      numBuckets = snapshot.numBuckets)
  }
}

/** The completely-pushed-down `COUNT(*)`: a driver-local one-row scan —
  * Spark plans it as a LocalTableScan, so the query touches no data file
  * and launches no task. */
/** One-row LocalScan answering a fully-pushed aggregation (count(*) /
  * min(lsn) / max(lsn)) from manifest stats — zero data files, zero
  * tasks. Null values (extremes over an empty table) surface as SQL
  * NULL. */
final class GraftAggScan(values: Seq[(String, Any)]) extends LocalScan {
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      values.map(_._2).toArray))
  override def readSchema(): StructType = StructType(
    values.zipWithIndex.map { case ((name, v), i) =>
      org.apache.spark.sql.types.StructField(
        if (values.map(_._1).indexOf(name) == i) name else s"${name}_$i",
        org.apache.spark.sql.types.LongType, nullable = v == null)
    })
  override def description(): String =
    s"graft manifest agg ${values.map { case (n, v) => s"$n=$v" }.mkString(", ")}"
}

object GraftScanBuilder {
  /** Driver-side replica of the engine's bucket expression
    * `pmod(xxhash64(repo), numBuckets)` (MergeInto.bucketExpr). */
  def bucketOf(repo: String, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.graftx.Bridge.xxhash64(repo)
    val m = h % numBuckets
    (if (m < 0) m + numBuckets else m).toInt
  }
}

final case class GraftInputPartition(absPath: String,
                                     lsnLowerExclusive: Long = Long.MinValue,
                                     /** Byte range of the split: parquet
                                       * row groups whose midpoint falls in
                                       * [rangeStart, rangeEnd) belong to
                                       * this partition (Spark's own
                                       * parquet split rule). */
                                     rangeStart: Long = 0L,
                                     rangeEnd: Long = Long.MaxValue,
                                     /** Key-equality predicates pushed into
                                       * parquet row-group skipping (null =
                                       * none). Merge output is sorted by
                                       * (repo, path) within each file, so
                                       * footer min/max make point lookups
                                       * touch 1-2 row groups, not the whole
                                       * bucket — the reference's index-side
                                       * row-group pruning. */
                                     repoEq: String = null,
                                     pathEq: String = null,
                                     /** The file's hash bucket — the
                                       * partition key for storage-
                                       * partitioned joins. */
                                     bucket: Int = -1)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

object GraftSplit {
  val DefaultMaxSplitBytes: Long = 128L * 1024 * 1024

  /** One partition per ≤maxSplitBytes byte range: partition granularity is
    * bounded by BYTES, not file count, so a compacted ~GB bucket file
    * fans out across tasks instead of serializing into one. Files without
    * a recorded size (legacy manifests) stay single-partition. Ranges
    * tile [0, nBytes) disjointly, so every row-group midpoint lands in
    * exactly one split. */
  def partitions(root: String, files: Seq[FileEntry], bound: Long,
                 maxSplitBytes: Long,
                 repoEq: String = null, pathEq: String = null): Array[InputPartition] = {
    // 0 divides by zero below; a negative cap would make (0 until n) empty
    // and silently DROP every over-cap file from the scan
    require(maxSplitBytes > 0L, s"maxSplitBytes must be positive, got $maxSplitBytes")
    files.flatMap { f =>
      val abs = s"$root/${f.relPath}"
      if (f.nBytes > maxSplitBytes) {
        val n = ((f.nBytes + maxSplitBytes - 1) / maxSplitBytes).toInt
        val step = (f.nBytes + n - 1) / n
        (0 until n).map { i =>
          val start = i.toLong * step
          val end = if (i == n - 1) Long.MaxValue else start + step
          GraftInputPartition(abs, bound, start, end, repoEq, pathEq, f.bucket)
        }
      } else
        Seq(GraftInputPartition(abs, bound, repoEq = repoEq, pathEq = pathEq,
          bucket = f.bucket))
    }.toArray
  }
}

final class GraftScan(root: String, physicalSchema: StructType, required: StructType,
                      initialFiles: Seq[FileEntry], bucketPruned: Boolean, statsPruned: Int,
                      keyPruned: Int = 0,
                      options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
                      /** Exclusive row-level lsn bound (Long.MinValue =
                        * none): pushed into parquet row-group skipping and
                        * enforced per row — carried copy-on-write rows
                        * inside mixed files never surface in a changes
                        * read. */
                      rowBound: Long = Long.MinValue,
                      /** Key equality pushed into parquet row-group
                        * skipping (null = none). */
                      repoEq: String = null, pathEq: String = null,
                      numBuckets: Int = -1)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning {
  /** Shrinks under runtime filtering; statistics follow. */
  private var files: Seq[FileEntry] = initialFiles
  private var runtimePruned: Int = 0
  private def includeTombstones = options.getBoolean("includeTombstones", false)
  private val maxSplitBytes = ReadOpts.maxSplitBytes(options)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft files=${files.size} bucketPruned=$bucketPruned statsPruned=$statsPruned " +
      s"keyPruned=$keyPruned " +
      s"runtimePruned=$runtimePruned " +
      s"keyFilter=${Seq(Option(repoEq).map(r => s"repo=$r"),
        Option(pathEq).map(p => s"path=$p")).flatten.mkString("&")} " +
      s"cols=${required.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    GraftSplit.partitions(root, files, rowBound, maxSplitBytes, repoEq, pathEq)

  /** The table's layout as a partitioning CONTRACT: every partition this
    * scan plans holds rows of exactly one `bucket(numBuckets, repo)`
    * value (files never span buckets; byte-range splits inherit their
    * file's bucket). With `spark.sql.sources.v2.bucketing.enabled` Spark
    * groups the splits per bucket and resolves the transform through the
    * catalog's [[GraftBucketFunction]] — so a join of two graft tables
    * with the same bucket count on `repo` (or a groupBy over it) runs
    * with ZERO shuffle on the graft sides: the 100-TB fact-to-fact join
    * that would otherwise move both tables over the network. Scans
    * outside a catalog (plain `format("graft")`) can't resolve the
    * function and Spark falls back to normal shuffling — a graceful
    * no-op, never a wrong plan.
    *
    * Reported ONLY while `repo` survives column pruning: consumers
    * (PartitionPruning.getFilterableTableScan, V2ExpressionUtils
    * .resolveRefs) resolve the transform's reference against the scan
    * OUTPUT and throw on a pruned-away column — a scan projecting other
    * columns must report unknown instead. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (numBuckets > 0 && files.nonEmpty &&
        required.fieldNames.exists(_.equalsIgnoreCase("repo")))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .bucket(numBuckets, "repo")),
        files.map(_.bucket).distinct.size)
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** Manifest-only statistics over the files that SURVIVED pruning, so
    * Spark's join planning sees the size of what will actually be read:
    * a `repo =`-pruned scan of a huge table reports one bucket's bytes
    * and auto-broadcasts where a naive estimate would sort-merge.
    * `numRows` counts physical rows (tombstones included — an upper
    * bound, which is the safe direction for broadcast decisions).
    * Legacy entries without recorded sizes report empty → Spark falls
    * back to its own conservative default. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      if (files.forall(_.nBytes >= 0L))
        java.util.OptionalLong.of(files.map(_.nBytes).sum)
      else java.util.OptionalLong.empty()
    override def numRows(): java.util.OptionalLong =
      if (files.forall(_.hasStats))
        java.util.OptionalLong.of(files.map(_.nKeys).sum)
      else java.util.OptionalLong.empty()
  }

  /** Runtime (dynamic) bucket pruning: when this scan sits under a join
    * whose other side is small, Spark collects the join-key values at
    * runtime and hands them back here — `repo IN (...)` prunes to the
    * matching hash buckets BEFORE any task launches, the DSv2 twin of
    * dynamic partition pruning. Unrecognized filter shapes are ignored
    * (pruning is a pure reduction; row-level semantics are unchanged
    * because Spark re-applies the join itself). */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only while `repo` SURVIVES column pruning: PartitionPruning resolves
    // these refs against the scan OUTPUT (V2ExpressionUtils.resolveRefs)
    // and throws on a pruned-away column — a join keyed on other columns
    // must simply not offer runtime filtering
    if (numBuckets > 0 && required.fieldNames.exists(_.equalsIgnoreCase("repo")))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("repo"))
    else Array.empty
  override def filter(filters: Array[Filter]): Unit = {
    def asRepo(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None // unexpected runtime type: MUST NOT prune on a guess
    }
    val repos: Option[Seq[String]] = filters.collectFirst {
      case org.apache.spark.sql.sources.In("repo", vs) => vs.toSeq.map(asRepo)
      case EqualTo("repo", v) => Seq(asRepo(v))
    }.flatMap(os => if (os.forall(_.isDefined)) Some(os.flatten.toSeq) else None)
    repos.filter(_ => numBuckets > 0).foreach { vs =>
      val keep = vs.map(GraftScanBuilder.bucketOf(_, numBuckets)).toSet
      val before = files.size
      files = files.filter(f => keep(f.bucket))
      runtimePruned += before - files.size
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(physicalSchema, required, includeTombstones)
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(root, physicalSchema, required,
      includeTombstones = includeTombstones,
      startingVersion = ReadOpts.startingVersion(options),
      maxVersionsPerTrigger = ReadOpts.maxVersionsPerTrigger(options),
      maxBytesPerTrigger = ReadOpts.maxBytesPerTrigger(options),
      maxSplitBytes = maxSplitBytes,
      branch = BranchOpt.of(options))
}
