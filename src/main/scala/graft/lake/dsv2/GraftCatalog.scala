package graft.lake.dsv2

import java.util.{Iterator => JIterator}

import graft.lake.{CommitSummary, EnrichedView, InlineFiles, LakeTable, Maintenance, MaterializedView, Snapshot, ViewDef}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.{broadcast, col, expr}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL-surfaced table maintenance via Spark 4 stored procedures:
  *
  * {{{
  *   spark.sql.catalog.graft = graft.lake.dsv2.GraftCatalog
  *
  *   CALL graft.system.compact(path => '/lake/t', max_files_per_bucket => 4)
  *   CALL graft.system.vacuum('/lake/t', 86400000)
  *   CALL graft.system.rebucket('/lake/t', 64)
  *   CALL graft.system.refresh_view('/lake/t', 'per_repo', 'repo',
  *                                  'bytes:length(content)')
  * }}}
  *
  * Each procedure runs the same engine entry point the Scala API exposes
  * (`Maintenance.compact/vacuum/rebucket`, `MaterializedView.refresh`)
  * and returns a one-row result set. `refresh_view` takes the grouping
  * columns comma-separated and the summed measures as
  * `name:sql-expression` pairs separated by `;` — the sum-class
  * (self-maintainable) aggregate surface of [[ViewDef]] in SQL form. */
class GraftCatalog extends CatalogPlugin with ProcedureCatalog with TableCatalog
    with org.apache.spark.sql.connector.catalog.SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catalogName: String = _
  private var warehouse: Option[String] = None
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
  }
  override def name(): String = catalogName

  private val procNames =
    Array("compact", "vacuum", "rebucket", "refresh_view", "expire_snapshots", "history",
      "rollback", "revert", "create_tag", "drop_tag", "list_tags",
      "create_branch", "fast_forward", "drop_branch", "list_branches",
      "replay_quarantine", "refresh_enriched_view",
      // the training-data pipeline kernels (ops.DedupOps / ops.TextOps),
      // SQL-callable so ingest → dedup → sample → pack composes without
      // Scala: each reads a lake table (or plain parquet dir), runs the
      // distributed kernel, writes a parquet output, returns stats
      "dedup_pairs", "dedup_assign", "sample_stratified", "sample_pps",
      "pack_sequences")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procNames.map(Identifier.of(Array("system"), _))

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val n = ident.name.toLowerCase
    require(procNames.contains(n),
      s"unknown procedure $n (have: ${procNames.mkString(", ")})")
    new GraftProcedure(n)
  }

  // ---- FunctionCatalog: the layout's bucket transform -------------------
  // Spark resolves the `bucket(n, repo)` transform each graft scan reports
  // (storage-partitioned joins) through here; the empty namespace is where
  // V2ExpressionUtils looks transform functions up.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket")) else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // ---- TableCatalog: lake tables under `warehouse` ----------------------
  // `CREATE TABLE g.db.t (...) TBLPROPERTIES ('buckets'='16')`,
  // `INSERT INTO g.db.t ...` (upsert-merge), `SELECT ... FROM g.db.t`
  // incl. `VERSION AS OF n` time travel, `DROP TABLE`.

  private def spark = SparkSession.active
  private def hfs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathOf(ident: Identifier): String = {
    val wh = warehouse.getOrElse(throw new IllegalStateException(
      s"catalog $catalogName has no 'warehouse' option; set " +
        s"spark.sql.catalog.$catalogName.warehouse"))
    val parts = ident.namespace.toSeq :+ ident.name
    // same rule as LakeTable.validRefName: the charset regex alone admits
    // "." and "..", which as path segments escape the warehouse — DROP
    // TABLE g.`..` would otherwise fs.delete the warehouse's PARENT
    parts.foreach(p => require(graft.lake.LakeTable.validRefName(p),
      s"bad identifier part: $p"))
    (wh +: parts).mkString("/")
  }

  private def snapshotIfAny(path: String): Option[Snapshot] =
    new LakeTable(spark, path).currentSnapshot()

  private def toTable(path: String, snap: Snapshot): Table = {
    val visible = StructType(snap.schema.fields.filterNot(_.name == LakeTable.DeletedCol))
    new GraftTable(path, snap, visible,
      new CaseInsensitiveStringMap(java.util.Collections.singletonMap("path", path)))
  }

  override def tableExists(ident: Identifier): Boolean =
    snapshotIfAny(pathOf(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    toTable(path, snapshotIfAny(path).getOrElse(throw new NoSuchTableException(ident)))
  }

  /** SQL `VERSION AS OF <n>` time travel; a non-numeric version string
    * resolves as a TAG name first, then as a BRANCH head (`VERSION AS OF
    * 'audit'` reads the staged write-audit-publish state) — tags win a
    * name collision because they are immutable pins, a branch head moves. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    if (snapshotIfAny(path).isEmpty) throw new NoSuchTableException(ident)
    val t = new LakeTable(spark, path)
    val snap =
      if (version.matches("\\d+")) t.snapshotAt(version.toLong)
      else t.tagVersion(version) match {
        case Some(v) => t.snapshotAt(v)
        case None => t.forBranch(version).currentSnapshot().getOrElse(
          throw new IllegalArgumentException(
            s"no tag or branch '$version' at $path"))
      }
    toTable(path, snap)
  }

  /** SQL `TIMESTAMP AS OF <t>` time travel: the highest version whose
    * snapshot was committed at or before `timestamp` (micros since epoch —
    * commit time IS the snapshot file's mtime; the rename that publishes
    * it is the only commit point). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathOf(ident)
    if (snapshotIfAny(path).isEmpty) throw new NoSuchTableException(ident)
    val t = new LakeTable(spark, path)
    val tsMillis = timestamp / 1000L
    val v = t.snapshotVersions().filter(v => t.snapshotMtime(v) <= tsMillis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"no snapshot of $ident at or before timestamp ${tsMillis}ms"))
    toTable(path, t.snapshotAt(v))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = new Path((warehouse.getOrElse(return Array.empty) +: namespace.toSeq).mkString("/"))
    val f = hfs(base)
    if (!f.exists(base)) return Array.empty
    f.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => f.exists(new Path(base, s"$n/_snapshots")))
      .map(Identifier.of(namespace, _))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables are hash-bucketed by repo; PARTITIONED BY is not supported " +
        "(set TBLPROPERTIES ('buckets'='N') instead)")
    val path = pathOf(ident)
    if (snapshotIfAny(path).isDefined) throw new TableAlreadyExistsException(ident)
    val numBuckets = Option(properties.get("buckets")).map(_.toInt).getOrElse(16)
    schema.fields.foreach(f => GraftCatalog.requireReadableType(f.name, f.dataType))
    val physical = StructType(schema.fields.filterNot(_.name == LakeTable.DeletedCol))
      .add(StructField(LakeTable.DeletedCol, BooleanType, nullable = false))
    // an empty v0: the first INSERT/merge initializes the high-water mark
    new LakeTable(spark, path).commitSnapshot(Snapshot(
      version = 0L, schemaVersion = 1, schema = physical, numBuckets = numBuckets,
      epochs = Set.empty, filesRef = InlineFiles(Seq.empty)), CommitSummary("create"))
    loadTable(ident)
  }

  /** SQL DDL schema evolution, under exactly the registry rules merges
    * enforce (add-nullable / widen — graft.schema.SchemaRegistry.evolve):
    * `ALTER TABLE t ADD COLUMN c TYPE`, `ALTER COLUMN c TYPE wider`, and
    * `RENAME COLUMN a TO b` (stable-field-id model — the field keeps its
    * `graft.id`; the old name becomes an alias era readers resolve
    * against old files, see graft.schema.FieldIds). The commit is
    * METADATA-ONLY — a successor snapshot carrying every file untouched
    * (split-manifest groups by reference), so altering a 100-TB table
    * moves no data: old files read through the tolerant reader (absent
    * column → null, narrow physical type → upcast, era name → current
    * name), and CDC readers see an empty commit range. Declares evolution
    * AHEAD of data arriving — the complement of merge-time evolution,
    * which infers it FROM arriving data. Everything else (DROP COLUMN
    * would strand committed data, nullability tightening breaks old rows,
    * renaming an engine key column would break bucketing/stats) is
    * rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    import graft.schema.FieldIds
    val path = pathOf(ident)
    val t = new LakeTable(spark, path)
    // names are reserved the way Spark resolves them: `foo` and `FOO` are
    // one column to a case-insensitive session
    val norm: String => String =
      if (org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis) identity
      else _.toLowerCase(java.util.Locale.ROOT)
    var attempts = 0
    while (true) {
      val snap = t.currentSnapshot().getOrElse(throw new NoSuchTableException(ident))
      val visible = StructType(snap.schema.fields.filterNot(_.name == LakeTable.DeletedCol))
      // renames first (identity-preserving), then the add/widen delta
      // against the renamed shape — so one statement mixing both resolves
      // names consistently
      val current = changes.collect { case rn: TableChange.RenameColumn => rn }
        .foldLeft(visible) { (schema, rn) =>
          require(rn.fieldNames().length == 1,
            s"nested RENAME COLUMN is not supported: ${rn.fieldNames().mkString(".")}")
          val old = rn.fieldNames()(0)
          val nw = rn.newName()
          require(schema.fieldNames.contains(old), s"no column $old to rename")
          require(!GraftCatalog.RenameReserved.contains(old) && old != LakeTable.DeletedCol,
            s"column $old is an engine key column (bucketing/merge/stats are " +
              "keyed on it) and cannot be renamed")
          require(nw.nonEmpty && nw != LakeTable.DeletedCol,
            s"'$nw' is not a valid column name")
          // a name, once used by ANY OTHER field (live or former), is
          // reserved forever — reusing it would put two logical columns
          // under one name inside committed files of different eras
          val others = schema.fields.filterNot(_.name == old)
          val taken = (others.flatMap(f => f.name +: FieldIds.aliases(f)) ++
            GraftCatalog.RenameReserved).map(norm).toSet
          require(!taken.contains(norm(nw)),
            s"column name $nw is already in use (as a live column, a former " +
              "name, or an engine key)")
          StructType(schema.fields.map(f =>
            if (f.name == old) FieldIds.rename(f, nw) else f))
        }
      val incoming = changes.collect {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1,
            s"nested ADD COLUMN is not supported: ${add.fieldNames().mkString(".")}")
          val name = add.fieldNames()(0)
          require(name != LakeTable.DeletedCol, s"'$name' is a reserved column")
          require(add.isNullable,
            s"new column $name must be nullable (rows committed before the " +
              "ALTER have no value for it)")
          require(add.dataType() != NullType, s"new column $name needs a real type")
          require(!FieldIds.allNames(current).map(norm).contains(norm(name)),
            s"column name $name is already in use (live or as a former name)")
          GraftCatalog.requireReadableType(name, add.dataType())
          StructField(name, add.dataType(), nullable = true)
        case up: TableChange.UpdateColumnType =>
          require(up.fieldNames().length == 1,
            s"nested ALTER COLUMN is not supported: ${up.fieldNames().mkString(".")}")
          val name = up.fieldNames()(0)
          require(current.fieldNames.contains(name), s"no column $name to alter")
          StructField(name, up.newDataType(), current(name).nullable)
        case other if !other.isInstanceOf[TableChange.RenameColumn] =>
          throw new UnsupportedOperationException(
            s"unsupported ALTER TABLE change $other: graft supports ADD COLUMN " +
              "(nullable), ALTER COLUMN TYPE (widening only), and RENAME COLUMN")
      }
      // the registry rules on the delta; it ACCEPTS a narrower incoming
      // type (old-producer tolerance on the merge path), so explicit DDL
      // additionally demands the result actually took the requested type
      val evolved = graft.schema.SchemaRegistry.evolve(current, StructType(incoming))
      incoming.foreach { f =>
        require(evolved(f.name).dataType == f.dataType,
          s"illegal schema evolution for column ${f.name}: " +
            s"${current(f.name).dataType.simpleString} -> ${f.dataType.simpleString} " +
            "(only widening is supported)")
      }
      // re-append the STORED tombstone field (it carries its assigned
      // graft.id — a fresh StructField would defeat the idempotency check)
      val physical = evolved.add(snap.schema.fields.find(_.name == LakeTable.DeletedCol)
        .getOrElse(StructField(LakeTable.DeletedCol, BooleanType, nullable = false)))
      if (physical == snap.schema) return loadTable(ident) // idempotent no-op
      try {
        t.commitSnapshot(Snapshot(
          version = snap.version + 1,
          schemaVersion = snap.schemaVersion + 1,
          schema = physical,
          numBuckets = snap.numBuckets,
          epochs = snap.epochs,
          filesRef = t.successorFiles(snap, Set.empty, Seq.empty),
          highWaterLsn = snap.highWaterLsn,
          unorderedCommits = snap.unorderedCommits), CommitSummary("alter"))
        return loadTable(ident)
      } catch {
        // a concurrent writer landed this version: rebase on the fresh
        // snapshot and re-apply (the DDL is metadata-only, so the rebase
        // is just a reload)
        case e: graft.lake.CommitConflictException =>
          attempts += 1
          if (attempts > 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = new Path(pathOf(ident))
    val f = hfs(path)
    f.exists(path) && f.delete(path, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = new Path(pathOf(from))
    val dst = new Path(pathOf(to))
    val f = hfs(src)
    if (!f.exists(src)) throw new NoSuchTableException(from)
    if (f.exists(dst)) throw new TableAlreadyExistsException(to)
    f.mkdirs(dst.getParent)
    require(f.rename(src, dst), s"rename $src -> $dst failed")
  }

  // ---- SupportsNamespaces: directories under the warehouse --------------
  // A namespace is a warehouse directory that is not itself a table
  // (tables are marked by their `_snapshots` dir).

  private def nsPath(ns: Array[String]): Path = {
    // "."/".." excluded for the same traversal reason as pathOf
    ns.foreach(p => require(graft.lake.LakeTable.validRefName(p),
      s"bad namespace part: $p"))
    new Path((warehouse.getOrElse(throw new IllegalStateException(
      s"catalog $catalogName has no 'warehouse' option")) +: ns.toSeq).mkString("/"))
  }

  private def isTableDir(f: org.apache.hadoop.fs.FileSystem, p: Path): Boolean =
    f.exists(new Path(p, "_snapshots"))

  override def namespaceExists(ns: Array[String]): Boolean = {
    val p = nsPath(ns)
    val f = hfs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory && !isTableDir(f, p)
  }

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(parent: Array[String]): Array[Array[String]] = {
    if (parent.nonEmpty && !namespaceExists(parent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(parent)
    val base = nsPath(parent)
    val f = hfs(base)
    if (!f.exists(base)) return Array.empty
    f.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .filterNot(p => isTableDir(f, p))
      .map(p => parent :+ p.getName)
  }

  override def loadNamespaceMetadata(ns: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(ns))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(ns)
    java.util.Collections.singletonMap("location", nsPath(ns).toString)
  }

  override def createNamespace(ns: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    if (namespaceExists(ns))
      throw new org.apache.spark.sql.catalyst.analysis.NamespaceAlreadyExistsException(ns)
    hfs(nsPath(ns)).mkdirs(nsPath(ns)): Unit
  }

  override def alterNamespace(ns: Array[String],
      changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata to alter")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) return false
    val p = nsPath(ns)
    val f = hfs(p)
    if (!cascade && f.listStatus(p).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(ns)
    f.delete(p, cascade)
  }
}

private final class GraftProcedure(procName: String)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = procName
  override def description(): String = procName match {
    case "compact" => "rewrite buckets exceeding max_files_per_bucket into one file each"
    case "vacuum" => "delete unreferenced data/manifest artifacts older than retention_ms"
    case "rebucket" => "rewrite the table into a new hash-bucket count"
    case "refresh_view" => "create or incrementally refresh a sum-class materialized view"
    case "expire_snapshots" =>
      "expire versions beyond keep_last and older_than_ms; reclaim their exclusive storage"
    case "history" =>
      "one row per retained snapshot: version, commit time, buckets, files, bytes, rows, " +
        "high-water lsn, and what the commit did (operation, epoch, merge counters, phase ms)"
    case "rollback" =>
      "publish a new snapshot restoring the state of an earlier version (metadata-only)"
    case "revert" =>
      "merge compensating forward events returning the visible state to an earlier version"
    case "create_tag" => "pin a committed version under an immutable name (-1 = current)"
    case "drop_tag" => "remove a tag, releasing its version to expiry"
    case "list_tags" => "one row per tag: name, version"
    case "create_branch" =>
      "fork a write-audit-publish branch at a version (-1 = current); metadata-only"
    case "fast_forward" =>
      "publish a branch onto main by fast-forward (fails loudly if histories diverged)"
    case "drop_branch" => "drop a branch lineage; vacuum reclaims its exclusive storage"
    case "list_branches" => "one row per branch: name, current version"
    case "replay_quarantine" =>
      "re-merge quarantined (repaired) events as one epoch; still-poison rows re-quarantine"
    case "refresh_enriched_view" =>
      "create or incrementally refresh an enrichment view (a derived lake table fed by the CDC stream)"
    case "dedup_pairs" =>
      "MinHash+LSH near-duplicate pairs (band-bucketed candidates, exact-jaccard verified) -> parquet"
    case "dedup_assign" =>
      "connected-component cluster ids over a dedup pair list (min-label + pointer jumping) -> parquet"
    case "sample_stratified" =>
      "deterministic per-stratum hash sample (mix64 bucket < per-128 rate; shuffle-free) -> parquet"
    case "sample_pps" =>
      "deterministic weighted (PPS) Bernoulli sample with Horvitz-Thompson weights -> parquet"
    case "pack_sequences" =>
      "GPT-style sequence packing: token prefix sums -> per-doc chunk spans (two-pass, no global window) -> parquet"
  }
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  private def in(n: String, t: DataType) = ProcedureParameter.in(n, t).build()
  private def inDefault(n: String, t: DataType, default: String) =
    ProcedureParameter.in(n, t).defaultValue(default).build()

  override def parameters(): Array[ProcedureParameter] = procName match {
    case "compact" => Array(in("path", StringType),
      inDefault("max_files_per_bucket", IntegerType, "4"))
    case "vacuum" => Array(in("path", StringType),
      inDefault("retention_ms", LongType, (24L * 3600 * 1000).toString))
    case "rebucket" => Array(in("path", StringType), in("num_buckets", IntegerType))
    case "refresh_view" => Array(in("path", StringType), in("view", StringType),
      in("group_cols", StringType), in("measures", StringType))
    case "expire_snapshots" => Array(in("path", StringType),
      inDefault("keep_last", IntegerType, "2"),
      inDefault("older_than_ms", LongType, (7L * 24 * 3600 * 1000).toString))
    case "history" => Array(in("path", StringType))
    case "rollback" => Array(in("path", StringType), in("version", LongType))
    case "revert" => Array(in("path", StringType), in("version", LongType))
    case "create_tag" => Array(in("path", StringType), in("name", StringType),
      inDefault("version", LongType, "-1"))
    case "drop_tag" => Array(in("path", StringType), in("name", StringType))
    case "list_tags" => Array(in("path", StringType))
    case "create_branch" => Array(in("path", StringType), in("name", StringType),
      inDefault("version", LongType, "-1"))
    case "fast_forward" => Array(in("path", StringType), in("branch", StringType))
    case "drop_branch" => Array(in("path", StringType), in("name", StringType))
    case "list_branches" => Array(in("path", StringType))
    case "replay_quarantine" => Array(in("path", StringType),
      inDefault("source", StringType, "''")) // '' = the current ledger's quarantine files
    case "refresh_enriched_view" => Array(in("path", StringType),
      in("view_path", StringType),
      inDefault("dim_path", StringType, "''"), // '' = no dimension join
      inDefault("join_cols", StringType, "'repo'"),
      inDefault("select", StringType, "''"), // name:expr;... beyond repo/path/lsn
      inDefault("num_buckets", IntegerType, "16"),
      inDefault("salt_buckets", IntegerType, "4"))
    case "dedup_pairs" => Array(in("path", StringType), in("out_path", StringType),
      inDefault("id_col", StringType, "'doc_id'"),
      inDefault("text_col", StringType, "'text'"))
    case "dedup_assign" => Array(in("pairs_path", StringType), in("out_path", StringType))
    case "sample_stratified" => Array(in("path", StringType), in("out_path", StringType),
      inDefault("id_col", StringType, "'doc_id'"),
      inDefault("stratum_col", StringType, "'lang'"),
      inDefault("default_per_128", IntegerType, "38"),
      inDefault("rates", StringType, "''")) // 'en:13;de:25' per-128 overrides
    case "sample_pps" => Array(in("path", StringType), in("out_path", StringType),
      inDefault("id_col", StringType, "'doc_id'"),
      inDefault("weight_col", StringType, "'n_chars'"),
      inDefault("scale", LongType, "2048")) // power of two
    case "pack_sequences" => Array(in("path", StringType), in("out_path", StringType),
      inDefault("id_col", StringType, "'doc_id'"),
      inDefault("tokens_col", StringType, "'n_tokens'"),
      inDefault("chunk_tokens", IntegerType, "512"),
      inDefault("range_width", LongType, "1024"))
  }

  /** Pipeline-procedure input: a graft lake table when `path` holds one
    * (visible state via read()), else a plain parquet directory — so
    * stages chain through either lake tables or intermediate parquet. */
  private def readAny(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val t = new LakeTable(spark, path)
    if (t.currentSnapshot().isDefined) t.read() else spark.read.parquet(path)
  }

  /** Write a pipeline stage's output and return its row count (one
    * cheap count over the written files — the stats row every stage
    * returns). */
  private def writeStage(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
                         out: String): Long = {
    df.write.mode("overwrite").option("compression", "zstd").parquet(out)
    spark.read.parquet(out).count()
  }

  override def call(input: InternalRow): JIterator[Scan] = {
    val spark = SparkSession.active
    def table = new LakeTable(spark, input.getString(0))
    if (procName == "history") {
      // the DESCRIBE HISTORY surface: one row per RETAINED snapshot,
      // newest first — commit time is the snapshot file's mtime (the
      // rename that publishes it is the only commit point). Stats come
      // from the manifest (no data files are opened), and what the commit
      // did from the summary it wrote into its own snapshot; a summary
      // expires with its snapshot (Delta's DESCRIBE HISTORY follows log
      // retention the same way). Columns a commit did not record (a
      // non-merge operation's counters, any field of a snapshot written
      // before summaries existed) are null. Cost is bounded by the
      // retention policy, and readers needing only the current version
      // never pay it.
      val t = table
      val counters = CommitSummary.MergeCounters
      val schema = StructType(Seq(
        StructField("version", LongType), StructField("committed_at_ms", LongType),
        StructField("num_buckets", IntegerType), StructField("files", IntegerType),
        StructField("bytes", LongType), StructField("rows", LongType),
        StructField("high_water_lsn", LongType), StructField("operation", StringType),
        StructField("epoch", LongType)) ++ counters.map(StructField(_, LongType)) :+
        StructField("phase_ms", MapType(StringType, LongType)))
      val rows = t.snapshotVersions().sorted.reverse.map { v =>
        val s = t.snapshotAt(v)
        val fs = s.allFiles
        val c = s.summary
        val phases = c.map(_.phaseMs).filter(_.nonEmpty).map { m =>
          val (ks, vs) = m.toSeq.sorted.unzip
          ArrayBasedMapData(ks.map(UTF8String.fromString).toArray, vs.toArray[Any])
        }
        new GenericInternalRow((Seq[Any](v, t.snapshotMtime(v), s.numBuckets,
          fs.size, fs.map(f => math.max(f.nBytes, 0L)).sum,
          fs.map(f => math.max(f.nKeys, 0L)).sum,
          s.highWaterLsn.map(Long.box).orNull,
          c.map(x => UTF8String.fromString(x.operation)).orNull,
          c.flatMap(_.epoch).map(Long.box).orNull) ++
          counters.map(k => c.flatMap(_.counters.get(k)).map(Long.box).orNull) :+
          phases.orNull).toArray): InternalRow
      }.toArray
      return java.util.Collections.singletonList[Scan](
        new GraftResultScan(schema, rows)).iterator()
    }
    if (procName == "list_branches") {
      val schema = StructType(Seq(
        StructField("name", StringType), StructField("version", LongType)))
      val rows = table.listBranches().map { case (n, v) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(n), v)): InternalRow
      }.toArray
      return java.util.Collections.singletonList[Scan](
        new GraftResultScan(schema, rows)).iterator()
    }
    if (procName == "list_tags") {
      val schema = StructType(Seq(
        StructField("name", StringType), StructField("version", LongType)))
      val rows = table.listTags().map { case (n, v) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(n), v)): InternalRow
      }.toArray
      return java.util.Collections.singletonList[Scan](
        new GraftResultScan(schema, rows)).iterator()
    }
    val (schema, row): (StructType, Seq[Any]) = procName match {
      case "dedup_pairs" =>
        val d = readAny(spark, input.getString(0)).select(
          col(input.getString(2)).as("doc_id"), col(input.getString(3)).as("text"))
        val n = writeStage(spark, graft.ops.DedupOps.minhashPairs(d), input.getString(1))
        (StructType(Seq(StructField("pairs_written", LongType))), Seq(n))
      case "dedup_assign" =>
        val pairs = readAny(spark, input.getString(0))
        val clusters = graft.ops.DedupOps.assignClusters(pairs)
        val n = writeStage(spark, clusters, input.getString(1))
        val nClusters = spark.read.parquet(input.getString(1))
          .where(col("is_canonical")).count()
        (StructType(Seq(StructField("docs_clustered", LongType),
          StructField("clusters", LongType))), Seq(n, nClusters))
      case "sample_stratified" =>
        val rates = Option(input.getString(5)).getOrElse("")
          .split(';').map(_.trim).filter(_.nonEmpty).map { kv =>
            val i = kv.indexOf(':')
            require(i > 0, s"rates must be stratum:per128;..., got '$kv'")
            kv.substring(0, i).trim -> kv.substring(i + 1).trim.toInt
          }.toMap
        val n = writeStage(spark, graft.ops.TextOps.hashStratifiedSample(
          readAny(spark, input.getString(0)), input.getString(2), input.getString(3),
          input.getInt(4), rates), input.getString(1))
        (StructType(Seq(StructField("rows_sampled", LongType))), Seq(n))
      case "sample_pps" =>
        val n = writeStage(spark, graft.ops.TextOps.ppsSample(
          readAny(spark, input.getString(0)), input.getString(2), input.getString(3),
          input.getLong(4)), input.getString(1))
        (StructType(Seq(StructField("rows_sampled", LongType))), Seq(n))
      case "pack_sequences" =>
        val packed = graft.ops.TextOps.packSequences(
          readAny(spark, input.getString(0)), input.getString(2), input.getString(3),
          input.getInt(4), input.getLong(5))
        val n = writeStage(spark, packed, input.getString(1))
        (StructType(Seq(StructField("docs_packed", LongType))), Seq(n))
      case "compact" =>
        val nBuckets = Maintenance.compact(table, input.getInt(1))
        (StructType(Seq(StructField("compacted_buckets", IntegerType))), Seq(nBuckets))
      case "vacuum" =>
        val removed = Maintenance.vacuum(table, input.getLong(1))
        (StructType(Seq(StructField("removed_artifacts", IntegerType))), Seq(removed.size))
      case "rebucket" =>
        val version = Maintenance.rebucket(table, input.getInt(1))
        (StructType(Seq(StructField("version", LongType))), Seq(version))
      case "refresh_enriched_view" =>
        // SQL-surface form of lake.EnrichedView: the enrichment is an
        // optional broadcast dimension join plus derived columns given
        // as name:expression pairs over the joined frame; repo/path/lsn
        // (the view key + LWW order) are always carried.
        val viewTable = new LakeTable(spark, input.getString(1))
        val dimPath = Option(input.getString(2)).getOrElse("")
        val joinCols = Option(input.getString(3)).getOrElse("")
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val derived = Option(input.getString(4)).getOrElse("")
          .split(';').map(_.trim).filter(_.nonEmpty).toSeq
          .map { m =>
            val i = m.indexOf(':')
            require(i > 0, s"select must be name:expression, got '$m'")
            m.substring(0, i).trim -> expr(m.substring(i + 1))
          }
        val enrich: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          rows => {
            // LEFT join: a dim miss must not drop the post-image (a
            // dropped row would leave the view's previous value live
            // forever) — missing enrichment columns become nulls
            val joined =
              if (dimPath.isEmpty) rows
              else rows.join(broadcast(spark.read.parquet(dimPath)), joinCols, "left")
            joined.select((Seq("repo", "path", "lsn").map(col) ++
              derived.map { case (n, e) => e.as(n) }): _*)
          }
        val stats = EnrichedView.refresh(table, viewTable, enrich,
          numBuckets = input.getInt(5), saltBuckets = input.getInt(6))
        (StructType(Seq(
          StructField("from_version", LongType),
          StructField("to_version", LongType),
          StructField("initial_full", BooleanType),
          StructField("no_op", BooleanType),
          StructField("keys_written", LongType),
          StructField("tombstones_written", LongType))),
          Seq(stats.fromVersion.map(Long.box).orNull, stats.toVersion,
            stats.initialFull, stats.noOp,
            stats.merge.map(m => Long.box(m.keysWritten)).getOrElse(Long.box(0L)),
            stats.merge.map(m => Long.box(m.tombstonesWritten)).getOrElse(Long.box(0L))))
      case "refresh_view" =>
        val groupCols = input.getString(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val sums = input.getString(3).split(';').map(_.trim).filter(_.nonEmpty).toSeq
          .map { m =>
            val i = m.indexOf(':')
            require(i > 0, s"measure must be name:expression, got '$m'")
            m.substring(0, i).trim -> expr(m.substring(i + 1))
          }
        val stats = MaterializedView.refresh(table,
          ViewDef(input.getString(1), groupCols, sums))
        (StructType(Seq(
          StructField("from_version", LongType),
          StructField("to_version", LongType),
          StructField("initial_full", BooleanType),
          StructField("no_op", BooleanType))),
          Seq(stats.fromVersion.map(Long.box).orNull, stats.toVersion,
            stats.initialFull, stats.noOp))
      case "expire_snapshots" =>
        val removed = Maintenance.expireSnapshots(table, input.getInt(1), input.getLong(2))
        (StructType(Seq(StructField("removed_artifacts", IntegerType))), Seq(removed.size))
      case "rollback" =>
        val version = Maintenance.rollback(table, input.getLong(1))
        (StructType(Seq(StructField("version", LongType))), Seq(version))
      case "revert" =>
        val version = Maintenance.revert(table, input.getLong(1))
        (StructType(Seq(StructField("version", LongType))), Seq(version))
      case "create_tag" =>
        val t = table
        val v = input.getLong(2) match {
          case -1L => t.currentSnapshot().getOrElse(
            throw new IllegalStateException("cannot tag an empty table")).version
          case explicit => explicit
        }
        t.createTag(input.getString(1), v)
        (StructType(Seq(StructField("version", LongType))), Seq(v))
      case "drop_tag" =>
        val dropped = table.dropTag(input.getString(1))
        (StructType(Seq(StructField("dropped", BooleanType))), Seq(dropped))
      case "create_branch" =>
        val t = table
        val v = input.getLong(2) match {
          case -1L => t.currentSnapshot().getOrElse(
            throw new IllegalStateException("cannot branch an empty table")).version
          case explicit => explicit
        }
        t.createBranch(input.getString(1), v)
        (StructType(Seq(StructField("version", LongType))), Seq(v))
      case "fast_forward" =>
        val v = table.fastForward(input.getString(1))
        (StructType(Seq(StructField("version", LongType))), Seq(v))
      case "drop_branch" =>
        val dropped = table.dropBranch(input.getString(1))
        (StructType(Seq(StructField("dropped", BooleanType))), Seq(dropped))
      case "replay_quarantine" =>
        // Closes the quarantine loop from SQL: read the (repaired) JSONL
        // rows and fold them through one ordinary LWW MERGE epoch. The
        // epoch id derives from the SOURCE's content fingerprint (file
        // names + sizes), so re-running over the same source is a ledger
        // skip, while a re-repaired source is a fresh epoch — and even a
        // forced duplicate replay converges (the lsn argmax is
        // idempotent over identical events). Rows still malformed after
        // "repair" simply re-quarantine. The original quarantine rows
        // are kept as an audit record. The default source is the files of
        // the epochs in the current ledger (`Meta.quarantineFiles`), never
        // the whole directory, which also holds the files of attempts that
        // did not publish; an older engine's quarantine files are replayed
        // by naming them as the `source`.
        val t = table
        val srcOpt = input.getString(1)
        val cur = t.currentSnapshot().getOrElse(
          throw new IllegalStateException(s"no snapshot at ${t.root}"))
        val byDefault = srcOpt == null || srcOpt.isEmpty
        val src = if (byDefault) s"${t.root}/meta/quarantine" else srcOpt
        val srcPath = new org.apache.hadoop.fs.Path(src)
        val srcFs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val srcFiles =
          if (byDefault) graft.merge.Meta.quarantineFiles(t).toArray
          else if (!srcFs.exists(srcPath)) Array.empty[org.apache.hadoop.fs.FileStatus]
          else srcFs.listStatus(srcPath).filter(_.isFile)
        if (srcFiles.isEmpty) {
          // nothing ever quarantined (or an empty repair dir): clean no-op
          val schema0 = StructType(Seq(
            StructField("version", LongType),
            StructField("events_in", LongType),
            StructField("quarantined_again", LongType)))
          return java.util.Collections.singletonList[Scan](new GraftResultScan(schema0,
            Array(new GenericInternalRow(Array[Any](cur.version, 0L, 0L))))).iterator()
        }
        // name + size + mtime: an in-place same-size repair still changes
        // the fingerprint, so it replays as a fresh epoch rather than
        // ledger-skipping against the previous attempt
        val finger = srcFiles
          .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
          .sorted.mkString(",")
        // JSONL is schema-tolerant but type-lossy (timestamps read back
        // as strings): cast each column the TABLE already knows to the
        // table's type; columns the table has never seen pass through
        // untouched and drive ordinary merge-time schema evolution
        val raw = spark.read.json(
          (if (byDefault) srcFiles.map(_.getPath.toString).toSeq else Seq(src)): _*).drop("_epoch")
        val events = raw.select(raw.columns.toIndexedSeq.map { c =>
          cur.schema.find(_.name == c) match {
            case Some(f) =>
              org.apache.spark.sql.functions.col(c).cast(f.dataType).as(c)
            case None => org.apache.spark.sql.functions.col(c)
          }
        }: _*)
        val seed = s"replay-quarantine:$src:$finger"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val epoch = graft.functions.Hashing.hashBytes(seed, 0, seed.length, 0x9A7AL)
        // still-poison rows re-quarantine: a named source's rows persist
        // as the new epoch's quarantine file; the default source's rows
        // are counted only, since the files they came from are already
        // quarantine files of the ledger. Writing them again would add a
        // file, change the next call's fingerprint and so double them on
        // every call; without it a repeat call is a ledger skip.
        val stats = new graft.merge.MergeInto(t, numBuckets = cur.numBuckets,
          saltBuckets = 2, recordMeta = !byDefault).apply(events, epoch)
        (StructType(Seq(
          StructField("version", LongType),
          StructField("events_in", LongType),
          StructField("quarantined_again", LongType))),
          Seq(stats.tableVersion, stats.eventsIn, stats.eventsQuarantined))
    }
    val values = row.map {
      case s: String => UTF8String.fromString(s)
      case other => other
    }.toArray[Any]
    java.util.Collections.singletonList[Scan](
      new GraftResultScan(schema, Array(new GenericInternalRow(values)))).iterator()
  }
}

private final class GraftResultScan(schema: StructType, rs: Array[InternalRow])
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = rs
}

/** DDL-time schema validation: the flat scalar column types the lake's
  * state model is defined over. Schema evolution (SchemaRegistry's
  * widening rules, the reader's null-for-absent and int→long /
  * float→double reads) is defined over flat columns of these types, and
  * they are what the specs and fuzzers read back; a nested, map or
  * decimal column would commit a table whose evolution no rule covers
  * and no test reads — fail at DDL instead. */
object GraftCatalog {
  /** Engine key columns: bucketing (`repo`), merge keys (`repo`,`path`),
    * LWW ordering + manifest stats (`lsn`), and the change-op envelope
    * (`op`). Renaming any of them would break the machinery that names
    * them; they are also reserved as rename TARGETS. */
  private[dsv2] val RenameReserved = Set("repo", "path", "lsn", "op")

  private val Readable: Set[org.apache.spark.sql.types.DataType] = Set(
    StringType, LongType, IntegerType, DoubleType, FloatType,
    BooleanType, BinaryType, TimestampType, TimestampNTZType)

  private[dsv2] def requireReadableType(
      name: String, t: org.apache.spark.sql.types.DataType): Unit =
    require(Readable.contains(t),
      s"column '$name' has type ${t.simpleString}, which the graft reader " +
        "cannot decode (flat state schemas only: string/long/int/double/" +
        "float/boolean/binary/timestamp)")
}
