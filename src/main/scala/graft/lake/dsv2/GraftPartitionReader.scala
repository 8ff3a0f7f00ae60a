package graft.lake.dsv2

import graft.lake.LakeTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-file parquet reader for the graft DSv2 scan, built on the public
  * parquet-hadoop Group API (the same footer/row-group machinery the
  * commit path uses for stats). Scope: the lake's flat state schemas —
  * string/long/int/double/boolean/timestamp columns; evolved-away
  * columns absent from an old file read as null (the tolerant-reader
  * rule, reference src/places/place_index.rs:359-370). Tombstone rows
  * (`_deleted`) are skipped: the scan exposes `read()` semantics. */
final class GraftReaderFactory(physicalSchema: StructType, required: StructType,
                               includeTombstones: Boolean = false,
                               /** Driver Hadoop conf shipped to executors —
                                 * a fresh Configuration() there would lose
                                 * every driver-set fs property (s3a creds,
                                 * endpoints, custom schemes); the write path
                                 * (GraftDeltaWriter) ships the same way. */
                               conf: org.apache.spark.util.SerializableConfiguration =
                                 org.apache.spark.sql.graftx.Bridge
                                   .serializableConf(org.apache.spark.sql.SparkSession.active),
                               /** Vectorized path (see
                                 * [[GraftColumnarPartitionReader]]); the
                                 * scan enables it for whole-state scans
                                 * only. Constant per factory, so Spark's
                                 * all-or-nothing columnar requirement on
                                 * the exec node holds by construction. */
                               columnar: Boolean = false)
    extends PartitionReaderFactory {
  /** Former-name eras per current column (FieldIds) — computed from the
    * SNAPSHOT schema, which carries the alias metadata (Spark's column
    * pruner is not obligated to preserve field metadata into `required`). */
  private val aliasMap: Map[String, Seq[String]] =
    graft.schema.FieldIds.aliasMap(physicalSchema)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftPartitionReader(p.absPath, physicalSchema, required,
      includeTombstones, p.lsnLowerExclusive, p.rangeStart, p.rangeEnd,
      p.repoEq, p.pathEq, conf.value, aliasMap)
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  /** Batch schema: the projected columns, plus `_deleted` appended when it
    * is read only to FILTER (read() semantics hide tombstones and the
    * visible schema omits the column). Under includeTombstones the column
    * is ordinary data — no filtering, nothing appended. */
  private def columnarReadSchema: StructType =
    if (includeTombstones || required.fieldNames.contains(LakeTable.DeletedCol)) required
    else StructType(required.fields :+
      StructField(LakeTable.DeletedCol, BooleanType))

  /** Conf for Spark's vectorized reader, prepared once on the driver
    * (SQLConf-derived keys; see Bridge.parquetReadConf). Built eagerly so
    * it serializes with the factory. */
  private val columnarConf: org.apache.spark.util.SerializableConfiguration =
    if (columnar)
      org.apache.spark.sql.graftx.Bridge.parquetReadConf(
        org.apache.spark.sql.SparkSession.active, columnarReadSchema.json)
    else null

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    require(columnar, "columnar read requested on a row-based graft scan")
    val p = partition.asInstanceOf[GraftInputPartition]
    new GraftColumnarPartitionReader(p.absPath, columnarReadSchema,
      projectLen = required.length,
      filterTombstones = !includeTombstones,
      p.rangeStart, p.rangeEnd, columnarConf.value, aliasMap)
  }
}

final class GraftPartitionReader(absPath: String, physicalSchema: StructType,
                                 required: StructType,
                                 includeTombstones: Boolean = false,
                                 /** Emit only rows with `lsn` strictly above
                                   * this (Long.MinValue = no bound) — the
                                   * incremental-read row filter; also pushed
                                   * into parquet row-group skipping below. */
                                 lsnLowerExclusive: Long = Long.MinValue,
                                 rangeStart: Long = 0L,
                                 rangeEnd: Long = Long.MaxValue,
                                 /** Key equality predicates (null = none),
                                   * pushed into parquet row-group skipping:
                                   * merge output is sorted by (repo, path)
                                   * per file, so footer min/max confine a
                                   * point lookup to 1-2 row groups. */
                                 repoEq: String = null,
                                 pathEq: String = null,
                                 conf0: Configuration = null,
                                 /** current name → former names (rename
                                   * eras): a requested column absent from
                                   * the file under its current name is
                                   * looked up under each era name. */
                                 aliasMap: Map[String, Seq[String]] = Map.empty)
    extends PartitionReader[InternalRow] {

  // copy: PARQUET_READ_SCHEMA is set per reader below and the shipped
  // conf may be shared across partition readers on one executor
  private val conf = if (conf0 == null) new Configuration() else new Configuration(conf0)
  private val path = new Path(absPath)

  // the file's own schema decides what can be projected; requested
  // fields missing from the file surface as nulls
  private val fileSchema: MessageType =
    GraftPartitionReader.fileSchemaOf(absPath, path, conf)
  private def inFile(name: String): Boolean = fileSchema.containsField(name)

  /** The name THIS FILE stores a requested column under: the current name
    * when present, else the newest era name present (a file holds at most
    * one of a field's names — names are reserved against reuse). */
  private def physName(name: String): String =
    if (inFile(name) || aliasMap.isEmpty) name
    else aliasMap.getOrElse(name, Nil).find(inFile).getOrElse(name)

  // always read the tombstone flag (filtered here unless surfaced) and,
  // when an lsn bound applies, the lsn column, plus the requested cols —
  // an unbounded scan must not pay lsn decompression+decode per row
  private val readNames: Seq[String] =
    (required.fieldNames.toSeq.map(physName) ++ Seq(LakeTable.DeletedCol) ++
      (if (lsnLowerExclusive != Long.MinValue) Seq("lsn") else Seq.empty) ++
      Option(repoEq).map(_ => "repo") ++ Option(pathEq).map(_ => "path"))
      .distinct.filter(inFile)
  private val projection = new MessageType("graft_projection",
    readNames.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*)

  private val reader: ParquetReader[Group] = {
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    // byte-range split: only row groups whose midpoint falls in the
    // partition's range are read (0..MaxValue = the whole file)
    // built on this reader's own conf: `ParquetReader.builder(support,
    // path)` would first build a default Configuration (a re-read of
    // Hadoop's default XML through the class loader) that `withConf` then
    // throws away
    val b = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(path, conf),
        new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }.withFileRange(rangeStart, rangeEnd)
    // push the lsn bound and key equalities into parquet (row-group stats
    // + dictionary + record skipping); only when the file HAS the column —
    // a filter on an absent column evaluates against all-null and would
    // drop every row
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    val preds = Seq.newBuilder[FilterPredicate]
    if (lsnLowerExclusive != Long.MinValue && inFile("lsn"))
      preds += FilterApi.gt(FilterApi.longColumn("lsn"),
        java.lang.Long.valueOf(lsnLowerExclusive))
    if (repoEq != null && inFile("repo"))
      preds += FilterApi.eq(FilterApi.binaryColumn("repo"),
        org.apache.parquet.io.api.Binary.fromString(repoEq))
    if (pathEq != null && inFile("path"))
      preds += FilterApi.eq(FilterApi.binaryColumn("path"),
        org.apache.parquet.io.api.Binary.fromString(pathEq))
    val withFilter = preds.result().reduceOption(FilterApi.and) match {
      case Some(p) => b.withFilter(org.apache.parquet.filter2.compat.FilterCompat.get(p))
      case None => b
    }
    withFilter.build()
  }

  private var current: Group = _

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null &&
        ((!includeTombstones && isTombstone(g)) || belowLsnBound(g))) g = reader.read()
    current = g
    g != null
  }

  private def belowLsnBound(g: Group): Boolean =
    lsnLowerExclusive != Long.MinValue && inFile("lsn") &&
      g.getFieldRepetitionCount("lsn") > 0 &&
      g.getLong("lsn", 0) <= lsnLowerExclusive

  private def isTombstone(g: Group): Boolean =
    inFile(LakeTable.DeletedCol) && g.getFieldRepetitionCount(LakeTable.DeletedCol) > 0 &&
      g.getBoolean(LakeTable.DeletedCol, 0)

  override def get(): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      row.update(i, readValue(current, f))
      i += 1
    }
    row
  }

  private def readValue(g: Group, f: StructField): Any = {
    val name = physName(f.name)
    if (!inFile(name) || g.getFieldRepetitionCount(name) == 0) return null
    // WIDENED columns (SchemaRegistry: int->long, float->double): an old
    // file written before the widen stores the narrow physical type — read
    // what the file has and upcast, the tolerant-reader rule applied to
    // types as well as presence
    def fileIs(t: PrimitiveType.PrimitiveTypeName): Boolean =
      fileSchema.getType(fileSchema.getFieldIndex(name))
        .asPrimitiveType().getPrimitiveTypeName == t
    f.dataType match {
      case StringType => UTF8String.fromBytes(g.getBinary(name, 0).getBytes)
      case LongType =>
        if (fileIs(PrimitiveType.PrimitiveTypeName.INT32)) g.getInteger(name, 0).toLong
        else g.getLong(name, 0)
      case IntegerType => g.getInteger(name, 0)
      case DoubleType =>
        if (fileIs(PrimitiveType.PrimitiveTypeName.FLOAT)) g.getFloat(name, 0).toDouble
        else g.getDouble(name, 0)
      case FloatType => g.getFloat(name, 0)
      case BooleanType => g.getBoolean(name, 0)
      case BinaryType => g.getBinary(name, 0).getBytes
      case TimestampType | TimestampNTZType => readTimestampMicros(g, name)
      case t => throw new UnsupportedOperationException(
        s"graft DSv2 reader supports flat state schemas; column $name has $t")
    }
  }

  /** Parquet timestamps: INT64 TIMESTAMP(MICROS/MILLIS) or legacy INT96. */
  private def readTimestampMicros(g: Group, name: String): Long = {
    val prim = fileSchema.getType(fileSchema.getFieldIndex(name)).asPrimitiveType()
    prim.getPrimitiveTypeName match {
      case PrimitiveType.PrimitiveTypeName.INT96 =>
        val b = g.getInt96(name, 0).getBytes // 8B nanos-of-day LE + 4B julian day LE
        val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400L * 1000000L + nanosOfDay / 1000L
      case _ =>
        val v = g.getLong(name, 0)
        prim.getLogicalTypeAnnotation match {
          case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
              case org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
              case _ => v
            }
          case _ => v
        }
    }
  }

  override def close(): Unit = reader.close()
}

object GraftPartitionReader {
  /** Per-executor cache of parquet file schemas. Lake data files are
    * IMMUTABLE once published (uuid-named, never rewritten in place), so
    * the path is a sound key. Saves one footer open+parse per SPLIT of a
    * multi-split file and per revisit — streaming CDC consumers re-plan
    * the same files every micro-batch, and object-storage footer reads
    * are a round-trip each. (The data read below re-reads its own footer
    * inside ParquetReader.build(); this cache halves the constructor's
    * share.) Bounded LRU, access-ordered. */
  private val SchemaCacheMax = 1024
  private val schemaCache =
    new java.util.LinkedHashMap[String, MessageType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, MessageType]): Boolean =
        size() > SchemaCacheMax
    }

  private[dsv2] def fileSchemaOf(key: String, path: Path, conf: Configuration): MessageType = {
    schemaCache.synchronized {
      val hit = schemaCache.get(key)
      if (hit != null) return hit
    }
    // read options from `conf`: `open(in)` alone builds a default
    // Configuration for them
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
    val s = try r.getFooter.getFileMetaData.getSchema finally r.close()
    schemaCache.synchronized { schemaCache.put(key, s): Unit }
    s
  }
}
