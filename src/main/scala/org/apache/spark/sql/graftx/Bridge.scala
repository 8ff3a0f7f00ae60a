package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * `Column` API. Spark 4 wraps columns in `ColumnNode`s and keeps the
  * Expression constructors `private[sql]`; this one-file shim (in an
  * `org.apache.spark.sql` subpackage, the standard extension-library
  * pattern) is the only place that touches the internal API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's `xxhash64(string)` (seed 42) computed driver-side — the
    * engine's bucket function replicated for manifest-level pruning in
    * the DSv2 scan planner. Delegates to the same XXH64 kernel the
    * Column expression compiles to, so the bucket is bit-identical. */
  def xxhash64(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
  }

  /** Re-expose a V1 streaming Sink's per-batch DataFrame as a BATCH view
    * (isStreaming = false) so batch-only operations — `.observe`,
    * `.write` — work on it. Exactly what Spark's own ForeachBatchSink
    * does before invoking the user function: wrap the micro-batch's
    * physical RDD in a LogicalRDD. */
  def batchView(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val impl = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      impl.queryExecution.toRdd, impl, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(
      impl.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], node)
  }

  /** Executor-side `InternalRow` → JSON-line encoder for the row-level-DML
    * delta staging path (UPDATE/MERGE/DELETE deltas are staged as JSONL
    * change events, then merged as one LWW epoch). Schema-driven via
    * Spark's own `JacksonGenerator` — handles every Spark type (maps,
    * arrays, timestamps, binary-as-base64) bit-compatibly with the JSON
    * reader that re-parses the staging files at commit. JacksonGenerator
    * is `private[sql]`, hence this wrapper lives in the shim. */
  final class JsonRowEncoder(schema: org.apache.spark.sql.types.StructType)
      extends Serializable {
    @transient private lazy val buf = new java.io.CharArrayWriter()
    @transient private lazy val gen =
      new org.apache.spark.sql.catalyst.json.JacksonGenerator(
        schema, buf,
        new org.apache.spark.sql.catalyst.json.JSONOptions(
          Map.empty[String, String], "UTC"))
    def toJson(row: org.apache.spark.sql.catalyst.InternalRow): String = {
      gen.write(row); gen.flush()
      val s = buf.toString; buf.reset(); s
    }
  }

  /** The driver's Hadoop configuration in a serializable wrapper, so
    * executor-side writers resolve the same filesystem the driver commits
    * through (`SerializableConfiguration` is `private[spark]`). */
  def serializableConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)

  /** Hadoop conf prepared for Spark's OWN vectorized parquet reader
    * ([[org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader]]),
    * as `ParquetPartitionReaderFactory` prepares it: the SQLConf-derived
    * keys `ParquetReadSupport.init` and `ParquetToSparkSchemaConverter`
    * read without defaults (they `.toBoolean` raw values — an unset key
    * NPEs). The requested schema is per file ([[setRequestedSchema]]).
    * Built on the DRIVER (SQLConf is driver state), shipped serializable. */
  def parquetReadConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.util.SerializableConfiguration = {
    import org.apache.spark.sql.internal.SQLConf
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    val c = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    // the MR-style initialize(InputSplit, ctx) path instantiates its
    // ReadSupport from this key (unset → NPE in getReadSupportInstance);
    // Spark's own scans set it via ParquetInputFormat.setReadSupportClass
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport]
        .getName)
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    c.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    c.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sqlConf.parquetFieldIdReadEnabled)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    new org.apache.spark.util.SerializableConfiguration(c)
  }

  /** Set the requested Spark schema on a [[parquetReadConf]]-prepared conf
    * (per file in the graft reader, after rename-era substitution — the
    * key constant is `private[sql]`). */
  def setRequestedSchema(conf: org.apache.hadoop.conf.Configuration,
                         schemaJson: String): Unit =
    conf.set(org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .SPARK_ROW_REQUESTED_SCHEMA, schemaJson)

  /** Construct Spark's vectorized parquet record reader (constructor is
    * internal API). Rebase modes CORRECTED/UTC: every file in a graft lake
    * was written by this engine on Spark 4 — no legacy-calendar files. */
  def vectorizedParquetReader(capacity: Int)
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader =
    new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, capacity)

  /** Parquet relation over an explicit file list: `(fully-qualified path,
    * length)` pairs, read with `schema`. What `spark.read.schema(schema)
    * .parquet(paths: _*)` plans, minus the discovery: above
    * `parallelPartitionDiscovery.threshold` paths that call starts a Spark
    * job just to stat files whose lengths the caller already holds. */
  def parquetFiles(spark: org.apache.spark.sql.SparkSession,
                   schema: org.apache.spark.sql.types.StructType,
                   files: Seq[(org.apache.hadoop.fs.Path, Long)])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    val statuses = files.map { case (p, len) =>
      FileStatusWithMetadata(new org.apache.hadoop.fs.FileStatus(len, false, 0, 0L, 0L, p))
    }
    val index = new FileIndex {
      override def rootPaths: Seq[org.apache.hadoop.fs.Path] = files.map(_._1)
      override def listFiles(partitionFilters: Seq[Expression],
                             dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
        Seq(PartitionDirectory(org.apache.spark.sql.catalyst.InternalRow.empty, statuses))
      override def inputFiles: Array[String] = files.map(_._1.toString).toArray
      override def refresh(): Unit = ()
      override val sizeInBytes: Long = files.map(_._2).sum
      override def partitionSchema: org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()
    }
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // asNullable: as DataSource.resolveRelation does for every file read
    session.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      schema.asNullable, None, new parquet.ParquetFileFormat, Map.empty)(session))
  }

  /** `df.write.partitionBy(partitionCol).option("compression", "zstd")
    * .parquet(outDir)`, with `tracker` added to the write tasks' stats
    * trackers (DataFrameWriter has no hook for that). Runs the same
    * FileFormatWriter job under a SQL execution of `df`'s own query, so
    * Observations on `df` complete on `df`'s session as with any action. */
  def writeParquet(df: org.apache.spark.sql.DataFrame, outDir: String, partitionCol: String,
                   tracker: org.apache.spark.sql.execution.datasources.WriteJobStatsTracker)
      : Unit = {
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
        session.sessionState.conf.fileCommitProtocolClass,
        jobId = java.util.UUID.randomUUID().toString, outputPath = outDir)
      FileFormatWriter.write(session, plan,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(outDir, Map.empty, plan.output),
        session.sessionState.newHadoopConf(), plan.output.filter(_.name == partitionCol),
        None, Seq(tracker), Map("compression" -> "zstd")): Unit
    }
  }

  /** Register a function builder on a live session's function registry
    * (the post-build counterpart of SparkSessionExtensions.injectFunction,
    * for sessions we don't construct — e.g. the driver's). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
