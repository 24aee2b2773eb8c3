package graft.sources

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import graft.sinks.VersionedTable

/** Native DSv2 batch write for graft tables — the missing half that
  * turned SQL `UPDATE`/`MERGE INTO` and clause-less dynamic
  * `INSERT OVERWRITE` away at analysis: those plans have no V1
  * fallback exec, they require a real [[BatchWrite]] whose row work
  * happens in EXECUTOR-side writers.
  *
  * Shape: each task's [[GraftDataWriter]] streams its `InternalRow`s
  * through Spark's own [[ParquetWriteSupport]] into one parquet file
  * under a `_staging-dsv2-*` dir inside the table root (same
  * filesystem as the data; a writer that dies mid-job leaves only a
  * staging dir that `VersionedTable.removeOrphans` already reaps).
  * Only files named in the tasks' commit messages are trusted —
  * zombie speculative attempts may leave stray files in staging, so
  * the driver-side [[GraftBatchWrite.commit]] reads exactly the
  * committed list and routes it through the SAME versioned-commit
  * verbs the V1 path used (append / keyed upsert / replace / dynamic
  * partition overwrite / replaceWhere), so CAS concurrency,
  * constraints, sequence stamping, and retention all behave
  * identically whichever plan shape produced the rows.
  *
  * Scale note: this stages the incoming rows once (executor-parallel,
  * one file per task) and then lets the commit verb place them. For
  * the flat form the verb rewrite dominates; for partitioned forms
  * the staged pass is a second linear write of the BATCH only — the
  * table itself is never re-staged.
  */
private[sources] object GraftNativeWrite {
  sealed trait Mode
  case object Append extends Mode
  case object Truncate extends Mode
  final case class OverwriteFilters(filters: Array[Filter]) extends Mode
  case object DynamicOverwrite extends Mode

  /** The parquet-writer settings [[ParquetWriteSupport.init]] asserts
    * present in the task-side Hadoop conf, captured from the driver
    * session so executor files match what `df.write.parquet` would
    * have produced.
    */
  def writerConfs(spark: SparkSession): Map[String, String] = {
    val c = spark.sessionState.conf
    Map(
      SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key ->
        c.getConf(SQLConf.PARQUET_WRITE_LEGACY_FORMAT).toString,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key ->
        c.getConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE).toString,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key ->
        c.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key ->
        c.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString,
      SQLConf.SESSION_LOCAL_TIMEZONE.key -> c.sessionLocalTimeZone,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key ->
        c.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
        c.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
          .toString)
  }
}

private[sources] class GraftWrite(root: String,
    info: LogicalWriteInfo, tableProps: Map[String, String],
    mode: GraftNativeWrite.Mode) extends Write {
  override def description(): String =
    s"GraftWrite root=$root mode=$mode"
  override def toBatch: BatchWrite = {
    val spark = SparkSession.active
    new GraftBatchWrite(root, info, tableProps, mode,
      GraftNativeWrite.writerConfs(spark),
      spark.sessionState.conf.parquetCompressionCodec,
      org.apache.spark.sql.graft.SqlShims
        .serializableHadoopConf(spark))
  }
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    val spark = SparkSession.active
    val truncate = mode match {
      case GraftNativeWrite.Truncate => true // Complete output mode
      case GraftNativeWrite.Append   => false
      case other => throw new UnsupportedOperationException(
        s"streaming write mode $other is not a thing")
    }
    new GraftStreamingWrite(root, info, tableProps, truncate,
      GraftNativeWrite.writerConfs(spark),
      spark.sessionState.conf.parquetCompressionCodec,
      org.apache.spark.sql.graft.SqlShims
        .serializableHadoopConf(spark))
  }
}

private[sources] final case class GraftCommitMessage(
    path: String, rows: Long) extends WriterCommitMessage

private[sources] class GraftBatchWrite(root: String,
    info: LogicalWriteInfo, tableProps: Map[String, String],
    mode: GraftNativeWrite.Mode, writerConfs: Map[String, String],
    compression: String,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends BatchWrite {

  private val staging =
    java.nio.file.Paths.get(root)
      .resolve(s"_staging-dsv2-${UUID.randomUUID}")

  override def createBatchWriterFactory(
      physical: PhysicalWriteInfo): DataWriterFactory = {
    java.nio.file.Files.createDirectories(staging)
    new GraftDataWriterFactory(staging.toString, info.schema(),
      writerConfs, compression, hadoopConf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect {
      case GraftCommitMessage(p, _) if p != null => p
    }
    try {
      // A zero-row APPEND/upsert into a committed table is a no-op —
      // routing it through the verb would be a full-table rewrite and
      // a version bump for nothing, churning retention (the streaming
      // sink already skips idle epochs). Truncate/Overwrite keep
      // their semantics (an empty overwrite MEANS "vacate"), and the
      // first-ever write still materializes the table (v1 with zero
      // rows) so path-based readers find a manifest.
      val noopAppend = files.isEmpty &&
        mode == GraftNativeWrite.Append &&
        // a zero-row BRANCH write still matters: the first one forks
        // the branch (ref + fork base), and a WAP pipeline's empty
        // epoch must leave a publishable branch behind
        !Option(info.options.get("branch")).exists(_.trim.nonEmpty) &&
        VersionedTable.snapshotView(root).isDefined
      if (!noopAppend) {
        val staged: DataFrame =
          if (files.isEmpty)
            spark.createDataFrame(
              java.util.Collections.emptyList[Row](), info.schema())
          else spark.read.schema(info.schema()).parquet(files.toSeq: _*)
        route(spark, staged)
      }
    } finally deleteStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteStaging()

  private def deleteStaging(): Unit = {
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try {
          val it = s.iterator()
          while (it.hasNext) rm(it.next())
        } finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p)
      ()
    }
    rm(staging)
  }

  /** The mode → versioned-verb decision table (the V1 fallback's
    * table, kept byte-compatible so DataFrameWriter behavior is
    * unchanged), plus the two natives V1 could not reach:
    * [[GraftNativeWrite.DynamicOverwrite]] (clause-less
    * `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`) and
    * row-producing plans like `UPDATE`/`MERGE` that arrive as plain
    * appends from the row-level commands.
    */
  private def route(spark: SparkSession, staged: DataFrame): Unit = {
    val o = info.options
    def opt(k: String): Option[String] =
      Option(o.get(k)).orElse(tableProps.get(k))
    def list(k: String): Option[Seq[String]] =
      opt(k).map(_.split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    val keys = list("keys")
    // Nil = the table's committed spec (the verbs read the form from
    // its manifest); a declared list shapes only the first commit
    val pc = list("partitionColumns").getOrElse(Nil)
    val schemaMode = opt("schemaMode") match {
      case Some("sync") => graft.sinks.MergeWriter.SchemaMode.SyncAllColumns
      case _            => graft.sinks.MergeWriter.SchemaMode.Strict
    }
    mode match {
      case GraftNativeWrite.OverwriteFilters(filters) =>
        GraftWriteBuilder.overwriteByFilter(spark, root, filters,
          staged, pc)
      case GraftNativeWrite.DynamicOverwrite =>
        VersionedTable.overwritePartitions(spark, root, staged, pc)
        ()
      case GraftNativeWrite.Truncate =>
        val dynamic = opt("partitionOverwriteMode")
          .getOrElse(spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"))
          .equalsIgnoreCase("dynamic")
        if (dynamic) VersionedTable.overwritePartitions(spark, root, staged, pc)
        else VersionedTable.replaceTable(spark, root, staged, pc)
        ()
      case GraftNativeWrite.Append
          if Option(o.get("branch")).exists(_.trim.nonEmpty) =>
        // WRITE-AUDIT-PUBLISH: the batch lands on the named branch —
        // main untouched until CALL fast_forward publishes. A WRITE
        // OPTION only (a TBLPROPERTY would silently reroute every
        // future insert).
        val b = o.get("branch").trim
        require(keys.isEmpty,
          s"branch writes into $root are appends — keyed upsert onto " +
            "a branch is not supported; upsert after fast_forward")
        VersionedTable.appendToBranch(spark, root, staged, b, pc)
        ()
      case GraftNativeWrite.Append =>
        keys match {
          case Some(k) =>
            VersionedTable.upsert(spark, root, staged, k, pc, schemaMode)
          case None =>
            VersionedTable.append(spark, root, staged, pc,
              schemaMode = schemaMode)
        }
        ()
    }
  }
}

private[sources] class GraftDataWriterFactory(stagingDir: String,
    schema: StructType, confs: Map[String, String],
    compression: String,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(
      s"$stagingDir/part-$partitionId-$taskId-${UUID.randomUUID}" +
        ".parquet",
      schema, confs, compression, hadoopConf)
}

/** One task's writer: rows stream straight into a parquet file via
  * Spark's own `ParquetWriteSupport` (no buffering beyond parquet's
  * row groups — constant memory per task at any batch size). The
  * file is created lazily on the first row, so empty tasks leave
  * nothing behind and commit a null path.
  */
private[sources] class GraftDataWriter(path: String, schema: StructType,
    confs: Map[String, String], compression: String,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends DataWriter[InternalRow] {

  private var writer: ParquetWriter[InternalRow] = null
  private var rows = 0L

  private final class Builder(p: org.apache.hadoop.fs.Path)
      extends ParquetWriter.Builder[InternalRow, Builder](p) {
    override def self(): Builder = this
    override def getWriteSupport(
        conf: Configuration): WriteSupport[InternalRow] =
      (new ParquetWriteSupport).asInstanceOf[WriteSupport[InternalRow]]
  }

  private def open(): ParquetWriter[InternalRow] = {
    // start from the SESSION's Hadoop conf (spark.hadoop.* tuning,
    // filesystem settings), then overlay the SQLConf-derived parquet
    // keys — staged files match what df.write.parquet would produce
    val conf = new Configuration(hadoopConf.value)
    confs.foreach { case (k, v) => conf.set(k, v) }
    ParquetWriteSupport.setSchema(schema, conf)
    val codec =
      try CompressionCodecName.valueOf(compression.toUpperCase)
      catch { case _: IllegalArgumentException =>
        CompressionCodecName.SNAPPY }
    new Builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).withCompressionCodec(codec).build()
  }

  override def write(record: InternalRow): Unit = {
    if (writer == null) writer = open()
    writer.write(record)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftCommitMessage(if (rows > 0) path else null, rows)
  }

  override def abort(): Unit = {
    try if (writer != null) writer.close()
    catch { case _: Throwable => () }
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hadoopConf.value)
    fs.delete(p, false)
    ()
  }

  override def close(): Unit = ()
}
