package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import graft.sinks.{TableFs, VersionedTable}

/** Native streaming SINK: `df.writeStream.format("graft")
  * .option("keys", …).start(root)` (and `.toTable` on a catalog
  * table) — the packaged replacement for hand-rolled foreachBatch
  * loops.
  *
  * Per micro-batch: executor tasks stage parquet exactly like the
  * batch write (per-epoch staging subdir, only commit-message paths
  * trusted), and the driver-side [[commit]] routes the epoch through
  * the table's configured verb — keyed upsert with `keys`, append
  * without, partitioned forms with `partitionColumns`; Complete
  * output mode truncates (full replace per epoch); Update mode is
  * accepted as update-as-append, which the keyed upsert turns into
  * REAL updates.
  *
  * Exactly-once: Spark re-commits the last epoch after a restart, so
  * the sink records the last committed epoch per (query, run) in
  * `_stream_commits.json` and SKIPS replays. With `keys` the epoch
  * routing is additionally idempotent by construction (re-upserting
  * the same rows is a no-op), closing even the crash window between
  * the data commit and the marker write; keyless appends share
  * foreachBatch's standard contract — a duplicate batch only if the
  * driver dies inside that window. Use keys for strict exactly-once.
  */
private[sources] class GraftStreamingWrite(root: String,
    info: LogicalWriteInfo, tableProps: Map[String, String],
    truncate: Boolean, writerConfs: Map[String, String],
    compression: String,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends StreamingWrite {

  private val stagingBase =
    Paths.get(root).resolve(s"_staging-stream-${info.queryId()}")

  private def epochDir(epochId: Long) =
    stagingBase.resolve(s"epoch-$epochId")

  override def createStreamingWriterFactory(
      physical: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(stagingBase.toString,
      info.schema(), writerConfs, compression, hadoopConf)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    try {
      val last = GraftStreamCommits.lastCommitted(root, info.queryId())
      if (last.exists(_ >= epochId)) return // replay after restart
      val files = messages.collect {
        case GraftCommitMessage(p, _) if p != null => p
      }
      // an idle epoch (no rows) commits NOTHING — routing an empty
      // frame through a keyed upsert would rewrite the whole table
      // per no-op trigger and churn retention; Complete mode is the
      // exception (an empty aggregate legitimately empties the table)
      if (files.nonEmpty || truncate) {
        val staged: DataFrame =
          if (files.isEmpty)
            spark.createDataFrame(
              java.util.Collections.emptyList[Row](), info.schema())
          else spark.read.schema(info.schema()).parquet(files.toSeq: _*)
        route(spark, staged)
      }
      GraftStreamCommits.record(root, info.queryId(), epochId)
    } finally deleteEpoch(epochId)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    deleteEpoch(epochId)

  private def deleteEpoch(epochId: Long): Unit = {
    VersionedTable.deleteRecursively(epochDir(epochId))
    // reap the query dir when no epochs remain
    if (Files.isDirectory(stagingBase)) {
      val s = Files.list(stagingBase)
      val empty = try !s.iterator().hasNext finally s.close()
      if (empty) Files.deleteIfExists(stagingBase)
      ()
    }
  }

  private def route(spark: SparkSession, staged: DataFrame): Unit = {
    val o = info.options
    def opt(k: String): Option[String] =
      Option(o.get(k)).orElse(tableProps.get(k))
    def list(k: String): Option[Seq[String]] =
      opt(k).map(_.split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    val keys = list("keys")
    // Nil = the table's committed spec (see GraftBatchWrite.route)
    val pc = list("partitionColumns").getOrElse(Nil)
    val schemaMode = opt("schemaMode") match {
      case Some("sync") => graft.sinks.MergeWriter.SchemaMode.SyncAllColumns
      case _            => graft.sinks.MergeWriter.SchemaMode.Strict
    }
    (truncate, keys) match {
      case (true, _) => VersionedTable.replaceTable(spark, root, staged, pc)
      case (false, Some(k)) =>
        VersionedTable.upsert(spark, root, staged, k, pc, schemaMode)
      case (false, None) =>
        VersionedTable.append(spark, root, staged, pc,
          schemaMode = schemaMode)
    }
    ()
  }
}

private[sources] class GraftStreamingWriterFactory(stagingBase: String,
    schema: org.apache.spark.sql.types.StructType,
    confs: Map[String, String], compression: String,
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(
      s"$stagingBase/epoch-$epochId/part-$partitionId-$taskId-" +
        s"${java.util.UUID.randomUUID}.parquet",
      schema, confs, compression, hadoopConf)
}

/** Per-(query, table) last-committed-epoch markers — the replay
  * filter Spark's restart contract requires. One JSON object in
  * `_stream_commits.json`; updates run read-modify-write under the
  * TABLE's commit lock, because two streaming queries in different
  * driver JVMs may feed one table and an unlocked interleaving would
  * drop the other query's entry (re-opening its replay window).
  */
private[graft] object GraftStreamCommits {
  private def path(root: String) =
    Paths.get(root).resolve("_stream_commits.json")

  private def readAll(root: String): Map[String, Long] = {
    val p = path(root)
    if (!Files.exists(p)) return Map.empty
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val re = """"((?:[^"\\]|\\.)+)"\s*:\s*(-?\d+)""".r
    re.findAllMatchIn(txt).flatMap { m =>
      try Some(VersionedTable.unescJson(m.group(1)) -> m.group(2).toLong)
      catch { case _: IllegalArgumentException => None }
    }.toMap
  }

  def lastCommitted(root: String, queryId: String): Option[Long] =
    readAll(root).get(queryId)

  def record(root: String, queryId: String, epochId: Long): Unit =
    TableFs.withCommitLock(Paths.get(root)) {
      val m = readAll(root) + (queryId -> epochId)
      TableFs.publishFile(path(root), m.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          s""""${VersionedTable.escJson(k)}": $v""" }
        .mkString("{", ", ", "}"))
    }
}
