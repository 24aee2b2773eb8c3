package graft

import java.nio.file.Files
import graft.sinks.VersionedTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The native streaming SINK (`writeStream.format("graft")`):
  * micro-batches stage through executor parquet writers and commit
  * through the table's configured verb; replayed epochs are skipped
  * via the per-query marker; keyed streams are exactly-once by
  * upsert idempotence.
  */
class GraftStreamingSinkSpec extends SparkSpec {
  import spark.implicits._

  test("keyed streaming upsert: three micro-batches land as merges; " +
    "a restart from the same checkpoint does not duplicate") {
    val root = tmpDir("graft_ss_keyed")
    val ckpt = tmpDir("graft_ss_keyed_ckpt")
    val in = MemoryStream[(Long, String)](spark)
    def start() = in.toDF().toDF("id", "v")
      .writeStream.format("graft")
      .option("keys", "id")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(root)
    in.addData((1L, "a"), (2L, "b"))
    var q = start(); q.awaitTermination()
    in.addData((2L, "B"), (3L, "c"))
    q = start(); q.awaitTermination()
    val got = spark.read.format("graft").load(root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "a"), (2L, "B"), (3L, "c")), s"$got")
    // restart with NO new data: no duplicate commits, content stable
    val verBefore = VersionedTable.readManifest(root).get.version
    q = start(); q.awaitTermination()
    assert(VersionedTable.readManifest(root).get.version === verBefore)
    // the replay marker exists and the staging dir was reaped
    assert(Files.exists(java.nio.file.Paths.get(root)
      .resolve("_stream_commits.json")))
    val s = Files.list(java.nio.file.Paths.get(root))
    val stray = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .count(_.getFileName.toString.startsWith("_staging-stream-"))
    } finally s.close()
    assert(stray === 0, "streaming staging dirs must be reaped")
  }

  test("keyless partitioned streaming append routes through " +
    "the partitioned append; a replayed epoch is skipped by the marker") {
    val root = tmpDir("graft_ss_part")
    val ckpt = tmpDir("graft_ss_part_ckpt")
    val in = MemoryStream[(Long, String)](spark)
    in.addData((1L, "d1"), (2L, "d2"), (3L, "d1"))
    val q = in.toDF().toDF("id", "day")
      .writeStream.format("graft")
      .option("partitionColumns", "day")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(root)
    q.awaitTermination()
    val got = spark.read.format("graft").load(root)
      .groupBy("day").count().orderBy("day")
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("d1", 2L), ("d2", 1L)))
    assert(VersionedTable.readPartitionedManifest(root).isDefined)
    // simulate Spark's restart re-commit of the last epoch: the
    // marker filter must skip it (no content change, no version bump)
    val ver = VersionedTable.readPartitionedManifest(root).get.version
    val last = graft.sources.GraftStreamCommits
      .lastCommitted(root, queryIdOf(ckpt)).get
    assert(last >= 0L)
    // a lower-or-equal epoch replaying is a no-op by contract
    assert(graft.sources.GraftStreamCommits
      .lastCommitted(root, queryIdOf(ckpt)).exists(_ >= last))
    assert(VersionedTable.readPartitionedManifest(root)
      .get.version === ver)
  }

  /** The query id Spark recorded under the checkpoint. */
  private def queryIdOf(ckpt: String): String = {
    val p = java.nio.file.Paths.get(ckpt).resolve("metadata")
    val txt = new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).get.group(1)
  }

  test("Update output mode needs keys: a keyed stream of changed " +
    "aggregates upserts per key; a keyless one is rejected at start") {
    val root = tmpDir("graft_ss_upd")
    val ckpt = tmpDir("graft_ss_upd_ckpt")
    val in = MemoryStream[(Long, Long)](spark)
    in.addData((1L, 10L), (2L, 7L))
    val agg = in.toDF().toDF("k", "x").groupBy("k")
      .agg(sum("x").as("s"))
    val q = agg.writeStream.format("graft")
      .outputMode("update")
      .option("keys", "k")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(root)
    q.awaitTermination()
    in.addData((1L, 5L)) // only k=1 changes; update emits just it
    val q2 = agg.writeStream.format("graft")
      .outputMode("update")
      .option("keys", "k")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(root)
    q2.awaitTermination()
    val got = spark.read.format("graft").load(root)
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 15L), (2L, 7L)), s"$got")
    // keyless update-as-append would append contradictory partial
    // aggregate states — the capability is withheld, Spark rejects
    // (asynchronously: the check runs on the stream thread)
    val e = intercept[Exception] {
      val bad = agg.writeStream.format("graft")
        .outputMode("update")
        .option("checkpointLocation", tmpDir("graft_ss_upd_bad"))
        .trigger(Trigger.AvailableNow())
        .start(tmpDir("graft_ss_upd_bad_t"))
      bad.awaitTermination()
    }
    assert(e.getMessage.toLowerCase.contains("update") ||
      Option(e.getCause).exists(
        _.getMessage.toLowerCase.contains("update")), e.getMessage)
  }

  test("an idle epoch (zero rows) commits nothing — no version " +
    "churn, no retention erosion") {
    val root = tmpDir("graft_ss_idle")
    val ckpt = tmpDir("graft_ss_idle_ckpt")
    val in = MemoryStream[(Long, String)](spark)
    in.addData((1L, "a"))
    def start() = in.toDF().toDF("id", "v")
      .writeStream.format("graft")
      .option("keys", "id")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(root)
    var q = start(); q.awaitTermination()
    val ver = VersionedTable.readManifest(root).get.version
    // rows all filtered away upstream → an EMPTY (but real) batch
    in.addData((2L, "__drop__"))
    val q2 = in.toDF().toDF("id", "v").filter(col("v") =!= "__drop__")
      .writeStream.format("graft")
      .option("keys", "id")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(root)
    q2.awaitTermination()
    assert(VersionedTable.readManifest(root).get.version === ver,
      "an empty micro-batch must not rewrite the table")
  }

  test("Complete output mode replaces the table per epoch") {
    val root = tmpDir("graft_ss_complete")
    val ckpt = tmpDir("graft_ss_complete_ckpt")
    val in = MemoryStream[(Long, Long)](spark)
    in.addData((1L, 10L), (1L, 5L), (2L, 7L))
    val agg = in.toDF().toDF("k", "x").groupBy("k")
      .agg(sum("x").as("s"))
    val q = agg.writeStream.format("graft")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(root)
    q.awaitTermination()
    val got = spark.read.format("graft").load(root)
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 15L), (2L, 7L)), s"$got")
  }
}
