package graft

import java.nio.file.Files
import graft.sinks.VersionedTable
import graft.operators.Ivm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-feed: row-level (op, payload, version) from the
  * version history, updates as preimage/postimage pairs, partitioned
  * steps restricted to touched partitions, and the production loop —
  * feed folded through Ivm.applyDeltas equals recomputing the view
  * from the final snapshot.
  */
class CdfSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("cdf").resolve("t").toString

  test("ops are classified with preimage/postimage pairs and stamped " +
    "with the commit version") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), Seq("id"),
      keepVersions = 10)
    VersionedTable.upsert(spark, root,
      Seq((2L, "B"), (4L, "d")).toDF("id", "v"), Seq("id"),
      keepVersions = 10)
    VersionedTable.overwriteWhere(spark, root, col("id") === 1L,
      spark.emptyDataset[(Long, String)].toDF("id", "v"),
      keepVersions = 10)
    val feed = VersionedTable.readChanges(spark, root, 0L, 3L, Seq("id"))
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(feed === Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 1L),
      (2L, "b", "update_preimage", 2L),
      (2L, "B", "update_postimage", 2L), (4L, "d", "insert", 2L),
      (1L, "a", "delete", 3L)))
    // sub-range: only the v3 delete
    val tail = VersionedTable.readChanges(spark, root, 2L, 3L, Seq("id"))
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(tail === Set((1L, "delete")))
  }

  test("partitioned steps read only touched partitions and the feed " +
    "reflects them") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "p0", 10L), (2L, "p1", 20L), (3L, "p2", 30L))
        .toDF("id", "p", "x"), Seq("id"), Seq("p"), keepVersions = 10)
    // touch ONLY p1
    VersionedTable.upsert(spark, root,
      Seq((2L, "p1", 25L), (9L, "p1", 90L)).toDF("id", "p", "x"),
      Seq("id"), Seq("p"), keepVersions = 10)
    val step = VersionedTable.readChanges(spark, root, 1L, 2L, Seq("id"))
    val got = step.select("id", "p", "x", "_change_type")
      .as[(Long, String, Long, String)].collect().toSet
    assert(got === Set(
      (2L, "p1", 20L, "update_preimage"),
      (2L, "p1", 25L, "update_postimage"),
      (9L, "p1", 90L, "insert")))
    // the step's plan must not open p0/p2 files: every scanned path
    // sits under a p=p1 leaf
    val scans = step.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).filter(_.contains("FileScan"))
    assert(scans.nonEmpty)
    assert(scans.forall(s => !s.contains("p=p0") && !s.contains("p=p2")),
      scans.mkString("\n"))
  }

  test("feed folded through Ivm.applyDeltas equals full recompute " +
    "after upserts, softDelete+vacuum, and overwriteWhere") {
    val root = tmpRoot()
    def batch(rows: (Long, Long)*): DataFrame =
      rows.toDF("id", "cents")
    VersionedTable.upsert(spark, root,
      batch((1L, 100L), (2L, 200L), (3L, 300L), (4L, 400L),
        (5L, 550L), (6L, 600L)), Seq("id"), keepVersions = 20)
    VersionedTable.upsert(spark, root,
      batch((2L, 250L), (7L, 770L)), Seq("id"), keepVersions = 20)
    VersionedTable.softDelete(spark, root, Seq(3L, 5L).toDF("id"),
      Seq("id"))
    VersionedTable.vacuumDeletes(spark, root, Seq("id"),
      keepVersions = 20)
    VersionedTable.overwriteWhere(spark, root, col("cents") < 300L,
      batch((10L, 111L), (11L, 222L)), keepVersions = 20)
    val vs = VersionedTable.versions(root)
    assert(vs === Seq(1L, 2L, 3L, 4L))
    // maintained view: grp = id % 3 → (n_rows, sum_v over cents)
    val live = VersionedTable.readLiveWithDeletes(spark, root, Seq("id"))
    var view = Ivm.initialize(
      live.limit(0).select((col("id") % 3).as("grp"), col("cents")),
      Seq("grp"), "cents")
    for (v <- vs) {
      val cdf = VersionedTable.readChanges(spark, root, v - 1, v,
        Seq("id"))
      val deltas = cdf.select((col("id") % 3).as("grp"),
        when(col("_change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L).as("d_count"),
        when(col("_change_type").isin("insert", "update_postimage"),
          col("cents")).otherwise(-col("cents")).as("d_sum"))
      view = Ivm.applyDeltas(view, deltas, Seq("grp"))
    }
    val got = view.select("grp", "n_rows", "sum_v")
      .as[(Long, Long, Long)].collect().toSet
    val want = Ivm.initialize(
      live.select((col("id") % 3).as("grp"), col("cents")),
      Seq("grp"), "cents")
      .select("grp", "n_rows", "sum_v")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streamChanges discovers commits one per micro-batch, in " +
    "order, and a checkpointed restart delivers only new commits") {
    val root = tmpRoot()
    val ckpt = Files.createTempDirectory("cdfckpt").toString
    VersionedTable.upsert(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "x"), Seq("id"),
      keepVersions = 20)
    VersionedTable.upsert(spark, root,
      Seq((2L, 25L), (3L, 30L)).toDF("id", "x"), Seq("id"),
      keepVersions = 20)
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val q1 = VersionedTable.streamChanges(spark, root, Seq("id"),
      ckpt, maxFilesPerTrigger = Some(1)) { (cdf, lo, hi) =>
      seen += ((lo, hi, cdf.count())); ()
    }
    q1.awaitTermination()
    // v1: 2 inserts; v2: 1 insert + update pre/post pair
    assert(seen.toList === List((1L, 1L, 2L), (2L, 2L, 3L)))
    // restart with the same checkpoint after one more commit: only v3
    VersionedTable.upsert(spark, root,
      Seq((4L, 40L)).toDF("id", "x"), Seq("id"), keepVersions = 20)
    seen.clear()
    val q2 = VersionedTable.streamChanges(spark, root, Seq("id"),
      ckpt, maxFilesPerTrigger = Some(1)) { (cdf, lo, hi) =>
      seen += ((lo, hi, cdf.count())); ()
    }
    q2.awaitTermination()
    assert(seen.toList === List((3L, 3L, 1L)))
  }

  test("streamChanges drives a maintained aggregate equal to batch " +
    "recompute") {
    val root = tmpRoot()
    val ckpt = Files.createTempDirectory("cdfckpt2").toString
    VersionedTable.upsert(spark, root,
      (1L to 30L).map(i => (i, i * 10L)).toDF("id", "x"), Seq("id"),
      keepVersions = 20)
    VersionedTable.upsert(spark, root,
      (10L to 40L).map(i => (i, i * 11L)).toDF("id", "x"), Seq("id"),
      keepVersions = 20)
    VersionedTable.overwriteWhere(spark, root, col("id") % 4 === 0,
      Seq((100L, 7L)).toDF("id", "x"), keepVersions = 20)
    var view = Ivm.initialize(
      VersionedTable.readLive(spark, root).limit(0)
        .select((col("id") % 5).as("grp"), col("x")),
      Seq("grp"), "x")
    val q = VersionedTable.streamChanges(spark, root, Seq("id"),
      ckpt, maxFilesPerTrigger = Some(1)) { (cdf, _, _) =>
      val deltas = cdf.select((col("id") % 5).as("grp"),
        when(col("_change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L).as("d_count"),
        when(col("_change_type").isin("insert", "update_postimage"),
          col("x")).otherwise(-col("x")).as("d_sum"))
      // materialize the fold so each batch's view is concrete (the
      // nested-plan alternative grows per commit)
      view = Ivm.applyDeltas(view, deltas, Seq("grp")).localCheckpoint()
      ()
    }
    q.awaitTermination()
    val got = view.select("grp", "n_rows", "sum_v")
      .as[(Long, Long, Long)].collect().toSet
    val want = Ivm.initialize(
      VersionedTable.readLive(spark, root)
        .select((col("id") % 5).as("grp"), col("x")),
      Seq("grp"), "x").select("grp", "n_rows", "sum_v")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want && got.nonEmpty)
  }

  test("endpoints outside retention fail loudly; empty range keeps " +
    "the schema") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root, Seq((1L, "a")).toDF("id", "v"),
      Seq("id"), keepVersions = 10)
    intercept[IllegalArgumentException] {
      VersionedTable.readChanges(spark, root, 0L, 99L, Seq("id"))
    }
    VersionedTable.upsert(spark, root, Seq((2L, "b")).toDF("id", "v"),
      Seq("id"), keepVersions = 10)
    val sub = VersionedTable.readChanges(spark, root, 1L, 2L, Seq("id"))
    assert(sub.columns.toSeq ===
      Seq("id", "v", "_change_type", "_commit_version"))
  }
}
