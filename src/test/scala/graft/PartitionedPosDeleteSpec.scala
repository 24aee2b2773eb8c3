package graft

import java.nio.file.Files
import graft.sinks.{TableFs, VersionedTable}
import org.apache.spark.sql.functions._

/** Position deletes on the PARTITIONED table form (r13): immediate
  * merge-on-read masking, vacuum rewriting only delete-carrying
  * partitions, and — the correctness core — every partitioned rewrite
  * path (keyed merge, compaction, equality-delete vacuum) folding
  * pending entries so a rewrite can never resurrect deleted rows.
  */
class PartitionedPosDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("ppd").resolve("t").toString

  private def seed(root: String): Unit =
    VersionedTable.upsert(spark, root,
      (1L to 30L).map(i => (i, s"p${i % 3}", i * 10L))
        .toDF("id", "p", "x"),
      Seq("id"), Seq("p"), keepVersions = 10)

  test("softDeletePosPartitioned masks immediately; re-delete is a " +
    "keyed no-op; plain read unchanged") {
    val root = tmpRoot()
    seed(root)
    VersionedTable.softDeletePos(spark, root,
      col("x") % 40L === 0L) // ids 4,8,...,28 → 7 rows
    val masked = VersionedTable
      .readLiveWithPosDeletes(spark, root)
    assert(masked.count() === 23)
    assert(masked.filter(col("id") === 4L).count() === 0)
    // raw read keeps everything (MoR metadata, zero rewrite)
    assert(VersionedTable.readLive(spark, root).count() === 30)
    // re-deleting a subset must not disturb the set
    VersionedTable.softDeletePos(spark, root,
      col("id") === 8L)
    assert(VersionedTable
      .readLiveWithPosDeletes(spark, root).count() === 23)
  }

  test("vacuumPosDeletesPartitioned rewrites ONLY delete-carrying " +
    "partitions and preserves content") {
    val root = tmpRoot()
    seed(root)
    // delete rows only from partition p1 (ids ≡ 1 mod 3)
    VersionedTable.softDeletePos(spark, root,
      col("id").isin(1L, 7L, 13L))
    val before = VersionedTable.readPartitionedManifest(root).get
    val (v, rewritten) =
      VersionedTable.vacuumPosDeletes(spark, root)
    assert(rewritten === 1)
    val after = VersionedTable.readPartitionedManifest(root).get
    assert(after.version === v)
    assert(after.partitions("p=p0") === before.partitions("p=p0"))
    assert(after.partitions("p=p2") === before.partitions("p=p2"))
    assert(after.partitions("p=p1") !== before.partitions("p=p1"))
    // physically gone now — raw read agrees
    assert(VersionedTable.readLive(spark, root).count() === 27)
    assert(VersionedTable
      .readLiveWithPosDeletes(spark, root).count() === 27)
    // delete set reset: second vacuum is a no-op
    val (_, r2) = VersionedTable.vacuumPosDeletes(spark, root)
    assert(r2 === 0)
  }

  test("a keyed merge touching a partition with pending pos deletes " +
    "folds them — no resurrection") {
    val root = tmpRoot()
    seed(root)
    VersionedTable.softDeletePos(spark, root,
      col("id") === 6L) // partition p0
    // upsert a DIFFERENT key into p0: rewrites p0's files
    VersionedTable.upsert(spark, root,
      Seq((300L, "p0", 1L)).toDF("id", "p", "x"),
      Seq("id"), Seq("p"), keepVersions = 10)
    // id 6 must stay gone in BOTH reads (physically folded away)
    assert(VersionedTable.readLive(spark, root)
      .filter(col("id") === 6L).count() === 0)
    assert(VersionedTable
      .readLiveWithPosDeletes(spark, root).count() === 30)
  }

  test("a position delete landing between a merge's pos validation " +
    "and its manifest flip is redone against the new snapshot") {
    val root = tmpRoot()
    seed(root)
    var deleter: Thread = null
    TableFs.withSeam(root, TableFs.BeforePublish) { target =>
      // inside the merge's commit lock, after its pos validation
      if (deleter == null && target.getFileName.toString.startsWith("v")) {
        deleter = new Thread(() =>
          VersionedTable.softDeletePos(spark, root, col("id") === 6L))
        deleter.start()
        deleter.join(3000) // a deleter that must wait for the lock
      }
    } {
      VersionedTable.upsert(spark, root,
        Seq((300L, "p0", 1L)).toDF("id", "p", "x"),
        Seq("id"), Seq("p"), keepVersions = 10)
    }
    deleter.join()
    val ids = VersionedTable.readLiveWithPosDeletes(spark, root)
      .select("id").as[Long].collect().toSet
    assert(!ids.contains(6L) && ids.contains(300L) && ids.size === 30,
      s"id 6 resurfaced or rows lost: ${ids.toSeq.sorted}")
  }

  test("compaction and equality-delete vacuum fold pending pos " +
    "deletes too") {
    val root = tmpRoot()
    seed(root)
    // fragment p2 (two one-row commits), then pos-delete one p2 row
    VersionedTable.upsert(spark, root,
      Seq((100L, "p2", 5L)).toDF("id", "p", "x"), Seq("id"), Seq("p"),
      keepVersions = 10)
    VersionedTable.upsert(spark, root,
      Seq((101L, "p2", 6L)).toDF("id", "p", "x"), Seq("id"), Seq("p"),
      keepVersions = 10)
    VersionedTable.softDeletePos(spark, root,
      col("id") === 11L) // p2 row
    val (_, compacted) = VersionedTable.compactPartitions(spark, root)
    assert(compacted >= 1)
    assert(VersionedTable.readLive(spark, root)
      .filter(col("id") === 11L).count() === 0)
    // equality vacuum path: pos-delete then softDelete+vacuum another
    // partition — the rewrite reads through the pos mask
    VersionedTable.softDeletePos(spark, root,
      col("id") === 12L) // p0
    VersionedTable.softDelete(spark, root,
      Seq(15L).toDF("id"), Seq("id")) // p0, equality
    VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    val live = VersionedTable.readLive(spark, root)
    assert(live.filter(col("id").isin(11L, 12L, 15L)).count() === 0)
  }

  test("the DSv2 format masks partitioned position deletes by default") {
    val root = tmpRoot()
    seed(root)
    VersionedTable.softDeletePos(spark, root,
      col("id") <= 3L)
    val viaFmt = spark.read.format("graft").load(root)
    assert(viaFmt.count() === 27)
    assert(viaFmt.filter(col("id") <= 3L).count() === 0)
    // pruned path too: partition filter + pos mask compose
    val p0 = spark.read.format("graft").load(root)
      .filter(col("p") === "p0")
    assert(p0.select("id").as[Long].collect().sorted ===
      (1L to 30L).filter(i => i % 3 == 0 && i > 3).toArray)
    val raw = spark.read.format("graft")
      .option("withDeletes", "false").load(root)
    assert(raw.count() === 30)
  }
}
