package graft

import java.nio.file.Files
import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import graft.PruneFilters.{between, twoLevel}

/** Partition-spec evolution (migrate-on-write): a commit may append
  * partition columns (day → day,type); touched parents are lifted
  * whole and rewritten under the new spec, untouched partitions stay
  * old-spec (readable, mixed depths), old snapshots time-travel under
  * their recorded spec, and the overwrite family refuses writes that
  * would double rows beside an unmigrated parent.
  */
class SpecEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("specevo").resolve("t").toString

  private def seed(root: String): Unit = {
    val df = (1L to 60L)
      .map(i => (i, s"d${i % 3}", s"t${i % 2}", i * 10L))
      .toDF("id", "day", "typ", "cents")
    VersionedTable.upsert(spark, root, df,
      Seq("id"), Seq("day"), keepVersions = 10)
  }

  test("a prefix-extension commit migrates exactly the touched " +
    "parent, mixed table reads whole, time travel keeps the old spec") {
    val root = tmpRoot()
    seed(root)
    // touch only day=d1 under the NEW spec (day, typ)
    VersionedTable.upsert(spark, root,
      Seq((1000L, "d1", "t0", 77L)).toDF("id", "day", "typ", "cents"),
      Seq("id"), Seq("day", "typ"), keepVersions = 10)
    val m = VersionedTable.readPartitionedManifest(root).get
    assert(m.partitionColumns === Seq("day", "typ"))
    val keys = m.partitions.keySet
    assert(keys.contains("day=d0") && keys.contains("day=d2"))
    assert(!keys.contains("day=d1"), keys.toString)
    assert(keys.contains("day=d1/typ=t0") && keys.contains("day=d1/typ=t1"))
    // content: everything + the new row, across mixed depths
    val live = VersionedTable.readLive(spark, root)
    assert(live.count() === 61)
    assert(live.filter(col("day") === "d1").count() === 21)
    // typ present for every row (old dirs: data column; new: path)
    assert(live.filter(col("typ").isNull).count() === 0)
    // time travel to v1 reads the ORIGINAL day-spec snapshot
    val v1 = VersionedTable.readVersion(spark, root, 1L)
    assert(v1.count() === 60)
    assert(VersionedTable.historyPartitionedManifest(root, 1L)
      .get.partitionColumns === Seq("day"))
  }

  test("a later old-depth-touching commit under the new spec lifts " +
    "the unmigrated parent whole (no doubling), and full compaction " +
    "completes the migration") {
    val root = tmpRoot()
    seed(root)
    VersionedTable.upsert(spark, root,
      Seq((1000L, "d1", "t0", 77L)).toDF("id", "day", "typ", "cents"),
      Seq("id"), Seq("day", "typ"), keepVersions = 10)
    // now touch d0 (still old-spec) with a NEW-spec commit that only
    // names (d0, t1): the whole d0 parent must migrate, not just the
    // t1 slice
    VersionedTable.upsert(spark, root,
      Seq((2000L, "d0", "t1", 88L)).toDF("id", "day", "typ", "cents"),
      Seq("id"), Seq("day", "typ"), keepVersions = 10)
    val keys2 = VersionedTable.readPartitionedManifest(root)
      .get.partitions.keySet
    assert(!keys2.contains("day=d0"))
    assert(keys2.contains("day=d0/typ=t0") &&
      keys2.contains("day=d0/typ=t1"))
    val live = VersionedTable.readLive(spark, root)
    assert(live.count() === 62)
    assert(live.filter(col("id") === 1000L).count() === 1)
    // d2 is still old-spec; compaction rewrites fragmented partitions
    // under the CURRENT spec, so it finishes the migration when it
    // touches them — force it by making d2 fragmented
    VersionedTable.upsert(spark, root,
      Seq((3000L, "d2", "t1", 99L)).toDF("id", "day", "typ", "cents"),
      Seq("id"), Seq("day", "typ"), keepVersions = 10)
    val keys3 = VersionedTable.readPartitionedManifest(root)
      .get.partitions.keySet
    assert(keys3.forall(_.contains("/")), keys3.toString)
    assert(VersionedTable.readLive(spark, root).count() === 63)
  }

  test("pruning works across the mixed boundary: a day probe selects " +
    "old-spec exact keys and new-spec children") {
    val root = tmpRoot()
    seed(root)
    VersionedTable.upsert(spark, root,
      Seq((1000L, "d1", "t0", 77L)).toDF("id", "day", "typ", "cents"),
      Seq("id"), Seq("day", "typ"), keepVersions = 10)
    def dayProbe(day: String) =
      EqualTo("day", day) +: between("id", 0L, 10000L)
    val (pSelOld, pTot, _, _) = twoLevel(VersionedTable
      .pruneDecision(root, dayProbe("d0")))
    assert(pSelOld === 1 && pTot === 4) // d0, d2, d1/t0, d1/t1
    val (pSelNew, _, _, _) = twoLevel(VersionedTable
      .pruneDecision(root, dayProbe("d1")))
    assert(pSelNew === 2) // both children
    val viaRead = VersionedTable.readLivePruned(
      spark, root, dayProbe("d1"))
    assert(viaRead.count() === 21)
  }

  test("review fix: a SECOND evolution lifts intermediate-depth " +
    "pointers of the touched parent — no row doubling") {
    val root = tmpRoot()
    seed(root) // (day) spec, d0..d2
    // evolve to (day, typ) touching d1 → manifest holds d1/typ=* at
    // depth 2, d0/d2 at depth 1
    VersionedTable.upsert(spark, root,
      Seq((1000L, "d1", "t0", 77L)).toDF("id", "day", "typ", "cents"),
      Seq("id"), Seq("day", "typ"), keepVersions = 10)
    // evolve AGAIN to (day, typ, band) touching d1: the depth-2
    // pointers day=d1/typ=* must be lifted (not just a depth-1
    // day=d1, which no longer exists in the manifest)
    VersionedTable.upsert(spark, root,
      Seq((2000L, "d1", "t1", "b0", 88L))
        .toDF("id", "day", "typ", "band", "cents"),
      Seq("id"), Seq("day", "typ", "band"),
      graft.sinks.MergeWriter.SchemaMode.SyncAllColumns,
      keepVersions = 10)
    val keys = VersionedTable.readPartitionedManifest(root)
      .get.partitions.keySet
    assert(!keys.exists(k => k == "day=d1" ||
      (k.startsWith("day=d1/") && k.count(_ == '/') < 2)), keys.toString)
    val live = VersionedTable.readLive(spark, root)
    assert(live.count() === 62) // 60 seed + 1000 + 2000, NO doubling
    assert(live.filter(col("day") === "d1").count() === 22)
    assert(live.filter(col("id") === 1000L).count() === 1)
  }

  test("non-prefix respec fails loudly; dynamic overwrite refuses " +
    "writing a child beside an unmigrated parent") {
    val root = tmpRoot()
    seed(root)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, root,
        Seq((1L, "d0", "t0", 1L)).toDF("id", "day", "typ", "cents"),
        Seq("id"), Seq("typ"))
    }
    assert(e.getMessage.contains("prefix"))
    // evolve d1, then overwritePartitions targeting unmigrated d0
    // children must refuse (doubling hazard)
    VersionedTable.upsert(spark, root,
      Seq((1000L, "d1", "t0", 77L)).toDF("id", "day", "typ", "cents"),
      Seq("id"), Seq("day", "typ"), keepVersions = 10)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.overwritePartitions(spark, root,
        Seq((5000L, "d0", "t0", 5L)).toDF("id", "day", "typ", "cents"),
        Seq("day", "typ"))
    }
    assert(e2.getMessage.contains("unmigrated parent") ||
      e2.getMessage.contains("partition"), e2.getMessage)
    // the table is intact
    assert(VersionedTable.readLive(spark, root).count() === 61)
  }
}
