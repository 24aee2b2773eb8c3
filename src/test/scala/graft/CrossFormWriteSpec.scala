package graft

import java.nio.file.{Files, Paths}
import graft.sinks.VersionedTable

/** A table's form — flat, or partitioned by a spec — belongs to the
  * table: every write verb reads it from the manifest its attempt
  * pinned. A write that names no spec lands in the committed form with
  * every earlier row kept; a spec that contradicts the committed one
  * throws and leaves `_manifest.json` byte-identical. Covers both write
  * routes: the library verbs and `df.write.format("graft")`.
  */
class CrossFormWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft_xform").resolve("t").toString

  private def manifestBytes(root: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(root, "_manifest.json")).toSeq

  private def ids(root: String): Set[Long] =
    spark.read.format("graft").load(root).select("id").as[Long]
      .collect().toSet

  /** A table partitioned by `p`, holding ids 1 and 2. */
  private def partitioned(): String = {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "v"),
      Seq("id"), partitionBy = Seq("p"))
    root
  }

  /** A flat table holding ids 1 and 2. */
  private def flat(): String = {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "p", "v"), Seq("id"))
    root
  }

  private def assertPartitionedBy(root: String, spec: Seq[String]): Unit =
    assert(VersionedTable.readPartitionedManifest(root)
      .map(_.partitionColumns).contains(spec))

  private def assertRejected(root: String)(write: => Any): Unit = {
    val before = manifestBytes(root)
    val e = intercept[Exception](write)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
    assert(manifestBytes(root) === before, "the manifest moved")
    assert(ids(root) === Set(1L, 2L))
  }

  private val batch = Seq((3L, "a", 30L)).toDF("id", "p", "v")

  test("DSv2 append without partitionColumns on a partitioned table " +
    "lands partitioned and keeps every earlier row") {
    val root = partitioned()
    batch.write.format("graft").mode("append").save(root)
    assertPartitionedBy(root, Seq("p"))
    assert(ids(root) === Set(1L, 2L, 3L))
  }

  test("DSv2 keyed write without partitionColumns on a partitioned " +
    "table upserts into the partitions") {
    val root = partitioned()
    Seq((2L, "b", 21L), (3L, "a", 30L)).toDF("id", "p", "v")
      .write.format("graft").option("keys", "id").mode("append").save(root)
    assertPartitionedBy(root, Seq("p"))
    assert(spark.read.format("graft").load(root).select("id", "v")
      .as[(Long, Long)].collect().toMap ===
      Map(1L -> 10L, 2L -> 21L, 3L -> 30L))
  }

  test("DSv2 partitionColumns on a flat table throws and commits " +
    "nothing") {
    val root = flat()
    assertRejected(root) {
      batch.write.format("graft").option("partitionColumns", "p")
        .mode("append").save(root)
    }
  }

  test("library upsert without partitionBy on a partitioned table " +
    "merges into the partitions") {
    val root = partitioned()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a", 11L), (3L, "a", 30L)).toDF("id", "p", "v"), Seq("id"))
    assertPartitionedBy(root, Seq("p"))
    assert(VersionedTable.readLive(spark, root).select("id", "v")
      .as[(Long, Long)].collect().toMap ===
      Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
  }

  test("library append without partitionBy on a partitioned table " +
    "appends into the partitions") {
    val root = partitioned()
    VersionedTable.append(spark, root, batch)
    assertPartitionedBy(root, Seq("p"))
    assert(ids(root) === Set(1L, 2L, 3L))
  }

  test("library upsert with partitionBy on a flat table throws and " +
    "commits nothing") {
    val root = flat()
    assertRejected(root) {
      VersionedTable.upsert(spark, root, batch, Seq("id"),
        partitionBy = Seq("p"))
    }
  }

  test("library append with partitionBy on a flat table throws and " +
    "commits nothing") {
    val root = flat()
    assertRejected(root) {
      VersionedTable.append(spark, root, batch, partitionBy = Seq("p"))
    }
  }

  test("a spec that is not a prefix extension throws; replaceTable " +
    "without a spec keeps the committed one") {
    val root = partitioned()
    assertRejected(root) {
      VersionedTable.upsert(spark, root, batch, Seq("id"),
        partitionBy = Seq("v"))
    }
    // replace never evolves the spec, not even by a prefix extension
    assertRejected(root) {
      VersionedTable.replaceTable(spark, root, batch,
        partitionBy = Seq("p", "v"))
    }
    VersionedTable.replaceTable(spark, root, batch)
    assertPartitionedBy(root, Seq("p"))
    assert(ids(root) === Set(3L))
    // the same list as the committed spec is accepted
    VersionedTable.append(spark, root,
      Seq((4L, "c", 40L)).toDF("id", "p", "v"), partitionBy = Seq("p"))
    assert(ids(root) === Set(3L, 4L))
  }

  test("one read, bloom and branch verb serves both forms") {
    for (root <- Seq(flat(), partitioned())) {
      val v1 = VersionedTable.snapshotView(root).get.version
      VersionedTable.append(spark, root, batch)
      assert(VersionedTable.readVersion(spark, root, v1).select("id")
        .as[Long].collect().toSet === Set(1L, 2L))
      VersionedTable.setRef(root, "t1", v1)
      assert(VersionedTable.readRef(spark, root, "t1").count() === 2L)
      val b = VersionedTable.appendToBranch(spark, root,
        Seq((5L, "b", 50L)).toDF("id", "p", "v"), "audit")
      assert(VersionedTable.readVersion(spark, root, b).select("id")
        .as[Long].collect().toSet === Set(1L, 2L, 3L, 5L), root)
      VersionedTable.addBloomSidecar(spark, root, Seq("id"), bits = 1 << 10)
      val dirs = VersionedTable.snapshotView(root).get.partitions.values
        .toSet
      assert(dirs.forall(d => Files.exists(Paths.get(root, d,
        "_bloom.json"))), s"$root: a live dir has no bloom sidecar")
      assert(ids(root) === Set(1L, 2L, 3L))
    }
  }
}
