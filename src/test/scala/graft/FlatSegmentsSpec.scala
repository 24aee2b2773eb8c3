package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.sinks.VersionedTable

/** Flat snapshots as segment lists: an append, a key-disjoint upsert
  * and an insert-only MERGE write only their rows and carry the live
  * segments by reference; every reader, retention pass and fold sees
  * all segments.
  */
class FlatSegmentsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("flatseg").resolve("t").toString

  private def rows(from: Long, until: Long): DataFrame =
    (from until until).map(i => (i, s"v$i")).toDF("id", "v")

  /** The version dirs on disk, sorted. */
  private def vdirs(root: String): Seq[String] = {
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("v\\d{8}")).toSeq.sorted
    finally s.close()
  }

  private def historyEntries(root: String): Seq[String] = {
    val s = Files.list(Paths.get(root, "_versions"))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  private def rowsIn(root: String, dir: String): Long =
    spark.read.parquet(Paths.get(root, dir).toString).count()

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  private def segments(root: String): Seq[String] =
    VersionedTable.readManifest(root).get.segments

  test("an append commits a dir holding only the batch; the live " +
    "segments carry by reference") {
    val root = tmpRoot()
    VersionedTable.append(spark, root, rows(0, 100))
    val v2 = VersionedTable.append(spark, root, rows(100, 105))
    assert(rowsIn(root, VersionedTable.versionDirName(v2)) === 5L)
    assert(segments(root) === Seq("v00000001", "v00000002"))
    assert(ids(VersionedTable.readLive(spark, root)) ===
      (0L until 105L).toSet)
    // the history entry lists the same segments
    assert(VersionedTable.versionView(root, v2).partitions.values.toSeq
      .sorted === segments(root))
  }

  test("a key-disjoint upsert commits only the batch; an upsert that " +
    "matches a live key rewrites the snapshot into one dir") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root, rows(0, 100), Seq("id"))
    val v2 = VersionedTable.upsert(spark, root, rows(100, 105), Seq("id"))
    assert(rowsIn(root, VersionedTable.versionDirName(v2)) === 5L)
    assert(segments(root) === Seq("v00000001", "v00000002"))
    val v3 = VersionedTable.upsert(spark, root,
      Seq((5L, "x"), (200L, "y")).toDF("id", "v"), Seq("id"))
    assert(segments(root) === Seq(VersionedTable.versionDirName(v3)))
    assert(rowsIn(root, VersionedTable.versionDirName(v3)) === 106L)
    val live = VersionedTable.readLive(spark, root)
      .as[(Long, String)].collect().toMap
    assert(live.size === 106 && live(5L) === "x" && live(200L) === "y" &&
      live(104L) === "v104")
    // matches nothing, but lies inside a live file's key range: footer
    // stats cannot prove it disjoint, so it rewrites too
    val evens = tmpRoot()
    VersionedTable.upsert(spark, evens, (0L until 100L by 2L)
      .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), Seq("id"))
    val v5 = VersionedTable.upsert(spark, evens,
      Seq((51L, "z")).toDF("id", "v"), Seq("id"))
    assert(segments(evens) === Seq(VersionedTable.versionDirName(v5)))
    assert(VersionedTable.readLive(spark, evens).count() === 51L)
  }

  test("a key-disjoint upsert whose column type cannot combine with the " +
    "table's throws and leaves the manifest unchanged") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root, rows(0, 10), Seq("id"))
    val manifest = Paths.get(root, "_manifest.json")
    val before = Files.readAllBytes(manifest).toSeq
    val arrays = Seq((100L, Seq("a"))).toDF("id", "v")
    intercept[org.apache.spark.sql.AnalysisException](
      VersionedTable.upsert(spark, root, arrays, Seq("id")))
    val withDate = tmpRoot()
    VersionedTable.upsert(spark, withDate,
      Seq((0L, java.sql.Date.valueOf("2024-01-01"))).toDF("id", "v"),
      Seq("id"))
    intercept[org.apache.spark.sql.AnalysisException](
      VersionedTable.upsert(spark, withDate,
        Seq((10L, true), (11L, false)).toDF("id", "v"), Seq("id")))
    assert(Files.readAllBytes(manifest).toSeq === before)
    assert(VersionedTable.readManifest(withDate).get.version === 1L)
    assert(ids(VersionedTable.readLive(spark, root)) === (0L until 10L).toSet)
    assert(VersionedTable.readLive(spark, withDate).count() === 1L)
  }

  test("commit pruning, expireSnapshots, removeOrphans, set_ref/" +
    "drop_ref and fastForward never delete a dir that a retained " +
    "snapshot or ref lists") {
    val root = tmpRoot()
    VersionedTable.append(spark, root, rows(0, 10))
    VersionedTable.append(spark, root, rows(10, 20))
    VersionedTable.append(spark, root, rows(20, 30))
    // keepVersions = 2, but the live snapshot lists all three dirs
    assert(vdirs(root) === Seq("v00000001", "v00000002", "v00000003"))
    assert(VersionedTable.removeOrphans(root, 0L)._3 === 0)
    assert(VersionedTable.expireSnapshots(root, 1)._2 === 2)
    assert(vdirs(root) === Seq("v00000001", "v00000002", "v00000003"))
    assert(VersionedTable.readLive(spark, root).count() === 30L)
    // a tag pins every segment its snapshot lists (v3 = v1+v2+v3)
    VersionedTable.setRef(root, "t", 3L)
    def rewrite(id: Long): Long = VersionedTable.upsert(spark, root,
      Seq((id, "r")).toDF("id", "v"), Seq("id"))
    rewrite(0L) // v4: one dir
    rewrite(1L) // v5: one dir; v4 and v5 are the newest two
    rewrite(2L) // v6
    assert(vdirs(root) === Seq("v00000001", "v00000002", "v00000003",
      "v00000005", "v00000006"))
    assert(ids(VersionedTable.readRef(spark, root, "t")) ===
      (0L until 30L).toSet)
    VersionedTable.dropRef(root, "t")
    rewrite(3L) // v7
    assert(vdirs(root) === Seq("v00000006", "v00000007"))
    // a branch forked from a segmented main, published by reference
    VersionedTable.append(spark, root, rows(30, 35)) // v8 = v7 + v8
    val head = VersionedTable.appendToBranch(spark, root, rows(35, 40),
      "br") // v9: the fork's whole content
    assert(rowsIn(root, VersionedTable.versionDirName(head)) === 40L)
    val pub = VersionedTable.fastForward(root, "br") // v10 lists v9
    assert(segments(root) === Seq(VersionedTable.versionDirName(head)))
    VersionedTable.append(spark, root, rows(40, 45)) // v11 = v9 + v11
    assert(segments(root) === Seq("v00000009", "v00000011"))
    assert(VersionedTable.removeOrphans(root, 0L)._3 === 0)
    VersionedTable.expireSnapshots(root, 1)
    assert(ids(VersionedTable.readLive(spark, root)) ===
      (0L until 45L).toSet)
    assert(vdirs(root).contains("v00000009"))
    assert(pub === 10L)
  }

  test("VERSION AS OF the version before an append returns the rows " +
    "from before the append") {
    val root = tmpRoot()
    val v1 = VersionedTable.append(spark, root, rows(0, 10))
    val v2 = VersionedTable.append(spark, root, rows(10, 15))
    assert(ids(VersionedTable.readVersion(spark, root, v1)) ===
      (0L until 10L).toSet)
    assert(ids(spark.read.format("graft")
      .option("versionAsOf", v1.toString).load(root)) ===
      (0L until 10L).toSet)
    assert(ids(VersionedTable.readVersion(spark, root, v2)) ===
      (0L until 15L).toSet)
  }

  test("CDF and diffVersions across an append return exactly the " +
    "appended rows") {
    val root = tmpRoot()
    val v1 = VersionedTable.upsert(spark, root, rows(0, 10), Seq("id"))
    val v2 = VersionedTable.upsert(spark, root, rows(10, 13), Seq("id"))
    val cdf = VersionedTable.readChanges(spark, root, v1, v2, Seq("id"))
      .select(col("id"), col("v"), col(VersionedTable.ChangeTypeCol))
      .as[(Long, String, String)].collect().toSet
    assert(cdf === (10L until 13L).map(i => (i, s"v$i", "insert")).toSet)
    val diff = VersionedTable.diffVersions(spark, root, v1, v2, Seq("id"))
      .filter(col("status") =!= "same")
      .select("id", "status").as[(Long, String)].collect().toSet
    assert(diff === (10L until 13L).map(_ -> "added").toSet)
  }

  test("a DSv2 re-read after an append sees the new rows") {
    val root = tmpRoot()
    VersionedTable.append(spark, root, rows(0, 10))
    def probe(): Long = spark.read.format("graft").load(root)
      .filter(col("id") >= 5L).count()
    assert(probe() === 5L)
    assert(probe() === 5L) // a scan-memo hit
    VersionedTable.append(spark, root, rows(10, 12))
    assert(probe() === 7L)
    assert(spark.read.format("graft").load(root).count() === 12L)
  }

  /** The catalog warehouse (catalogs keep theirs for the JVM's life). */
  private lazy val wh: String = {
    val dir = Files.createTempDirectory("flatseg_wh").toString
    spark.conf.set("spark.sql.catalog.fscat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.fscat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fscat.s")
    dir
  }

  test("a MERGE that only inserts commits a dir holding only the " +
    "inserted rows") {
    wh
    spark.sql("CREATE TABLE fscat.s.m (id BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO fscat.s.m SELECT id, id AS v FROM range(0, 50)")
    spark.sql("MERGE INTO fscat.s.m t USING (SELECT id, id * 2 AS v " +
      "FROM range(45, 55)) s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)")
    val root = s"$wh/s/m"
    assert(segments(root).size === 2)
    assert(rowsIn(root, segments(root).last) === 5L)
    val got = spark.sql("SELECT id, v FROM fscat.s.m")
      .as[(Long, Long)].collect().toMap
    assert(got === ((0L until 50L).map(i => i -> i) ++
      (50L until 55L).map(i => i -> i * 2)).toMap)
  }

  test("a keyed INSERT of fresh keys commits only its rows; one that " +
    "hits a live key rewrites") {
    wh
    spark.sql("CREATE TABLE fscat.s.k (id BIGINT, v BIGINT) USING graft " +
      "TBLPROPERTIES ('keys' = 'id')")
    val root = s"$wh/s/k"
    spark.sql("INSERT INTO fscat.s.k SELECT id, id AS v FROM range(0, 50)")
    spark.sql("INSERT INTO fscat.s.k SELECT id, id AS v FROM range(50, 55)")
    assert(segments(root).size === 2)
    assert(rowsIn(root, segments(root).last) === 5L)
    spark.sql("INSERT INTO fscat.s.k VALUES (3, 33)")
    assert(segments(root).size === 1)
    val got = spark.sql("SELECT id, v FROM fscat.s.k")
      .as[(Long, Long)].collect().toMap
    assert(got === (0L until 55L).map(i => i -> (if (i == 3L) 33L else i))
      .toMap)
  }

  test("a position delete and a MoR UPDATE on an older segment survive " +
    "a later append") {
    wh
    spark.sql("CREATE TABLE fscat.s.t (id BIGINT, v BIGINT) USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    val root = s"$wh/s/t"
    def insert(from: Long, until: Long): Unit = {
      (from until until).map(i => (i, i)).toDF("id", "v")
        .createOrReplaceTempView("fs_batch")
      spark.sql("INSERT INTO fscat.s.t SELECT * FROM fs_batch")
    }
    insert(1, 11)
    insert(11, 21)
    assert(segments(root).size === 2)
    spark.sql("DELETE FROM fscat.s.t WHERE id = 3")
    spark.sql("UPDATE fscat.s.t SET v = 999 WHERE id = 4")
    insert(21, 26)
    assert(segments(root).size === 3)
    def table(): Map[Long, Long] = spark.sql("SELECT id, v FROM fscat.s.t")
      .as[(Long, Long)].collect().toMap
    val expected = (1L until 26L).filter(_ != 3L)
      .map(i => i -> (if (i == 4L) 999L else i)).toMap
    assert(table() === expected)
    assert(VersionedTable.readLiveWithPosDeletes(spark, root)
      .as[(Long, Long)].collect().toMap === expected)
    // the fold still sees every segment
    VersionedTable.vacuumPosDeletes(spark, root)
    assert(table() === expected)
    assert(VersionedTable.readLive(spark, root)
      .as[(Long, Long)].collect().toMap === expected)
  }

  test("64 appends in a row leave a readable table whose plan has a " +
    "bounded number of scan nodes") {
    val root = tmpRoot()
    (0L until 64L).foreach(i =>
      VersionedTable.append(spark, root, Seq((i, s"v$i")).toDF("id", "v")))
    val live = VersionedTable.readLive(spark, root)
    assert(ids(live) === (0L until 64L).toSet)
    assert(segments(root).size <= VersionedTable.MaxFlatSegments)
    val scans = live.queryExecution.optimizedPlan
      .collect { case r: LogicalRelation => r }.size
    assert(scans >= 1 && scans <= VersionedTable.MaxFlatSegments,
      s"$scans scan nodes")
    assert(spark.read.format("graft").load(root).count() === 64L)
    // every dir the retained history lists is on disk
    VersionedTable.versions(root).foreach(v =>
      VersionedTable.versionView(root, v))
  }

  test("a second vacuumDeletes leaves the version, the dirs and the " +
    "history unchanged") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root, rows(0, 10), Seq("id"))
    VersionedTable.softDelete(spark, root, Seq(3L).toDF("id"), Seq("id"))
    val v = VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    val before = (vdirs(root), historyEntries(root),
      VersionedTable.eqDeleteVersion(root))
    assert(VersionedTable.vacuumDeletes(spark, root, Seq("id")) === v)
    assert((vdirs(root), historyEntries(root),
      VersionedTable.eqDeleteVersion(root)) === before)
    assert(ids(VersionedTable.readLiveWithDeletes(spark, root, Seq("id")))
      === (0L until 10L).filter(_ != 3L).toSet)
  }

  test("vacuumDeletes rewrites only the segments holding a masked row") {
    val root = tmpRoot()
    VersionedTable.append(spark, root, rows(0, 10))
    VersionedTable.append(spark, root, rows(10, 20))
    VersionedTable.softDelete(spark, root, Seq(3L).toDF("id"), Seq("id"))
    VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    // only v1 held id 3: it rewrites into v3; v2 carries by reference
    assert(segments(root) === Seq("v00000002", "v00000003"))
    assert(rowsIn(root, "v00000003") === 9L)
    assert(ids(VersionedTable.readLive(spark, root)) ===
      (0L until 20L).filter(_ != 3L).toSet)
  }

  test("a flat table written before segments existed reads the same, " +
    "and an append carries its dir by reference") {
    // written by the single-dir layout: upsert ids 0..19 (v1), an
    // upsert replacing id 5 and adding 20 (v2, tagged t2), an append
    // of id 30 (v3), then pending position deletes of ids 0..2 and a
    // pending equality delete of id 10
    val src = Paths.get("src", "test", "resources", "fixtures",
      "head_flat_table")
    assert(Files.isDirectory(src), s"run from the repository root: $src")
    val root = tmpRoot()
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val to = Paths.get(root).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally s.close()
    val base = ((0L until 21L) :+ 30L).toSet
    val visible = base -- Set(0L, 1L, 2L, 10L)
    assert(segments(root) === Seq("v00000003"))
    assert(VersionedTable.versions(root) === Seq(2L, 3L))
    assert(ids(VersionedTable.readLive(spark, root)) === base)
    assert(ids(VersionedTable.readLiveWithPosDeletes(spark, root)) ===
      base -- Set(0L, 1L, 2L))
    assert(ids(VersionedTable.readLiveWithDeletes(spark, root, Seq("id")))
      === base - 10L)
    assert(ids(spark.read.format("graft").load(root)) === visible)
    val v2 = VersionedTable.readRef(spark, root, "t2")
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(v2.keySet === (0L until 21L).toSet && v2(5L) === 555L &&
      v2(7L) === 70L)
    VersionedTable.append(spark, root,
      Seq((40L, 400L, "s40")).toDF("id", "v", "s"))
    assert(segments(root) === Seq("v00000003", "v00000004"))
    assert(ids(spark.read.format("graft").load(root)) === visible + 40L)
    VersionedTable.vacuumPosDeletes(spark, root)
    VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    assert(ids(VersionedTable.readLive(spark, root)) === visible + 40L)
  }
}
