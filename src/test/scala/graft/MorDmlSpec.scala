package graft

import java.nio.file.Files
import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._

/** Merge-on-read UPDATE/MERGE/DELETE (`TBLPROPERTIES
  * ('graft.dml.mode' = 'merge-on-read')`): statements commit ONE
  * keyed batch into the pos-delete sub-table — pre-images as position
  * deletes, post-images as append entries — rewriting ZERO data
  * files; vacuum folds later. These tests pin:
  *   - result-equality with the COW path on identical inputs,
  *   - the zero-rewrite property (main manifest version/pointers
  *     unchanged by the statement),
  *   - vacuum convergence (fold produces the same rows physically),
  *   - composition with every other surface that must see or fold
  *     pending post-images (COW statements, upserts, DELETE fast
  *     path, equality deletes, pruned DSv2 reads, time travel),
  *   - serialization of racing MoR statements.
  */
class MorDmlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_mor_wh").toString
    spark.conf.set("spark.sql.catalog.mrcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mrcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mrcat.m")
    dir
  }

  private def rows(table: String): Seq[(Long, Long, String)] =
    spark.sql(s"SELECT id, v, s FROM $table ORDER BY id, v")
      .as[(Long, Long, String)].collect().toSeq

  private def seed(table: String): Unit =
    spark.sql(s"INSERT INTO $table VALUES " +
      "(1, 10, 'a'), (2, 20, 'b'), (3, 30, 'a'), (4, 40, 'c'), " +
      "(5, 50, 'b'), (6, 60, 'a')")

  test("flat MoR UPDATE: hash-equal to COW, zero data-file commits, " +
    "vacuum converges to the COW result and resets the entry set") {
    wh
    spark.sql("CREATE TABLE mrcat.m.cow (id BIGINT, v BIGINT, " +
      "s STRING) USING graft")
    spark.sql("CREATE TABLE mrcat.m.mor (id BIGINT, v BIGINT, " +
      "s STRING) USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    seed("mrcat.m.cow"); seed("mrcat.m.mor")
    val morRoot = s"$wh/m/mor"
    val verBefore = VersionedTable.readManifest(morRoot).get.version
    spark.sql("UPDATE mrcat.m.cow SET v = v * 2, s = upper(s) " +
      "WHERE s = 'a'")
    spark.sql("UPDATE mrcat.m.mor SET v = v * 2, s = upper(s) " +
      "WHERE s = 'a'")
    assert(rows("mrcat.m.mor") === rows("mrcat.m.cow"))
    // the MoR statement committed NOTHING to the data table
    assert(VersionedTable.readManifest(morRoot).get.version ===
      verBefore, "MoR UPDATE must not bump the data-table version")
    val (live, _) = VersionedTable.posDeleteEntryCounts(spark, morRoot)
    assert(live > 0, "pre-image delete entries must be pending")
    // library read agrees with SQL
    assert(VersionedTable.readLiveWithPosDeletes(spark, morRoot)
      .orderBy("id").as[(Long, Long, String)].collect().toSeq ===
      rows("mrcat.m.cow"))
    // vacuum folds: rows identical, entries reset, version bumped
    val (v2, rewrittenFiles) =
      VersionedTable.vacuumPosDeletes(spark, morRoot)
    assert(v2 === verBefore + 1)
    assert(rewrittenFiles > 0, "matched base files carry deletes")
    assert(rows("mrcat.m.mor") === rows("mrcat.m.cow"))
    val (liveAfter, _) =
      VersionedTable.posDeleteEntryCounts(spark, morRoot)
    assert(liveAfter === 0L, "fold must reset the entry set")
  }

  test("second MoR UPDATE replaces pending post-images in place " +
    "(no duplicate rows), and a no-match MoR UPDATE commits nothing") {
    wh
    spark.sql("CREATE TABLE mrcat.m.twice (id BIGINT, v BIGINT, " +
      "s STRING) USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    seed("mrcat.m.twice")
    spark.sql("UPDATE mrcat.m.twice SET v = v * 2 WHERE s = 'a'")
    spark.sql("UPDATE mrcat.m.twice SET v = v + 1 WHERE s = 'a'")
    assert(spark.table("mrcat.m.twice").count() === 6,
      "in-place replacement must not duplicate pending rows")
    assert(rows("mrcat.m.twice") === Seq(
      (1L, 21L, "a"), (2L, 20L, "b"), (3L, 61L, "a"), (4L, 40L, "c"),
      (5L, 50L, "b"), (6L, 121L, "a")))
    val root = s"$wh/m/twice"
    val pv = VersionedTable.posDeleteVersion(root)
    spark.sql("UPDATE mrcat.m.twice SET v = 0 WHERE s = 'zzz'")
    assert(VersionedTable.posDeleteVersion(root) === pv,
      "a no-match MoR UPDATE must not commit entries")
  }

  test("partitioned MoR UPDATE: every partition pointer survives " +
    "unchanged; a later upsert folds ONLY its touched partition's " +
    "pending post-images, the rest stay pending and visible") {
    wh
    spark.sql("CREATE TABLE mrcat.m.p (id BIGINT, day STRING, " +
      "v BIGINT) USING graft PARTITIONED BY (day) " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read', " +
      "'keys' = 'id')")
    spark.sql("INSERT INTO mrcat.m.p VALUES " +
      "(1, 'd1', 10), (2, 'd1', 20), (3, 'd2', 30), (4, 'd3', 40)")
    val root = s"$wh/m/p"
    val before = VersionedTable.readPartitionedManifest(root).get
    spark.sql("UPDATE mrcat.m.p SET v = v + 1000 WHERE v >= 20")
    val after = VersionedTable.readPartitionedManifest(root).get
    assert(after.partitions === before.partitions,
      "MoR UPDATE must not move ANY partition pointer")
    assert(spark.sql("SELECT id, v FROM mrcat.m.p ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 1020L), (3L, 1030L), (4L, 1040L)))
    // an upsert into d1 folds d1's pending post-image; d2/d3 pending
    // rows stay visible through the fold of an unrelated partition
    Seq((7L, "d1", 70L)).toDF("id", "day", "v")
      .write.format("graft").option("keys", "id")
      .option("partitionColumns", "day").mode("append").save(root)
    assert(spark.sql("SELECT id, v FROM mrcat.m.p ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 1020L), (3L, 1030L), (4L, 1040L),
        (7L, 70L)))
    // d1's new pointer ≠ old; d2/d3 pointers intact
    val m3 = VersionedTable.readPartitionedManifest(root).get
    assert(m3.partitions("day=d2") === before.partitions("day=d2"))
    assert(m3.partitions("day=d3") === before.partitions("day=d3"))
    assert(m3.partitions("day=d1") !== before.partitions("day=d1"))
    // partitioned vacuum folds the remainder; nothing changes
    // observably and the entry set drains
    VersionedTable.vacuumPosDeletes(spark, root)
    assert(spark.sql("SELECT id, v FROM mrcat.m.p ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 1020L), (3L, 1030L), (4L, 1040L),
        (7L, 70L)))
    val (liveAfter, _) =
      VersionedTable.posDeleteEntryCounts(spark, root)
    assert(liveAfter === 0L)
  }

  test("MoR DELETE: an arithmetic (untranslatable) predicate " +
    "pos-deletes base rows AND tombstones pending post-images; the " +
    "translatable fast path tombstones them too") {
    wh
    spark.sql("CREATE TABLE mrcat.m.d (id BIGINT, v BIGINT, s STRING) " +
      "USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    seed("mrcat.m.d")
    // make rows 1,3,6 pending post-images first
    spark.sql("UPDATE mrcat.m.d SET v = v * 2 WHERE s = 'a'")
    val root = s"$wh/m/d"
    val ver = VersionedTable.readManifest(root).get.version
    // arithmetic predicate → the MoR DELETE path (not V1-translatable)
    spark.sql("DELETE FROM mrcat.m.d WHERE id % 2 = 0") // 2,4,6
    assert(VersionedTable.readManifest(root).get.version === ver,
      "MoR DELETE must not rewrite data files")
    assert(rows("mrcat.m.d") ===
      Seq((1L, 20L, "a"), (3L, 60L, "a"), (5L, 50L, "b")))
    // translatable predicate → deleteWhere fast path; row 3 is a
    // PENDING post-image and must be tombstoned by it
    spark.sql("DELETE FROM mrcat.m.d WHERE id = 3")
    assert(rows("mrcat.m.d") === Seq((1L, 20L, "a"), (5L, 50L, "b")))
    assert(VersionedTable.readManifest(root).get.version === ver)
  }

  test("flat MoR MERGE: full clause set hash-equal to COW, zero " +
    "data-file commits; cardinality violation still raised") {
    wh
    Seq((2L, 200L, "x"), (4L, 400L, "y"), (9L, 900L, "z"),
      (6L, 600L, "q")).toDF("id", "nv", "ns")
      .createOrReplaceTempView("mor_src")
    for (t <- Seq("mcow", "mmor")) {
      val prop = if (t == "mmor")
        " TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')" else ""
      spark.sql(s"CREATE TABLE mrcat.m.$t (id BIGINT, v BIGINT, " +
        s"s STRING) USING graft$prop")
      seed(s"mrcat.m.$t")
    }
    val root = s"$wh/m/mmor"
    val ver = VersionedTable.readManifest(root).get.version
    def merge(t: String): Unit = spark.sql(
      s"""MERGE INTO mrcat.m.$t t USING mor_src s ON t.id = s.id
         |WHEN MATCHED AND s.ns = 'q' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv, s = s.ns
         |WHEN NOT MATCHED THEN INSERT (id, v, s)
         |  VALUES (s.id, s.nv, s.ns)
         |WHEN NOT MATCHED BY SOURCE AND t.s = 'b' THEN
         |  UPDATE SET v = t.v + 5""".stripMargin)
    merge("mcow"); merge("mmor")
    assert(rows("mrcat.m.mmor") === rows("mrcat.m.mcow"))
    assert(VersionedTable.readManifest(root).get.version === ver,
      "MoR MERGE must not bump the data-table version")
    // vacuum converges
    VersionedTable.vacuumPosDeletes(spark, root)
    assert(rows("mrcat.m.mmor") === rows("mrcat.m.mcow"))
    // cardinality violation unchanged under MoR
    Seq((1L, 1L, "k"), (1L, 2L, "k")).toDF("id", "nv", "ns")
      .createOrReplaceTempView("mor_dup")
    val e = intercept[Exception](spark.sql(
      "MERGE INTO mrcat.m.mmor t USING mor_dup s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv"))
    assert(e.getMessage.contains("cardinality"), e.getMessage)
  }

  test("COW statements and rewrites FOLD pending post-images: a COW " +
    "UPDATE over a MoR-pending table carries them into its rewrite") {
    wh
    spark.sql("CREATE TABLE mrcat.m.fold (id BIGINT, v BIGINT, " +
      "s STRING) USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    seed("mrcat.m.fold")
    spark.sql("UPDATE mrcat.m.fold SET v = v * 2 WHERE s = 'a'")
    val root = s"$wh/m/fold"
    // a subquery condition is MoR-ineligible → COW path → full fold
    Seq(2L, 3L).toDF("k").createOrReplaceTempView("mor_fold_keys")
    spark.sql("UPDATE mrcat.m.fold SET v = -1 " +
      "WHERE id IN (SELECT k FROM mor_fold_keys)")
    assert(rows("mrcat.m.fold") === Seq(
      (1L, 20L, "a"), (2L, -1L, "b"), (3L, -1L, "a"), (4L, 40L, "c"),
      (5L, 50L, "b"), (6L, 120L, "a")))
    // the COW rewrite folded everything: entry set is reset
    val (live, _) = VersionedTable.posDeleteEntryCounts(spark, root)
    assert(live === 0L,
      "a COW rewrite must fold and reset pending MoR entries")
    assert(VersionedTable.readManifest(root).get.version >= 2L)
  }

  test("pruned DSv2 read whose every base file is stat-skipped " +
    "still surfaces a pending post-image; time travel ignores " +
    "pending entries; equality deletes mask them by sequence") {
    wh
    spark.sql("CREATE TABLE mrcat.m.pr (id BIGINT, v BIGINT, " +
      "s STRING) USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    seed("mrcat.m.pr") // ids 1..6
    spark.sql("UPDATE mrcat.m.pr SET id = 100 WHERE id = 5")
    // id = 100 lives ONLY as a pending append; footer stats bound the
    // base files to id ≤ 6, so every base file skips
    val hit = spark.sql("SELECT id, v FROM mrcat.m.pr WHERE id = 100")
      .as[(Long, Long)].collect().toSeq
    assert(hit === Seq((100L, 50L)),
      s"pending post-image must survive full file skipping: $hit")
    val audit = graft.sources.GraftScanAudit.last.get
    assert(audit.filesScanned === 0,
      s"every base file should have been skipped: $audit")
    // time travel: v1 is the pre-update snapshot, pending entries
    // invisible (the documented MoR live-read-only contract)
    assert(spark.sql(
      "SELECT v FROM mrcat.m.pr VERSION AS OF 1 WHERE id = 5")
      .head.getLong(0) === 50L)
    // an equality delete AFTER the update masks the post-image
    val root = s"$wh/m/pr"
    VersionedTable.softDelete(spark, root,
      Seq(100L).toDF("id"), Seq("id"))
    assert(spark.sql("SELECT count(*) FROM mrcat.m.pr WHERE id = 100")
      .head.getLong(0) === 0L)
  }

  test("racing MoR UPDATEs serialize: N concurrent increments " +
    "compose to +N, never duplicate post-images") {
    wh
    spark.sql("CREATE TABLE mrcat.m.race (id BIGINT, v BIGINT, " +
      "s STRING) USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    seed("mrcat.m.race")
    val n = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[
      Throwable]()
    (1 to n).foreach { _ =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try spark.sql(
            "UPDATE mrcat.m.race SET v = v + 1 WHERE s = 'a'")
          catch { case t: Throwable => failures.add(t); () }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120,
      java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty, s"racing updates failed: " +
      s"${Option(failures.peek()).map(_.getMessage)}")
    assert(spark.table("mrcat.m.race").count() === 6,
      "no duplicated post-images")
    assert(rows("mrcat.m.race") === Seq(
      (1L, 10L + n, "a"), (2L, 20L, "b"), (3L, 30L + n, "a"),
      (4L, 40L, "c"), (5L, 50L, "b"), (6L, 60L + n, "a")))
  }

  test("CHECK constraints reject a violating MoR UPDATE whole; the " +
    "table stays untouched") {
    wh
    spark.sql("CREATE TABLE mrcat.m.ck (id BIGINT, v BIGINT, " +
      "s STRING) USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    seed("mrcat.m.ck")
    val root = s"$wh/m/ck"
    VersionedTable.addConstraint(root, "v_positive", "v > 0")
    val e = intercept[Exception](spark.sql(
      "UPDATE mrcat.m.ck SET v = -5 WHERE s = 'a'"))
    assert(e.getMessage.contains("v_positive") ||
      Option(e.getCause).exists(_.getMessage.contains("v_positive")),
      e.getMessage)
    assert(rows("mrcat.m.ck") === Seq(
      (1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a"), (4L, 40L, "c"),
      (5L, 50L, "b"), (6L, 60L, "a")))
  }

  test("nondeterministic MoR UPDATE conditions are rejected like " +
    "COW ones (the entry batch re-filters per branch pre-checkpoint)") {
    wh
    spark.sql("CREATE TABLE mrcat.m.nd (id BIGINT, v BIGINT) " +
      "USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO mrcat.m.nd SELECT id, id FROM range(4)")
    val e = intercept[Exception](spark.sql(
      "UPDATE mrcat.m.nd SET v = 0 WHERE rand() < 0.5"))
    assert(e.getMessage.contains("deterministic"), e.getMessage)
    assert(spark.sql("SELECT sum(v) FROM mrcat.m.nd")
      .head.getLong(0) === 6L, "nothing may have committed")
  }

  test("MoR UPDATE after a widening ALTER COLUMN TYPE casts " +
    "post-images to the DECLARED type (beyond-narrow values land)") {
    wh
    spark.sql("CREATE TABLE mrcat.m.wd (id BIGINT, n INT) " +
      "USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO mrcat.m.wd VALUES (1, 100), (2, 200)")
    spark.sql("ALTER TABLE mrcat.m.wd ALTER COLUMN n TYPE BIGINT")
    spark.sql("UPDATE mrcat.m.wd SET n = 4000000000 WHERE id = 1")
    assert(spark.sql("SELECT id, n FROM mrcat.m.wd ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 4000000000L), (2L, 200L)))
    // zero-rewrite property held through the widened path
    assert(VersionedTable.readManifest(s"$wh/m/wd").get.version === 1L)
  }

  test("partition-MOVING MoR UPDATE (r16): hash-equal to COW, zero " +
    "pre-existing pointers moved (only destination partitions " +
    "materialize), pruned reads see rows under their NEW partition, " +
    "a second move relocates the pending post-image, vacuum " +
    "converges") {
    wh
    for (t <- Seq("mvcow", "mvmor")) {
      val prop = if (t == "mvmor")
        " TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')" else ""
      spark.sql(s"CREATE TABLE mrcat.m.$t (id BIGINT, day STRING, " +
        s"v BIGINT) USING graft PARTITIONED BY (day)$prop")
      spark.sql(s"INSERT INTO mrcat.m.$t VALUES " +
        "(1, 'd1', 10), (2, 'd1', 20), (3, 'd2', 30), (4, 'd3', 40)")
    }
    val root = s"$wh/m/mvmor"
    val before = VersionedTable.readPartitionedManifest(root).get
    def prows(t: String): Seq[(Long, String, Long)] =
      spark.sql(s"SELECT id, day, v FROM mrcat.m.$t ORDER BY id")
        .as[(Long, String, Long)].collect().toSeq
    def upd(t: String): Unit = spark.sql(
      s"UPDATE mrcat.m.$t SET day = concat('m', day), v = v + 1 " +
        "WHERE v >= 20")
    upd("mvcow"); upd("mvmor")
    assert(prows("mvmor") === prows("mvcow"))
    assert(prows("mvmor") === Seq((1L, "d1", 10L), (2L, "md1", 21L),
      (3L, "md2", 31L), (4L, "md3", 41L)))
    val after = VersionedTable.readPartitionedManifest(root).get
    before.partitions.foreach { case (k, d) =>
      assert(after.partitions(k) === d,
        s"pre-existing partition $k must not move under a MOVING " +
          "MoR UPDATE")
    }
    assert(after.partitions.keySet === before.partitions.keySet ++
      Set("day=md1", "day=md2", "day=md3"))
    assert(after.version === before.version + 1,
      "exactly the one materialization commit may bump the manifest")
    // destination-pruned read surfaces the moved row; source-pruned
    // read no longer sees it
    assert(spark.sql("SELECT id FROM mrcat.m.mvmor WHERE day = 'md1'")
      .as[Long].collect().toSeq === Seq(2L))
    assert(spark.sql("SELECT id FROM mrcat.m.mvmor WHERE day = 'd3'")
      .count() === 0L)
    // a SECOND moving statement relocates the now-PENDING post-image
    // (tombstone + destination re-append, never an in-place replace
    // that would keep the stale qualifier)
    def upd2(t: String): Unit = spark.sql(
      s"UPDATE mrcat.m.$t SET day = 'z', v = v * 10 WHERE id = 2")
    upd2("mvcow"); upd2("mvmor")
    assert(prows("mvmor") === prows("mvcow"))
    assert(spark.sql("SELECT id FROM mrcat.m.mvmor WHERE day = 'z'")
      .as[Long].collect().toSeq === Seq(2L))
    assert(spark.sql("SELECT id FROM mrcat.m.mvmor " +
      "WHERE day = 'md1'").count() === 0L)
    // vacuum folds to the same rows and drains the entry set
    VersionedTable.vacuumPosDeletes(spark, root)
    assert(prows("mvmor") === prows("mvcow"))
    assert(VersionedTable.posDeleteEntryCounts(spark, root)._1 === 0L)
    // nondeterministic partition assignments are rejected loudly on
    // EVERY path (the moving MoR path evaluates the destination in
    // two jobs; the COW fallback enforces the same rule)
    val e = intercept[Exception](spark.sql(
      "UPDATE mrcat.m.mvmor SET day = concat('r', " +
        "cast(cast(rand() AS INT) AS STRING)) WHERE id = 3"))
    assert(e.getMessage.contains("deterministic"), e.getMessage)
  }

  test("partition-MOVING MoR MERGE (r16): matched + by-source " +
    "moves compose with inserts in ONE statement — hash-equal to " +
    "COW, zero pre-existing pointers moved, one materialization " +
    "commit covers all destination partitions, vacuum converges") {
    wh
    for (t <- Seq("mmcow", "mmmor")) {
      val prop = if (t == "mmmor")
        " TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')" else ""
      spark.sql(s"CREATE TABLE mrcat.m.$t (id BIGINT, day STRING, " +
        s"v BIGINT) USING graft PARTITIONED BY (day)$prop")
      spark.sql(s"INSERT INTO mrcat.m.$t VALUES " +
        "(1, 'd1', 10), (2, 'd1', 20), (3, 'd2', 30), (4, 'd3', 40)")
    }
    val root = s"$wh/m/mmmor"
    val before = VersionedTable.readPartitionedManifest(root).get
    // matched update MOVES id=2 to its source-supplied day; matched
    // delete kills id=4; insert lands id=9 in new d9; by-source
    // MOVES d2 rows to day 'bs' — all four kinds in one statement
    Seq((2L, "mv", 200L, "up"), (4L, "", 0L, "del"),
      (9L, "d9", 900L, "ins"))
      .toDF("id", "sday", "nv", "tag")
      .createOrReplaceTempView("mmmor_src")
    def merge(t: String): Unit = spark.sql(
      s"""MERGE INTO mrcat.m.$t t USING mmmor_src s ON t.id = s.id
         |WHEN MATCHED AND s.tag = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv, day = s.sday
         |WHEN NOT MATCHED THEN INSERT (id, day, v)
         |  VALUES (s.id, s.sday, s.nv)
         |WHEN NOT MATCHED BY SOURCE AND t.day = 'd2' THEN
         |  UPDATE SET day = 'bs', v = t.v + 7""".stripMargin)
    def prows(t: String): Seq[(Long, String, Long)] =
      spark.sql(s"SELECT id, day, v FROM mrcat.m.$t ORDER BY id")
        .as[(Long, String, Long)].collect().toSeq
    merge("mmcow"); merge("mmmor")
    assert(prows("mmmor") === prows("mmcow"))
    assert(prows("mmmor") === Seq((1L, "d1", 10L), (2L, "mv", 200L),
      (3L, "bs", 37L), (9L, "d9", 900L)))
    val after = VersionedTable.readPartitionedManifest(root).get
    before.partitions.foreach { case (k, d) =>
      assert(after.partitions(k) === d,
        s"pre-existing partition $k must not move under a MOVING " +
          "MoR MERGE")
    }
    assert(after.partitions.keySet === before.partitions.keySet ++
      Set("day=mv", "day=bs", "day=d9"))
    assert(after.version === before.version + 1,
      "ONE materialization commit must cover every destination " +
        "partition (inserts + matched moves + by-source moves)")
    // destination-pruned reads see the moved rows
    assert(spark.sql("SELECT id FROM mrcat.m.mmmor WHERE day = 'mv'")
      .as[Long].collect().toSeq === Seq(2L))
    assert(spark.sql("SELECT id FROM mrcat.m.mmmor WHERE day = 'bs'")
      .as[Long].collect().toSeq === Seq(3L))
    VersionedTable.vacuumPosDeletes(spark, root)
    assert(prows("mmmor") === prows("mmcow"))
    assert(VersionedTable.posDeleteEntryCounts(spark, root)._1 === 0L)
  }

  test("racing partition-MOVING MoR UPDATEs serialize: concurrent " +
    "moves of DISTINCT rows into the same new partition all land " +
    "exactly once") {
    wh
    spark.sql("CREATE TABLE mrcat.m.mvr (id BIGINT, day STRING, " +
      "v BIGINT) USING graft PARTITIONED BY (day) " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO mrcat.m.mvr VALUES " +
      "(1, 'd1', 10), (2, 'd1', 20), (3, 'd2', 30), (4, 'd2', 40)")
    val n = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to n).foreach { i =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try spark.sql(s"UPDATE mrcat.m.mvr SET day = 'hot', " +
            s"v = v + 1000 WHERE id = $i")
          catch { case t: Throwable => failures.add(t) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180,
      java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty,
      s"racing moving UPDATEs failed: ${Option(failures.peek())}")
    assert(spark.sql(
      "SELECT id, v FROM mrcat.m.mvr WHERE day = 'hot' ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 1010L), (2L, 1020L), (3L, 1030L), (4L, 1040L)))
    assert(spark.table("mrcat.m.mvr").count() === 4L)
  }

  test("partitioned MoR MERGE: full clause set hash-equal to COW; " +
    "existing partition pointers unmoved; an insert into a NEW " +
    "partition rides a content-free materialized partition; vacuum " +
    "converges") {
    wh
    for (t <- Seq("pcow", "pmor")) {
      val prop = if (t == "pmor")
        " TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')" else ""
      spark.sql(s"CREATE TABLE mrcat.m.$t (id BIGINT, day STRING, " +
        s"v BIGINT) USING graft PARTITIONED BY (day)$prop")
      spark.sql(s"INSERT INTO mrcat.m.$t VALUES " +
        "(1, 'd1', 10), (2, 'd1', 20), (3, 'd2', 30), (4, 'd3', 40)")
    }
    val root = s"$wh/m/pmor"
    val before = VersionedTable.readPartitionedManifest(root).get
    // update in d1, delete in d3, insert into EXISTING d2 and into
    // NEW d9, by-source bump in d2
    Seq((2L, "d1", 200L, "up"), (4L, "d3", 0L, "del"),
      (5L, "d2", 500L, "ins"), (9L, "d9", 900L, "ins"))
      .toDF("id", "sday", "nv", "tag")
      .createOrReplaceTempView("pmor_src")
    def merge(t: String): Unit = spark.sql(
      s"""MERGE INTO mrcat.m.$t t USING pmor_src s ON t.id = s.id
         |WHEN MATCHED AND s.tag = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (id, day, v)
         |  VALUES (s.id, s.sday, s.nv)
         |WHEN NOT MATCHED BY SOURCE AND t.day = 'd2' THEN
         |  UPDATE SET v = t.v + 7""".stripMargin)
    def prows(t: String): Seq[(Long, String, Long)] =
      spark.sql(s"SELECT id, day, v FROM mrcat.m.$t ORDER BY id")
        .as[(Long, String, Long)].collect().toSeq
    merge("pcow"); merge("pmor")
    assert(prows("pmor") === prows("pcow"))
    assert(prows("pmor") === Seq((1L, "d1", 10L), (2L, "d1", 200L),
      (3L, "d2", 37L), (5L, "d2", 500L), (9L, "d9", 900L)))
    val after = VersionedTable.readPartitionedManifest(root).get
    // every pre-existing pointer unmoved (zero data files rewritten);
    // exactly one new mapping — the materialized empty d9
    before.partitions.foreach { case (k, d) =>
      assert(after.partitions(k) === d,
        s"partition $k must not move under MoR MERGE")
    }
    assert(after.partitions.keySet ===
      before.partitions.keySet + "day=d9")
    assert(after.version === before.version + 1,
      "exactly the materialization commit may bump the manifest")
    // the materialized partition holds zero base rows: d9's visible
    // row comes from the pending entry set
    val (live, _) = VersionedTable.posDeleteEntryCounts(spark, root)
    assert(live > 0, "MERGE entries must be pending")
    // partition-pruned read still surfaces the pending insert
    assert(spark.sql(
      "SELECT v FROM mrcat.m.pmor WHERE day = 'd9'")
      .as[Long].collect().toSeq === Seq(900L))
    // vacuum folds; rows unchanged, entries drained
    VersionedTable.vacuumPosDeletes(spark, root)
    assert(prows("pmor") === prows("pcow"))
    val (liveAfter, _) =
      VersionedTable.posDeleteEntryCounts(spark, root)
    assert(liveAfter === 0L)
  }

  test("partitioned MoR MERGE inserts with empty-string and null " +
    "partition values fold into the null partition — Hive dynamic-" +
    "partition semantics, matching the COW write path") {
    wh
    for (t <- Seq("ecow", "emor")) {
      val prop = if (t == "emor")
        " TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')" else ""
      spark.sql(s"CREATE TABLE mrcat.m.$t (id BIGINT, day STRING, " +
        s"v BIGINT) USING graft PARTITIONED BY (day)$prop")
      spark.sql(s"INSERT INTO mrcat.m.$t VALUES (1, 'd1', 10)")
    }
    // one insert with day = '' and one with day = NULL — both must
    // land (in the null partition), exactly once each
    Seq((7L, "", 70L)).toDF("nid", "nday", "nv")
      .unionByName(Seq((8L, null.asInstanceOf[String], 80L))
        .toDF("nid", "nday", "nv"))
      .createOrReplaceTempView("emor_src")
    def merge(t: String): Unit = spark.sql(
      s"""MERGE INTO mrcat.m.$t t USING emor_src s ON t.id = s.nid
         |WHEN NOT MATCHED THEN INSERT (id, day, v)
         |  VALUES (s.nid, s.nday, s.nv)""".stripMargin)
    merge("ecow"); merge("emor")
    def got(t: String): Seq[(Long, Option[String], Long)] =
      spark.sql(s"SELECT id, day, v FROM mrcat.m.$t ORDER BY id")
        .as[(Long, Option[String], Long)].collect().toSeq
    assert(got("emor") === got("ecow"))
    assert(got("emor") === Seq((1L, Some("d1"), 10L),
      (7L, None, 70L), (8L, None, 80L)))
    // the MoR side committed entries, not data files
    val root = s"$wh/m/emor"
    val (live, _) = VersionedTable.posDeleteEntryCounts(spark, root)
    assert(live === 2L, s"expected 2 pending insert entries, $live")
  }

  test("racing partitioned MoR MERGEs serialize: concurrent " +
    "increments compose and racing inserts into the SAME new " +
    "partition all land exactly once") {
    wh
    spark.sql("CREATE TABLE mrcat.m.pr2 (id BIGINT, day STRING, " +
      "v BIGINT) USING graft PARTITIONED BY (day) " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO mrcat.m.pr2 VALUES (1, 'd1', 0)")
    val n = 4
    (1 to n).foreach { i =>
      Seq((1L, 100L + i, s"dz", 100L + i))
        .toDF("mid", "nid", "nday", "nv")
        .createOrReplaceTempView(s"pr2_src_$i")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to n).foreach { i =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try spark.sql(
            s"""MERGE INTO mrcat.m.pr2 t USING pr2_src_$i s
               |ON t.id = s.nid
               |WHEN MATCHED THEN UPDATE SET v = t.v + 1
               |WHEN NOT MATCHED THEN INSERT (id, day, v)
               |  VALUES (s.nid, s.nday, s.nv)""".stripMargin)
          catch { case t: Throwable => failures.add(t) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180,
      java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty,
      s"racing MERGEs failed: ${Option(failures.peek())}")
    // each statement inserted its own id into the shared new
    // partition exactly once
    assert(spark.sql(
      "SELECT id, v FROM mrcat.m.pr2 WHERE day = 'dz' ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      (1 to n).map(i => (100L + i, 100L + i)).toSeq)
    // the bump MERGEs: each thread also re-ran against id 1? (no —
    // each source matches only its own nid) so id 1 is untouched
    assert(spark.sql("SELECT v FROM mrcat.m.pr2 WHERE id = 1")
      .head.getLong(0) === 0L)
  }
}
