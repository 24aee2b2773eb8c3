package graft

import java.nio.file.Files
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.sinks.VersionedTable
import graft.sources.GraftScanAudit

/** The same merge-on-read lifecycle over three table forms holding the
  * same rows — flat, flat with Hive-style subdirs (a `partitionBy`
  * commit into one version dir) and partitioned — graded against a
  * plain-Scala model after every step: position deletes, SQL DELETE,
  * MoR UPDATE and MERGE, a pruned DSv2 read with pushed filters, the
  * entry audit and the vacuum fold; then the equality-delete rule
  * (re-upsert after a delete, a delete after a MoR UPDATE, legacy
  * unstamped leaves) and the hidden write-sequence column.
  */
class FormParitySpec extends SparkSpec {
  import spark.implicits._

  private type Row4 = (Long, Long, String, String)

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_form_parity").toString
    spark.conf.set("spark.sql.catalog.fpcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.fpcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fpcat.f")
    dir
  }

  private val seedRows: Seq[Row4] = (1L to 12L).map(i =>
    (i, i * 10L, if (i % 2 == 0) "e" else "o", s"g${i % 3}"))

  private val mor = "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')"

  /** Creates the table in `form`, seeded with [[seedRows]]; returns
    * its root.
    */
  private def create(name: String, form: String): String = {
    wh
    val cols = "(id BIGINT, v BIGINT, s STRING, g STRING) USING graft"
    form match {
      case "partitioned" =>
        spark.sql(s"CREATE TABLE fpcat.f.$name $cols " +
          s"PARTITIONED BY (g) $mor")
      case _ => spark.sql(s"CREATE TABLE fpcat.f.$name $cols $mor")
    }
    seedRows.toDF("id", "v", "s", "g").createOrReplaceTempView("fp_seed")
    spark.sql(s"INSERT INTO fpcat.f.$name SELECT * FROM fp_seed")
    val root = s"$wh/f/$name"
    if (form == "nested") {
      // one version dir holding g=…/ subdirs: the flat form's reads
      // discover `g` from the path
      val live = VersionedTable.readLive(spark, root)
      VersionedTable.commit(root) { dir =>
        live.write.partitionBy("g").parquet(dir)
      }
      val m = VersionedTable.readManifest(root).get
      assert(Files.isDirectory(
        java.nio.file.Paths.get(root, m.segments.last, "g=g1")))
    }
    root
  }

  private def sorted(rows: Seq[Row4]): Seq[Row4] = rows.sortBy(_._1)

  private def tableRows(name: String): Seq[Row4] =
    spark.sql(s"SELECT id, v, s, g FROM fpcat.f.$name")
      .as[Row4].collect().toSeq.sortBy(_._1)

  private def libraryRows(root: String): Seq[Row4] =
    VersionedTable.readLiveWithPosDeletes(spark, root)
      .select("id", "v", "s", "g").as[Row4].collect().toSeq.sortBy(_._1)

  /** The facade's read: the DSv2 path read `SELECT *` plans. */
  private def facadeRows(root: String): Seq[Row4] =
    Graft.readTable(spark, root)
      .select("id", "v", "s", "g").as[Row4].collect().toSeq.sortBy(_._1)

  /** Runs the lifecycle on one form; returns the entry audit taken
    * before the vacuum.
    */
  private def lifecycle(name: String, form: String): (Long, Long) = {
    val root = create(name, form)
    var model: Map[Long, Row4] = seedRows.map(r => r._1 -> r).toMap
    def check(step: String): Unit = {
      val want = sorted(model.values.toSeq)
      assert(tableRows(name) === want, s"$form after $step (SQL)")
      assert(libraryRows(root) === want, s"$form after $step (library)")
      assert(facadeRows(root) === want, s"$form after $step (facade)")
    }
    check("seed")

    VersionedTable.softDeletePos(spark, root, col("id") === 2L)
    model -= 2L
    check("softDeletePos")

    spark.sql(s"DELETE FROM fpcat.f.$name WHERE id = 3")
    model -= 3L
    check("SQL DELETE")

    spark.sql(s"UPDATE fpcat.f.$name SET v = v + 1000, s = upper(s) " +
      "WHERE v >= 60")
    model = model.map { case (k, r) =>
      k -> (if (r._2 >= 60) (r._1, r._2 + 1000, r._3.toUpperCase, r._4)
            else r)
    }
    check("MoR UPDATE")

    // a second UPDATE and a DELETE that hit pending post-images
    spark.sql(s"UPDATE fpcat.f.$name SET v = v + 1 WHERE id = 6")
    model += 6L -> model(6L).copy(_2 = model(6L)._2 + 1)
    spark.sql(s"DELETE FROM fpcat.f.$name WHERE id = 7")
    model -= 7L
    check("UPDATE/DELETE of pending post-images")

    Seq((8L, 5L, "m", "g2"), (13L, 130L, "n", "g1"),
        (14L, 140L, "n", "g9"))
      .toDF("id", "v", "s", "g").createOrReplaceTempView("fp_src")
    spark.sql(s"MERGE INTO fpcat.f.$name t USING fp_src src " +
      "ON t.id = src.id " +
      "WHEN MATCHED THEN UPDATE SET v = src.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    model += 8L -> model(8L).copy(_2 = 5L)
    model += 13L -> ((13L, 130L, "n", "g1"))
    model += 14L -> ((14L, 140L, "n", "g9"))
    check("MoR MERGE")

    val pred: Column = col("v") >= 100L && col("g") === "g1"
    val pruned = spark.read.format("graft").load(root).where(pred)
      .select("id", "v", "s", "g").as[Row4].collect().toSeq
    assert(GraftScanAudit.last.exists(_.pushed.nonEmpty),
      s"$form: the read must push its filters")
    assert(sorted(pruned) === sorted(model.values.toSeq
      .filter(r => r._2 >= 100L && r._4 == "g1")), s"$form pruned read")

    val counts = VersionedTable.posDeleteEntryCounts(spark, root)
    assert(counts._1 > 0L, s"$form: live entries before the vacuum")
    VersionedTable.vacuumPosDeletes(spark, root)
    check("vacuumPosDeletes")
    assert(VersionedTable.posDeleteEntryCounts(spark, root) === ((0L, 0L)),
      s"$form: the vacuum drains the entry set")
    counts
  }

  test("flat, nested-flat and partitioned tables agree with the " +
    "model through position deletes, MoR DML, a pruned read and the " +
    "vacuum") {
    val audits = Seq("flat" -> "fp_flat", "nested" -> "fp_nested",
      "partitioned" -> "fp_part").map { case (form, name) =>
      form -> lifecycle(name, form)
    }
    assert(audits.map(_._2).distinct.size === 1,
      s"every form holds the same live entries: $audits")
  }

  private val forms = Seq("flat" -> "fp_flat", "nested" -> "fp_nested",
    "partitioned" -> "fp_part")

  /** The paper's keyed load: upsert `rows` by `id` — the form comes
    * from the table's manifest, never from the caller.
    */
  private def upsertRows(root: String, rows: Seq[Row4]): Unit =
    VersionedTable.upsert(spark, root, rows.toDF("id", "v", "s", "g"),
      Seq("id"))

  private def eqRows(root: String): Seq[Row4] =
    VersionedTable.readLiveWithDeletes(spark, root, Seq("id"))
      .select("id", "v", "s", "g").as[Row4].collect().toSeq.sortBy(_._1)

  test("softDelete k, then upsert k again: every form reads k back, " +
    "before and after vacuumDeletes") {
    forms.foreach { case (form, name) =>
      val t = s"${name}_re"
      val root = create(t, form)
      var model: Map[Long, Row4] = seedRows.map(r => r._1 -> r).toMap
      def check(step: String): Unit = {
        val want = sorted(model.values.toSeq)
        assert(tableRows(t) === want, s"$form after $step (SQL)")
        assert(eqRows(root) === want, s"$form after $step (library)")
        assert(facadeRows(root) === want, s"$form after $step (facade)")
      }
      VersionedTable.softDelete(spark, root, Seq(2L, 5L).toDF("id"),
        Seq("id"))
      model --= Seq(2L, 5L)
      check("softDelete")
      val back = (2L, 21L, "r", "g2")
      upsertRows(root, Seq(back))
      model += 2L -> back
      check("re-upsert")
      VersionedTable.vacuumDeletes(spark, root, Seq("id"))
      check("vacuumDeletes")
    }
  }

  test("MoR UPDATE k, then softDelete k: k stays absent in every form, " +
    "before and after vacuumDeletes") {
    forms.foreach { case (form, name) =>
      val t = s"${name}_mu"
      val root = create(t, form)
      var model: Map[Long, Row4] = seedRows.map(r => r._1 -> r).toMap
      def check(step: String): Unit = {
        assert(tableRows(t) === sorted(model.values.toSeq),
          s"$form after $step")
        assert(facadeRows(root) === sorted(model.values.toSeq),
          s"$form after $step (facade)")
      }
      spark.sql(s"UPDATE fpcat.f.$t SET v = v + 1000 WHERE id IN (4, 8)")
      model ++= Seq(4L, 8L).map(k =>
        k -> model(k).copy(_2 = model(k)._2 + 1000))
      check("MoR UPDATE")
      VersionedTable.softDelete(spark, root, Seq(4L).toDF("id"), Seq("id"))
      model -= 4L
      check("softDelete")
      VersionedTable.vacuumDeletes(spark, root, Seq("id"))
      check("vacuumDeletes")
    }
  }

  test("a partitioned leaf written without _graft_seq still masks its " +
    "deleted keys beside stamped leaves") {
    val root = tmpDir("fp_legacy") + "/t"
    seedRows.toDF("id", "v", "s", "g")
      .write.partitionBy("g").parquet(s"$root/v00000001")
    Files.write(java.nio.file.Paths.get(root, "_manifest.json"),
      VersionedTable.renderPartitionedManifest(
        VersionedTable.PartitionedManifest(1L, Seq("g"),
          Seq("g0", "g1", "g2").map(g => s"g=$g" -> "v00000001").toMap))
        .getBytes("UTF-8"))
    var model: Map[Long, Row4] = seedRows.map(r => r._1 -> r).toMap
    val fresh = (13L, 130L, "n", "g1")
    upsertRows(root, Seq(fresh))
    model += 13L -> fresh
    val m = VersionedTable.readPartitionedManifest(root).get
    assert(m.partitions("g=g0") == "v00000001" &&
      m.partitions("g=g1") != "v00000001", s"$m")
    def check(step: String): Unit = {
      val want = sorted(model.values.toSeq)
      assert(eqRows(root) === want, s"after $step (library)")
      assert(spark.read.format("graft").load(root)
        .select("id", "v", "s", "g").as[Row4].collect().toSeq
        .sortBy(_._1) === want, s"after $step (DSv2)")
    }
    check("stamped upsert")
    // 3 lives in the unstamped g0 leaf, 13 in the stamped g1 leaf
    VersionedTable.softDelete(spark, root, Seq(3L, 13L).toDF("id"),
      Seq("id"))
    model --= Seq(3L, 13L)
    check("softDelete")
    VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    check("vacuumDeletes")
  }

  test("SELECT *, DESCRIBE, time travel, CDF and diffs of a partitioned " +
    "catalog table never show _graft_seq") {
    val t = "fp_hidden"
    val root = create(t, "partitioned")
    val v1 = VersionedTable.readPartitionedManifest(root).get.version
    upsertRows(root, Seq((1L, 11L, "o", "g1")))
    val v2 = VersionedTable.readPartitionedManifest(root).get.version
    val seq = VersionedTable.SeqCol
    val leaf = Files.walk(java.nio.file.Paths.get(root, f"v$v2%08d"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get
    assert(spark.read.parquet(leaf.toString).columns.contains(seq),
      "the stamp is on disk")
    def hidden(what: String, df: org.apache.spark.sql.DataFrame): Unit =
      assert(!df.schema.json.contains(seq), s"$what shows $seq")
    hidden("SELECT *", spark.sql(s"SELECT * FROM fpcat.f.$t"))
    hidden("VERSION AS OF",
      spark.sql(s"SELECT * FROM fpcat.f.$t VERSION AS OF $v1"))
    assert(!spark.sql(s"DESCRIBE fpcat.f.$t").collect()
      .exists(_.getString(0) == seq), "DESCRIBE")
    hidden("readVersion",
      VersionedTable.readVersion(spark, root, v1))
    hidden("readLive",
      VersionedTable.readLive(spark, root))
    hidden("readChanges",
      VersionedTable.readChanges(spark, root, v1, v2, Seq("id")))
    hidden("diffVersions",
      VersionedTable.diffVersions(spark, root, v1, v2, Seq("id")))
  }
}
