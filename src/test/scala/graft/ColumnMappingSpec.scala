package graft

import java.nio.file.Files
import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._

/** ALTER TABLE … RENAME COLUMN / DROP COLUMN / widening ALTER COLUMN
  * TYPE — metadata-only schema evolution over immutable parquet:
  * renames are events in `_column_renames.json` normalized by every
  * read (old files stay byte-identical), drops tombstone the name in
  * the catalog entry, widenings cast historical narrow values up at
  * read. These tests pin the read/write/time-travel semantics, the
  * guards (partition columns, merge keys, constraints, eq-delete
  * keys, dropped-name reuse), and the composition with pending MoR
  * post-images and rewrites.
  */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_cm_wh").toString
    spark.conf.set("spark.sql.catalog.cmcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cmcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cmcat.m")
    dir
  }

  test("RENAME COLUMN is metadata-only: old files readable under the " +
    "new name, writes bind the new name, mixed generations coalesce, " +
    "time travel presents current names, chains resolve") {
    wh
    spark.sql("CREATE TABLE cmcat.m.r (id BIGINT, amt BIGINT) " +
      "USING graft")
    spark.sql("INSERT INTO cmcat.m.r VALUES (1, 10), (2, 20)")
    val root = s"$wh/m/r"
    val v1 = VersionedTable.readManifest(root).get.version
    spark.sql("ALTER TABLE cmcat.m.r RENAME COLUMN amt TO cents")
    // no data commit happened
    assert(VersionedTable.readManifest(root).get.version === v1,
      "RENAME COLUMN must not rewrite data")
    assert(spark.table("cmcat.m.r").columns.toSeq ===
      Seq("id", "cents"))
    assert(spark.sql("SELECT cents FROM cmcat.m.r WHERE id = 1")
      .head.getLong(0) === 10L)
    // a write after the rename binds the NEW name; generations mix
    spark.sql("INSERT INTO cmcat.m.r VALUES (3, 30)")
    assert(spark.sql(
      "SELECT id, cents FROM cmcat.m.r ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // filters on the renamed column are CORRECT over old files (they
    // scan — soundness over skipping until a rewrite migrates them)
    assert(spark.sql(
      "SELECT count(*) FROM cmcat.m.r WHERE cents >= 20")
      .head.getLong(0) === 2L)
    // time travel across the boundary presents the current names
    assert(spark.sql(
      "SELECT cents FROM cmcat.m.r VERSION AS OF 1 WHERE id = 2")
      .head.getLong(0) === 20L)
    // chain: cents → pennies; both generations resolve transitively
    spark.sql("ALTER TABLE cmcat.m.r RENAME COLUMN cents TO pennies")
    assert(spark.sql(
      "SELECT sum(pennies) FROM cmcat.m.r").head.getLong(0) === 60L)
    assert(VersionedTable.columnRenames(root) ===
      Seq("amt" -> "cents", "cents" -> "pennies"))
    // a rewrite (keyed upsert) migrates physical names; the library
    // read agrees before and after
    VersionedTable.upsert(spark, root,
      Seq((1L, 11L)).toDF("id", "pennies"), Seq("id"))
    assert(spark.sql("SELECT id, pennies FROM cmcat.m.r ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("RENAME COLUMN on a partitioned table normalizes every read " +
    "path and composes with UPDATE/MERGE binding the new name") {
    wh
    spark.sql("CREATE TABLE cmcat.m.rp (id BIGINT, day STRING, " +
      "amt BIGINT) USING graft PARTITIONED BY (day)")
    spark.sql("INSERT INTO cmcat.m.rp VALUES " +
      "(1, 'd1', 10), (2, 'd2', 20)")
    spark.sql("ALTER TABLE cmcat.m.rp RENAME COLUMN amt TO cents")
    // rewrite ONE partition post-rename: mixed physical generations
    spark.sql("INSERT INTO cmcat.m.rp VALUES (3, 'd1', 30)")
    assert(spark.sql("SELECT id, cents FROM cmcat.m.rp ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // row-level SQL binds the new name over both generations
    spark.sql("UPDATE cmcat.m.rp SET cents = cents + 1 " +
      "WHERE day = 'd2'")
    assert(spark.sql("SELECT cents FROM cmcat.m.rp WHERE id = 2")
      .head.getLong(0) === 21L)
  }

  test("RENAME COLUMN normalizes pending MoR post-images too") {
    wh
    spark.sql("CREATE TABLE cmcat.m.rm (id BIGINT, amt BIGINT) " +
      "USING graft " +
      "TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')")
    spark.sql("INSERT INTO cmcat.m.rm VALUES (1, 10), (2, 20)")
    spark.sql("UPDATE cmcat.m.rm SET amt = amt * 2 WHERE id = 1")
    spark.sql("ALTER TABLE cmcat.m.rm RENAME COLUMN amt TO cents")
    assert(spark.sql("SELECT id, cents FROM cmcat.m.rm ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 20L), (2L, 20L)))
    val root = s"$wh/m/rm"
    // the fold must NOT byte-copy old-generation files next to
    // rewritten ones: the folded dir is read from ONE footer, so a
    // copied `amt` file beside written `cents` files would null a
    // whole generation's values. The uniformity probe forces a full
    // rewrite here — every file of the folded dir carries `cents`.
    val (_, rewritten) = VersionedTable.vacuumPosDeletes(spark, root)
    val live = VersionedTable.readManifest(root).get.segments.last
    val foldedFiles = Files.list(
        java.nio.file.Paths.get(root).resolve(live))
      .iterator()
    val footerCols = {
      import scala.jdk.CollectionConverters._
      foldedFiles.asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => spark.read.parquet(f.toString).columns.toSet).toSeq
    }
    assert(footerCols.nonEmpty &&
      footerCols.forall(_.contains("cents")), footerCols)
    assert(rewritten > 0)
    assert(spark.sql("SELECT id, cents FROM cmcat.m.rm ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 20L), (2L, 20L)))
  }

  test("rename guards: partition column, merge keys, constraint " +
    "references, live equality-delete keys, reused dropped names") {
    wh
    spark.sql("CREATE TABLE cmcat.m.g (id BIGINT, day STRING, " +
      "v BIGINT, w BIGINT) USING graft PARTITIONED BY (day) " +
      "TBLPROPERTIES ('keys' = 'id')")
    spark.sql("INSERT INTO cmcat.m.g VALUES (1, 'd1', 5, 6)")
    val root = s"$wh/m/g"
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE cmcat.m.g RENAME COLUMN day TO dt"))
    assert(e1.getMessage.contains("partition column"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE cmcat.m.g RENAME COLUMN id TO ident"))
    assert(e2.getMessage.contains("merge key"), e2.getMessage)
    VersionedTable.addConstraint(root, "v_pos", "v > 0")
    val e3 = intercept[Exception](spark.sql(
      "ALTER TABLE cmcat.m.g RENAME COLUMN v TO value"))
    assert(e3.getMessage.contains("constraint"), e3.getMessage)
    VersionedTable.dropConstraint(root, "v_pos")
    spark.sql("ALTER TABLE cmcat.m.g RENAME COLUMN v TO value")
    assert(spark.sql("SELECT value FROM cmcat.m.g").head.getLong(0)
      === 5L)
    // equality-delete key guard (flat table for the eq family)
    spark.sql("CREATE TABLE cmcat.m.ge (k BIGINT, x BIGINT) " +
      "USING graft")
    spark.sql("INSERT INTO cmcat.m.ge VALUES (1, 1), (2, 2)")
    VersionedTable.softDelete(spark, s"$wh/m/ge",
      Seq(1L).toDF("k"), Seq("k"))
    val e4 = intercept[Exception](spark.sql(
      "ALTER TABLE cmcat.m.ge RENAME COLUMN k TO kk"))
    assert(e4.getMessage.contains("equality-delete"), e4.getMessage)
  }

  test("a RENAMED-AWAY name may not be re-declared: ADD COLUMNS and " +
    "RENAME ... TO onto a rename-event source are rejected (the " +
    "normalization would fold the new column into the old target)") {
    wh
    spark.sql("CREATE TABLE cmcat.m.ra (id BIGINT, a BIGINT, " +
      "c BIGINT) USING graft")
    spark.sql("INSERT INTO cmcat.m.ra VALUES (1, 10, 99)")
    spark.sql("ALTER TABLE cmcat.m.ra RENAME COLUMN a TO b")
    val e1 = intercept[Exception](spark.sql(
      "ALTER TABLE cmcat.m.ra ADD COLUMNS (a BIGINT)"))
    assert(e1.getMessage.contains("renamed away"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE cmcat.m.ra RENAME COLUMN c TO a"))
    assert(e2.getMessage.contains("renamed away"), e2.getMessage)
    // reads unharmed
    assert(spark.sql("SELECT b, c FROM cmcat.m.ra")
      .as[(Long, Long)].head() === ((10L, 99L)))
  }

  test("DROP COLUMN tombstones the name (no resurfacing through sync " +
    "schema resolution, no re-ADD), later INSERTs omit it") {
    wh
    spark.sql("CREATE TABLE cmcat.m.dr (id BIGINT, v BIGINT, " +
      "junk STRING) USING graft")
    spark.sql("INSERT INTO cmcat.m.dr VALUES (1, 10, 'x')")
    spark.sql("ALTER TABLE cmcat.m.dr DROP COLUMN junk")
    assert(spark.table("cmcat.m.dr").columns.toSeq === Seq("id", "v"))
    spark.sql("INSERT INTO cmcat.m.dr VALUES (2, 20)")
    assert(spark.sql("SELECT id, v FROM cmcat.m.dr ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L)))
    // sync mode is on (the DROP flipped it) — the dropped name must
    // not resurface from old files through the observable union
    assert(!spark.table("cmcat.m.dr").columns.contains("junk"))
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE cmcat.m.dr ADD COLUMNS (junk STRING)"))
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    // but a fresh name is fine
    spark.sql("ALTER TABLE cmcat.m.dr ADD COLUMNS (note STRING)")
    assert(spark.table("cmcat.m.dr").columns.toSeq ===
      Seq("id", "v", "note"))
  }

  test("ALTER COLUMN TYPE widens int→bigint and float→double: " +
    "historical narrow values cast up, post-widen writes hold " +
    "beyond-int values, non-widenings rejected") {
    wh
    spark.sql("CREATE TABLE cmcat.m.w (id BIGINT, n INT, f FLOAT) " +
      "USING graft")
    spark.sql("INSERT INTO cmcat.m.w VALUES (1, 100, CAST(1.5 AS " +
      "FLOAT))")
    spark.sql("ALTER TABLE cmcat.m.w ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE cmcat.m.w ALTER COLUMN f TYPE DOUBLE")
    val sch = spark.table("cmcat.m.w").schema
    assert(sch("n").dataType ===
      org.apache.spark.sql.types.LongType, sch.treeString)
    assert(sch("f").dataType ===
      org.apache.spark.sql.types.DoubleType, sch.treeString)
    spark.sql("INSERT INTO cmcat.m.w VALUES " +
      "(2, 4000000000, CAST(2.5 AS DOUBLE))") // > Int.MaxValue
    assert(spark.sql("SELECT id, n FROM cmcat.m.w ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 100L), (2L, 4000000000L)))
    assert(spark.sql("SELECT sum(n) FROM cmcat.m.w")
      .head.getLong(0) === 4000000100L)
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE cmcat.m.w ALTER COLUMN n TYPE INT"))
    assert(e.getMessage.toLowerCase.contains("widen") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.toLowerCase.contains("cast"), e.getMessage)
  }

  test("widening on a PARTITIONED table: mixed narrow/wide version " +
    "dirs coerce through the union; pruning on the widened column " +
    "stays correct") {
    wh
    spark.sql("CREATE TABLE cmcat.m.wp (id BIGINT, day STRING, " +
      "n INT) USING graft PARTITIONED BY (day)")
    spark.sql("INSERT INTO cmcat.m.wp VALUES (1, 'd1', 7), " +
      "(2, 'd2', 9)")
    spark.sql("ALTER TABLE cmcat.m.wp ALTER COLUMN n TYPE BIGINT")
    spark.sql("INSERT INTO cmcat.m.wp VALUES (3, 'd3', 4000000000)")
    assert(spark.sql("SELECT id, n FROM cmcat.m.wp ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 7L), (2L, 9L), (3L, 4000000000L)))
    assert(spark.sql(
      "SELECT count(*) FROM cmcat.m.wp WHERE n > 100")
      .head.getLong(0) === 1L)
  }

  test("concurrent RENAME COLUMNs through the catalog: every rename " +
    "survives in both the declared schema and the rename events") {
    wh
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("cmcat")
      .asInstanceOf[TableCatalog]
    val cols = 0 until 8
    (0 until 3).foreach { round =>
      val name = s"cr$round"
      spark.sql(s"CREATE TABLE cmcat.m.$name " +
        cols.map(i => s"c$i BIGINT").mkString("(", ", ", ")") + " USING graft")
      spark.sql(s"INSERT INTO cmcat.m.$name VALUES " +
        cols.map(_.toString).mkString("(", ", ", ")"))
      val ident = Identifier.of(Array("m"), name)
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      // two ALTER streams on disjoint columns, released together
      val threads = Seq(cols.filter(_ % 2 == 0), cols.filter(_ % 2 == 1))
        .map { mine =>
          new Thread(() => {
            start.await()
            mine.foreach { i =>
              try cat.alterTable(ident,
                TableChange.renameColumn(Array(s"c$i"), s"d$i"))
              catch { case e: Throwable => errs.add(e) }
            }
          })
        }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      assert(errs.isEmpty, s"round $round: ${errs.peek()}")
      assert(VersionedTable.columnRenames(s"$wh/m/$name").toSet ===
        cols.map(i => s"c$i" -> s"d$i").toSet, s"round $round")
      assert(spark.table(s"cmcat.m.$name").columns.toSeq ===
        cols.map(i => s"d$i"), s"round $round")
      assert(spark.table(s"cmcat.m.$name").head.toSeq ===
        cols.map(_.toLong), s"round $round")
    }
  }
}
