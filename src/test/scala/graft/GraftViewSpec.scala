package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Persisted SQL views on the graft catalog (ViewCatalog + the
  * extension-supplied DDL/resolution rules): CREATE [OR REPLACE]
  * VIEW / DROP VIEW / SHOW VIEWS, SELECT-side substitution with
  * bare-name re-anchoring, nested views, column aliases, and the
  * time-travel interplay (a view over the live table tracks commits;
  * a view whose SQL pins VERSION AS OF does not).
  */
class GraftViewSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_view_wh").toString
    spark.conf.set("spark.sql.catalog.vcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.vcat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vcat.m")
    dir
  }

  test("CREATE VIEW persists; SELECT resolves through the stored " +
    "SQL; the view tracks later table commits; DROP removes it") {
    wh
    spark.sql("CREATE TABLE vcat.m.t (id BIGINT, v BIGINT) " +
      "USING graft TBLPROPERTIES ('keys' = 'id')")
    spark.sql("INSERT INTO vcat.m.t SELECT id, id * 10 FROM range(6)")
    spark.sql("CREATE VIEW vcat.m.big AS " +
      "SELECT id, v * 2 AS v2 FROM vcat.m.t WHERE v >= 30")
    assert(spark.sql("SELECT id, v2 FROM vcat.m.big ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((3L, 60L), (4L, 80L), (5L, 100L)))
    // a later commit is visible through the view (views are SQL,
    // not snapshots)
    spark.sql("INSERT INTO vcat.m.t VALUES (9, 90)")
    assert(spark.sql("SELECT count(*) FROM vcat.m.big")
      .head.getLong(0) === 4L)
    // SHOW VIEWS lists it; DROP removes it; IF EXISTS tolerates
    val shown = spark.sql("SHOW VIEWS IN vcat.m").collect()
      .map(_.getString(1)).toSeq
    assert(shown.contains("big"), s"$shown")
    spark.sql("DROP VIEW vcat.m.big")
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM vcat.m.big").collect())
    assert(e.getMessage.contains("big"), e.getMessage)
    spark.sql("DROP VIEW IF EXISTS vcat.m.big") // no throw
  }

  test("bare table names in the view SQL re-anchor to the creation " +
    "namespace; column aliases apply; OR REPLACE swaps the " +
    "definition; nested views compose") {
    wh
    spark.sql("CREATE TABLE vcat.m.base (k BIGINT, x BIGINT) " +
      "USING graft")
    spark.sql("INSERT INTO vcat.m.base SELECT id, id + 100 " +
      "FROM range(5)")
    // created FROM the vcat.m context with a bare name
    val prevCat = spark.sessionState.catalogManager.currentCatalog
    spark.sql("USE vcat.m")
    try {
      spark.sql("CREATE VIEW vx (kk, xx) AS SELECT k, x FROM base")
    } finally {
      spark.sessionState.catalogManager.setCurrentCatalog(
        prevCat.name())
      spark.sql("USE spark_catalog.default")
    }
    // queried from a DIFFERENT context: the stored anchor resolves
    assert(spark.sql(
      "SELECT sum(xx) FROM vcat.m.vx WHERE kk < 2")
      .head.getLong(0) === 201L)
    // nested: a view over the view
    spark.sql("CREATE VIEW vcat.m.vy AS " +
      "SELECT kk, xx - 100 AS back FROM vcat.m.vx")
    assert(spark.sql("SELECT sum(back) FROM vcat.m.vy")
      .head.getLong(0) === 10L)
    // OR REPLACE changes semantics in place
    spark.sql("CREATE OR REPLACE VIEW vcat.m.vy AS " +
      "SELECT kk FROM vcat.m.vx WHERE kk = 0")
    assert(spark.sql("SELECT count(*) FROM vcat.m.vy")
      .head.getLong(0) === 1L)
    // plain CREATE on an existing view refuses; IF NOT EXISTS no-ops
    val e = intercept[Exception](spark.sql(
      "CREATE VIEW vcat.m.vy AS SELECT 1 AS one"))
    assert(e.getMessage.toLowerCase.contains("exist"), e.getMessage)
    spark.sql("CREATE VIEW IF NOT EXISTS vcat.m.vy AS " +
      "SELECT 1 AS one")
    assert(spark.sql("SELECT count(*) FROM vcat.m.vy")
      .head.getLong(0) === 1L, "IF NOT EXISTS must keep the old view")
  }

  test("time-travel interplay: a view pinning VERSION AS OF stays at " +
    "that snapshot while the live view moves; DML through views is " +
    "rejected by analysis") {
    wh
    spark.sql("CREATE TABLE vcat.m.tt (id BIGINT, v BIGINT) " +
      "USING graft TBLPROPERTIES ('keys' = 'id')")
    spark.sql("INSERT INTO vcat.m.tt SELECT id, id FROM range(4)")
    spark.sql("CALL vcat.system.set_ref(table => 'm.tt', " +
      "name => 'v1pin', version => 1)")
    spark.sql("CREATE VIEW vcat.m.live AS " +
      "SELECT sum(v) AS s FROM vcat.m.tt")
    spark.sql("CREATE VIEW vcat.m.pinned AS " +
      "SELECT sum(v) AS s FROM vcat.m.tt VERSION AS OF 'v1pin'")
    spark.sql("INSERT INTO vcat.m.tt VALUES (9, 1000)")
    assert(spark.sql("SELECT s FROM vcat.m.live").head.getLong(0)
      === 1006L)
    assert(spark.sql("SELECT s FROM vcat.m.pinned").head.getLong(0)
      === 6L)
    val e = intercept[Exception](spark.sql(
      "INSERT INTO vcat.m.live VALUES (1)"))
    assert(e != null)
  }

  test("view SQL with a CTE keeps its CTE references un-anchored; " +
    "bare names INSIDE subqueries anchor to the creation context; " +
    "DROP VIEW prefers a session temp view over a catalog view") {
    wh
    spark.sql("CREATE TABLE vcat.m.src (id BIGINT, v BIGINT) " +
      "USING graft")
    spark.sql("INSERT INTO vcat.m.src SELECT id, id * 3 FROM range(6)")
    spark.sql("CREATE TABLE vcat.m.allow (id BIGINT) USING graft")
    spark.sql("INSERT INTO vcat.m.allow VALUES (1), (4)")
    val prevCat = spark.sessionState.catalogManager.currentCatalog
    spark.sql("USE vcat.m")
    try {
      // CTE reference 'x' must NOT anchor to vcat.m.x; the bare
      // subquery name 'allow' MUST anchor to vcat.m.allow
      spark.sql("CREATE VIEW vcte AS WITH x AS " +
        "(SELECT id, v FROM src WHERE id IN (SELECT id FROM allow)) " +
        "SELECT sum(v) AS s FROM x")
    } finally {
      spark.sessionState.catalogManager.setCurrentCatalog(
        prevCat.name())
      spark.sql("USE spark_catalog.default")
    }
    // queried from ANOTHER context: both anchors must hold
    assert(spark.sql("SELECT s FROM vcat.m.vcte").head.getLong(0)
      === 15L) // 3*1 + 3*4
    // DROP VIEW with a TEMP view of the same name under a graft
    // current catalog must drop the temp view, not the catalog one
    spark.sql("CREATE VIEW vcat.m.shadow AS SELECT 1 AS one")
    spark.sql("CREATE TEMPORARY VIEW shadow AS SELECT 2 AS two")
    val prev2 = spark.sessionState.catalogManager.currentCatalog
    spark.sql("USE vcat.m")
    try spark.sql("DROP VIEW shadow")
    finally {
      spark.sessionState.catalogManager.setCurrentCatalog(
        prev2.name())
      spark.sql("USE spark_catalog.default")
    }
    assert(spark.sessionState.catalog.getTempView("shadow").isEmpty,
      "the TEMP view should have been dropped")
    assert(spark.sql("SELECT one FROM vcat.m.shadow")
      .head.getInt(0) === 1, "the catalog view must survive")
  }

  test("views never shadow tables, don't list as tables or " +
    "namespaces, and CREATE TABLE over a view name is rejected") {
    wh
    spark.sql("CREATE TABLE vcat.m.realt (id BIGINT) USING graft")
    spark.sql("CREATE VIEW vcat.m.justv AS " +
      "SELECT id FROM vcat.m.realt")
    val tables = spark.sql("SHOW TABLES IN vcat.m").collect()
      .map(_.getString(1)).toSeq
    assert(tables.contains("realt") && !tables.contains("justv"),
      s"$tables")
    val nss = spark.sql("SHOW NAMESPACES IN vcat.m").collect()
      .map(_.getString(0)).toSeq
    assert(!nss.exists(_.contains("justv")), s"$nss")
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE vcat.m.justv (x BIGINT) USING graft"))
    assert(e.getMessage.toLowerCase.contains("exist") ||
      e.getMessage.contains("justv"), e.getMessage)
  }

  test("concurrent ALTER VIEW SET TBLPROPERTIES: every property " +
    "survives") {
    wh
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewCatalog, ViewChange}
    val cat = spark.sessionState.catalogManager.catalog("vcat")
      .asInstanceOf[ViewCatalog]
    spark.sql("CREATE TABLE vcat.m.pt (id BIGINT) USING graft")
    (0 until 3).foreach { round =>
      val name = s"pv$round"
      spark.sql(s"CREATE VIEW vcat.m.$name AS SELECT id FROM vcat.m.pt")
      val ident = Identifier.of(Array("m"), name)
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      // two ALTER streams on disjoint properties, released together
      val threads = Seq("a", "b").map { t =>
        new Thread(() => {
          start.await()
          (0 until 8).foreach { i =>
            try cat.alterView(ident, ViewChange.setProperty(s"$t$i", "x"))
            catch { case e: Throwable => errs.add(e) }
          }
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      assert(errs.isEmpty, s"round $round: ${errs.peek()}")
      val props = cat.loadView(ident).properties()
      val missing = Seq("a", "b").flatMap(t => (0 until 8).map(i => s"$t$i"))
        .filterNot(props.containsKey)
      assert(missing.isEmpty, s"round $round lost $missing")
    }
  }
}
