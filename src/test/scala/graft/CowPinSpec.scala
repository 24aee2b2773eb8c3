package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

/** A copy-on-write statement pins its CAS tokens (the snapshot version
  * and both delete-set versions) before it materializes anything. Here
  * the statement's own evaluation — a MERGE source, an UPDATE subquery
  * — commits an INSERT from another thread and waits for it, so the
  * commit lands between the pin and the rewrite: the rewrite must fail
  * its CAS and the statement re-run, never drop the inserted row.
  */
class CowPinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft_cow_pin").toString
    spark.conf.set("spark.sql.catalog.pincat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pincat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pincat.c")
    spark.udf.register("pin_trigger", (id: Long) => {
      CowPinSpec.fireOnce(); id
    })
    dir
  }

  /** Arms the trigger: its first evaluation runs `insert` on another
    * thread and waits for the commit.
    */
  private def arm(insert: String): Unit = {
    CowPinSpec.fired.set(false)
    CowPinSpec.action = () => spark.sql(insert)
  }

  private def rows(table: String): Map[Long, Long] =
    spark.sql(s"SELECT id, v FROM pincat.c.$table").as[(Long, Long)]
      .collect().toMap

  test("a commit landing while MERGE materializes its join fails the " +
    "rewrite's CAS, and the inserted row survives") {
    wh
    spark.sql("CREATE TABLE pincat.c.m (id BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO pincat.c.m VALUES (1, 10), (2, 20)")
    arm("INSERT INTO pincat.c.m VALUES (9, 90)")
    // a Range source: the UDF runs in the join's job, not while
    // optimizing a local relation
    spark.range(1, 3).selectExpr("pin_trigger(id) AS id", "id * 100 AS nv")
      .createOrReplaceTempView("pin_src")
    spark.sql("MERGE INTO pincat.c.m t USING pin_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.nv")
    assert(CowPinSpec.fired.get)
    assert(rows("m") === Map(1L -> 100L, 2L -> 200L, 9L -> 90L))
  }

  test("a commit landing while UPDATE materializes its subquery flag " +
    "fails the rewrite's CAS, and the inserted row survives") {
    wh
    spark.sql("CREATE TABLE pincat.c.u (id BIGINT, v BIGINT, p STRING) " +
      "USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO pincat.c.u VALUES (1, 10, 'a'), (2, 20, 'b')")
    // the inserted row lands in the partition the UPDATE rewrites
    arm("INSERT INTO pincat.c.u VALUES (9, 90, 'a')")
    spark.range(1, 2).toDF("id").createOrReplaceTempView("pin_ids")
    // the trigger reads both sides, so it stays in the join condition
    // and fires while the target is scanned, after its snapshot is read
    spark.sql("UPDATE pincat.c.u SET v = v + 1 WHERE EXISTS (SELECT 1 " +
      "FROM pin_ids s WHERE pin_trigger(s.id + pincat.c.u.id * 0) = " +
      "pincat.c.u.id)")
    assert(CowPinSpec.fired.get)
    assert(rows("u") === Map(1L -> 11L, 2L -> 20L, 9L -> 90L))
  }
}

object CowPinSpec {
  val fired = new AtomicBoolean(false)
  @volatile var action: () => Unit = () => ()

  /** Runs `action` on another thread, once, and waits for it. */
  def fireOnce(): Unit =
    if (fired.compareAndSet(false, true)) {
      var failure: Option[Throwable] = None
      val t = new Thread(() =>
        try action() catch { case e: Throwable => failure = Some(e) })
      t.start()
      t.join()
      failure.foreach(e => throw e)
    }
}
