package graft

import java.nio.file.Files
import graft.sinks.VersionedTable
import graft.sources.GraftScanAudit
import org.apache.spark.sql.functions._

/** The DSv2 read surface: `format("graft")` resolves the observable
  * snapshot (deletes masked), pushes eq/interval predicates into the
  * sidecar pruning stack (audited), honors versionAsOf/ref time
  * travel, and registers for SQL via USING graft.
  */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("dsv2").resolve("t").toString

  test("flat live read equals readLive; equality + position deletes " +
    "are masked by default and kept with withDeletes=false") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val viaFmt = spark.read.format("graft").load(root)
    assert(viaFmt.columns.sorted.toSeq === Seq("id", "v"))
    assert(viaFmt.count() === 20)
    // equality-delete two keys, position-delete one row by predicate
    VersionedTable.softDelete(spark, root, Seq(3L, 7L).toDF("id"),
      Seq("id"))
    VersionedTable.softDeletePos(spark, root, col("id") === 11L)
    val masked = spark.read.format("graft").load(root)
      .select("id").as[Long].collect().sorted
    assert(masked === (1L to 20L)
      .filterNot(Set(3L, 7L, 11L)).toArray)
    val raw = spark.read.format("graft")
      .option("withDeletes", "false").load(root)
    assert(raw.count() === 20)
  }

  test("interval pushdown engages footer-stats file skipping and " +
    "shows PushedFilters in the plan") {
    val root = tmpRoot()
    val df = spark.range(0, 4000)
      .select(col("id"), (col("id") % 97).as("salt"))
      .repartitionByRange(8, col("id"))
    VersionedTable.upsert(spark, root, df, Seq("id"))
    val q = spark.read.format("graft").load(root)
      .filter(col("id") >= 100L && col("id") <= 400L)
    val got = q.agg(count(lit(1)), sum("id")).head
    val want = VersionedTable.readLive(spark, root)
      .filter(col("id") >= 100L && col("id") <= 400L)
      .agg(count(lit(1)), sum("id")).head
    assert(got === want)
    val d = GraftScanAudit.last.get
    assert(d.filesTotal === 8)
    assert(d.filesScanned < d.filesTotal,
      s"pushdown skipped nothing: ${d.filesScanned}/${d.filesTotal}")
    // the library decision for the same filters is the scan's own
    // metadata step, and computing it leaves the audit untouched
    val lib = VersionedTable.pruneDecision(root,
      PruneFilters.between("id", 100L, 400L))
    assert(PruneFilters.twoLevel(lib) === PruneFilters.twoLevel(d))
    assert(GraftScanAudit.last.exists(_ eq d))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(id,100"), plan.take(2000))
    // the scan node is the V1-wrapped row scan over the graft table
    assert(plan.contains("Scan") && plan.contains("GraftTable("),
      plan.take(500))
  }

  test("string equality pushdown uses truncated UTF8 bounds") {
    val root = tmpRoot()
    val df = spark.range(0, 1000)
      .select(col("id"),
        concat(lit("k"), format_string("%04d", col("id"))).as("key"))
      .repartitionByRange(5, col("key"))
    VersionedTable.upsert(spark, root, df, Seq("id"))
    val q = spark.read.format("graft").load(root)
      .filter(col("key") === "k0500")
    assert(q.count() === 1)
    val d = GraftScanAudit.last.get
    assert(d.filesScanned === 1, s"${d.filesScanned}/${d.filesTotal}")
    // startsWith occupies [p, succ(p)) — prunes to the files whose
    // bounds intersect it, still returning exactly the 10 matches
    val sw = spark.read.format("graft").load(root)
      .filter(col("key").startsWith("k051"))
    assert(sw.count() === 10)
    val d2 = GraftScanAudit.last.get
    assert(d2.filesScanned === 1, s"${d2.filesScanned}/${d2.filesTotal}")
  }

  test("bloom sidecar engages for equality probes through the format " +
    "where min/max bounds admit every file") {
    val root = tmpRoot()
    // hash-scattered key: every file's [min,max] spans the domain, so
    // footer bounds prune nothing — only the bloom can skip
    val df = spark.range(0, 4000)
      .select(col("id"), xxhash64(col("id")).as("skey"))
      .repartition(8)
    VersionedTable.upsert(spark, root, df, Seq("id"))
    VersionedTable.addBloomSidecar(spark, root, Seq("skey"))
    val probe = VersionedTable.readLive(spark, root)
      .filter(col("id") === 1234L).select("skey").as[Long].head()
    val q = spark.read.format("graft").load(root)
      .filter(col("skey") === probe)
    assert(q.count() === 1)
    val d = GraftScanAudit.last.get
    assert(d.filesTotal === 8)
    assert(d.filesScanned < 8,
      s"bloom skipped nothing: ${d.filesScanned}/8")
    // absent value: a bloom miss everywhere → nothing scanned, and
    // the read still returns zero rows with the right schema
    val none = spark.read.format("graft").load(root)
      .filter(col("skey") === lit(probe + 1L))
    assert(none.count() === 0)
    assert(GraftScanAudit.last.get.filesScanned <= 2) // ~1% fpp × 8
  }

  test("partitioned table: partition equality + data interval prune " +
    "both levels; deletes masked") {
    val root = tmpRoot()
    val df = spark.range(0, 3000)
      .select(col("id"), (col("id") % 3).cast("string").as("p"),
        (col("id") % 1000).as("x"))
    VersionedTable.upsert(spark, root, df, Seq("id"), Seq("p"))
    VersionedTable.softDelete(spark, root,
      Seq(0L, 9L).toDF("id"), Seq("id"))
    val q = spark.read.format("graft").load(root)
      .filter(col("p") === "1")
    val gotIds = q.select("id").as[Long].collect().sorted
    val wantIds = VersionedTable
      .readLiveWithDeletes(spark, root, Seq("id"))
      .filter(col("p") === "1").select("id").as[Long].collect().sorted
    assert(gotIds === wantIds)
    assert(!gotIds.contains(9L)) // 9 % 3 == 0 → other partition; use 1
    val d = GraftScanAudit.last.get
    assert(d.partitionsTotal === 3 && d.partitionsScanned === 1,
      s"${d.partitionsScanned}/${d.partitionsTotal}")
  }

  test("versionAsOf and ref read retained snapshots without masking") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      keepVersions = 10)
    VersionedTable.upsert(spark, root,
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"),
      keepVersions = 10)
    VersionedTable.setRef(root, "first", 1L)
    val v1 = spark.read.format("graft")
      .option("versionAsOf", "1").load(root)
    assert(v1.select("id").as[Long].collect().sorted === Array(1L, 2L))
    assert(v1.filter(col("v") === "b").count() === 1)
    val byRef = spark.read.format("graft")
      .option("ref", "first").load(root)
    assert(byRef.count() === 2)
    val live = spark.read.format("graft").load(root)
    assert(live.count() === 3)
  }

  test("a filter excluding every file returns zero rows with the " +
    "table schema") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 50L).map(i => (i, i * 2.0)).toDF("id", "x"), Seq("id"))
    val q = spark.read.format("graft").load(root)
      .filter(col("id") > 1000000L)
    assert(q.columns.sorted.toSeq === Seq("id", "x"))
    assert(q.count() === 0)
    val d = GraftScanAudit.last.get
    assert(d.filesScanned === 0)
  }

  test("review fix: a filter on an APPENDED partition column still " +
    "reads unmigrated old-spec dirs (value lives in their data files)") {
    val root = tmpRoot()
    val df = (1L to 60L)
      .map(i => (i, s"d${i % 3}", s"t${i % 2}", i * 10L))
      .toDF("id", "day", "typ", "cents")
    VersionedTable.upsert(spark, root, df,
      Seq("id"), Seq("day"), keepVersions = 10)
    // migrate ONLY d1 to (day, typ)
    VersionedTable.upsert(spark, root,
      Seq((1000L, "d1", "t0", 1L)).toDF("id", "day", "typ", "cents"),
      Seq("id"), Seq("day", "typ"), keepVersions = 10)
    val got = spark.read.format("graft").load(root)
      .filter(col("typ") === "t0").count()
    val want = VersionedTable.readLive(spark, root)
      .filter(col("typ") === "t0").count()
    assert(got === want)
    // rows from unmigrated d0/d2 must be present (they hold typ in
    // data files, not the path)
    assert(got > 11, s"only migrated-dir rows came back: $got")
  }

  test("review fix: decimal-typed predicates never prune (unscaled " +
    "stats domain) and float literals compare in the binary domain") {
    val root = tmpRoot()
    val df = spark.range(1, 101)
      .select(col("id"),
        (col("id") * lit(1.11)).cast("decimal(10,2)").as("dec"),
        (col("id") / lit(10.0)).cast("float").as("f"))
      .repartitionByRange(4, col("id"))
    VersionedTable.upsert(spark, root, df, Seq("id"))
    // decimal: correct rows, zero files skipped, no dec stats entry
    val q = spark.read.format("graft").load(root)
      .filter(col("dec") === new java.math.BigDecimal("55.50"))
    assert(q.count() === 1)
    val d = GraftScanAudit.last.get
    assert(d.filesScanned === d.filesTotal,
      s"decimal pruned: ${d.filesScanned}/${d.filesTotal}")
    val live = java.nio.file.Paths.get(root)
      .resolve(VersionedTable.readManifest(root).get.segments.last)
    assert(VersionedTable.readStatsSidecar(live)
      .values.forall(fs => !fs.cols.contains("dec")))
    // float: 0.7f is representable only in binary — equality through
    // the format must find the row (harvest widened binary, literal
    // widened binary)
    val qf = spark.read.format("graft").load(root)
      .filter(col("f") === lit(0.7f))
    assert(qf.count() === 1)
  }

  test("write surface: append / keyed upsert / overwrite through " +
    "df.write.format(\"graft\")") {
    val root = tmpRoot()
    // create via plain append (new table, no manifest yet)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.format("graft").mode("append").save(root)
    assert(VersionedTable.readLive(spark, root).count() === 2)
    // append again WITHOUT keys: duplicates preserved
    Seq((2L, "b")).toDF("id", "v")
      .write.format("graft").mode("append").save(root)
    assert(VersionedTable.readLive(spark, root).count() === 3)
    // keyed upsert: collapses on id, updates in place
    Seq((2L, "B"), (3L, "c")).toDF("id", "v")
      .write.format("graft").mode("append").option("keys", "id")
      .save(root)
    val got = VersionedTable.readLive(spark, root)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "B"), (3L, "c")))
    // overwrite: full replace
    Seq((9L, "z")).toDF("id", "v")
      .write.format("graft").mode("overwrite").save(root)
    assert(VersionedTable.readLive(spark, root)
      .select("id").as[Long].collect().toSeq === Seq(9L))
    // read back through the same format
    assert(spark.read.format("graft").load(root).count() === 1)
  }

  test("write surface: partitioned upsert + dynamic partition " +
    "overwrite via options") {
    val root = tmpRoot()
    Seq((1L, "p0", 10L), (2L, "p1", 20L), (3L, "p0", 30L))
      .toDF("id", "p", "x")
      .write.format("graft").mode("append")
      .option("keys", "id").option("partitionColumns", "p").save(root)
    assert(VersionedTable.readLive(spark, root).count() === 3)
    // dynamic overwrite of ONLY p0
    Seq((7L, "p0", 70L)).toDF("id", "p", "x")
      .write.format("graft").mode("overwrite")
      .option("partitionColumns", "p")
      .option("partitionOverwriteMode", "dynamic").save(root)
    val after = VersionedTable.readLive(spark, root)
      .select("id").as[Long].collect().sorted
    assert(after === Array(2L, 7L)) // p0 replaced wholesale, p1 kept
    // static overwrite replaces the whole table
    Seq((100L, "p9", 1L)).toDF("id", "p", "x")
      .write.format("graft").mode("overwrite")
      .option("partitionColumns", "p").save(root)
    assert(VersionedTable.readLive(spark, root)
      .select("id").as[Long].collect().toSeq === Seq(100L))
  }

  test("change feed through the format: option(changesFrom) returns " +
    "the readChanges frame") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      keepVersions = 10)
    VersionedTable.upsert(spark, root,
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"),
      keepVersions = 10)
    val feed = spark.read.format("graft")
      .option("changesFrom", "1").option("keys", "id").load(root)
    assert(feed.columns.contains("_change_type"))
    val ops = feed.select("id", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(ops === Set((2L, "update_preimage"),
      (2L, "update_postimage"), (3L, "insert")))
    // default changesTo = latest; full history from 0
    val all = spark.read.format("graft")
      .option("changesFrom", "0").option("keys", "id").load(root)
    assert(all.count() === 5) // 2 inserts + 1 insert + pre/post
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("changesFrom", "0").load(root)
        .count()
    }
    // CDC poller steady state: changesFrom = latest → EMPTY feed with
    // the stable schema, not an error
    val idle = spark.read.format("graft")
      .option("changesFrom", "2").option("keys", "id").load(root)
    assert(idle.count() === 0)
    assert(idle.columns.contains("_change_type"))
    // changesTo without changesFrom is a misuse, not a silent full
    // snapshot
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("changesTo", "2")
        .option("keys", "id").load(root).count()
    }
  }

  test("bare COUNT(*) answers from sidecar metadata with zero files " +
    "opened; deletes or filters disable the pushdown") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 500L).map(i => (i, i * 2)).toDF("id", "v"), Seq("id"))
    val q = spark.read.format("graft").load(root)
      .agg(count(lit(1)).as("n"))
    assert(q.head.getLong(0) === 500)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("metadata count"), plan.take(800))
    val d = GraftScanAudit.last.get
    assert(d.filesScanned === 0 && d.pushed.exists(_.contains("CountStar")))
    // partitioned form too
    val root2 = tmpRoot()
    VersionedTable.upsert(spark, root2,
      (1L to 90L).map(i => (i, s"p${i % 3}")).toDF("id", "p"),
      Seq("id"), Seq("p"))
    assert(spark.read.format("graft").load(root2).count() === 90)
    assert(GraftScanAudit.last.get.pushed
      .exists(_.contains("CountStar")))
    // a delete sub-table makes the metadata count WRONG for the
    // observable snapshot — pushdown must decline, count stays exact
    VersionedTable.softDelete(spark, root, Seq(7L).toDF("id"), Seq("id"))
    val q2 = spark.read.format("graft").load(root).agg(count(lit(1)))
    assert(q2.head.getLong(0) === 499)
    assert(!q2.queryExecution.executedPlan.toString
      .contains("metadata count"))
    // a filter keeps the row-level path (all filters are residual →
    // Spark never attempts aggregate pushdown)
    val q3 = spark.read.format("graft").load(root2)
      .filter(col("p") === "p1").agg(count(lit(1)))
    assert(q3.head.getLong(0) === 30)
  }

  test("MIN/MAX answer from exact footer bounds alongside COUNT; " +
    "string min/max declines (truncated bounds are inexact)") {
    val root = tmpRoot()
    val df = spark.range(1, 1001)
      .select(col("id"), (col("id") * lit(0.5)).as("x"),
        concat(lit("s"), col("id")).as("name"))
      .repartition(4)
    VersionedTable.upsert(spark, root, df, Seq("id"))
    val q = spark.read.format("graft").load(root)
      .agg(min("id"), max("id"), max("x"), count(lit(1)))
    val r = q.head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
      === ((1L, 1000L, 500.0, 1000L)))
    assert(q.queryExecution.executedPlan.toString
      .contains("metadata count"))
    assert(GraftScanAudit.last.get.filesScanned === 0)
    // a string min cannot come from truncated bounds — whole pushdown
    // declines, result stays exact via the row path
    val qs = spark.read.format("graft").load(root)
      .agg(min("name"), count(lit(1)))
    assert(qs.head.getString(0) === "s1")
    assert(!qs.queryExecution.executedPlan.toString
      .contains("metadata count"))
  }

  test("SQL: CREATE TABLE USING graft + SELECT engages the same scan") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 30L).map(i => (i, s"s$i")).toDF("id", "v"), Seq("id"))
    spark.sql("DROP TABLE IF EXISTS graft_sql_t")
    spark.sql(
      s"CREATE TABLE graft_sql_t USING graft OPTIONS (path '$root')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM graft_sql_t WHERE id <= 10")
        .head.getLong(0)
      assert(n === 10)
      // DML rides the same write surface (append semantics)
      spark.sql("INSERT INTO graft_sql_t VALUES (31, 's31')")
      assert(spark.sql("SELECT count(*) FROM graft_sql_t")
        .head.getLong(0) === 31)
      assert(VersionedTable.readLive(spark, root).count() === 31)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_t")
  }

  test("boolean filter structure prunes: an OR of equalities (the " +
    "touched-partition / backfill shape) skips files on both sides, " +
    "an unevaluable OR branch soundly disables the skip") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      spark.range(0, 4000).select(col("id"), (col("id") * 3).as("v"))
        .repartitionByRange(8, col("id")).toDF(), Seq("id"))
    val df = spark.read.format("graft").load(root)
    // two far-apart points: only the two covering files scan
    val two = df.filter(col("id") === 10 || col("id") === 3990)
      .agg(sum("v")).head.getLong(0)
    assert(two === 10L * 3 + 3990L * 3)
    val d = GraftScanAudit.last.get
    assert(d.filesScanned <= 2 && d.filesTotal >= 8,
      s"OR-of-equalities pruned nothing: $d")
    // an OR with an unevaluable branch must scan everything (sound)
    val n = df.filter(col("id") === 10 ||
        (col("v") % 7 === 0)).count()
    val d2 = GraftScanAudit.last.get
    assert(d2.filesScanned === d2.filesTotal,
      s"unevaluable OR branch still skipped files: $d2")
    assert(n === spark.range(0, 4000).filter(
      (col("id") === 10) || (col("id") * 3 % 7 === 0)).count())
  }
}
