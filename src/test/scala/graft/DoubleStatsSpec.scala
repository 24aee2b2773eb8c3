package graft

import java.nio.file.{Files, Paths}
import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._
import graft.PruneFilters.{between, files, twoLevel}

/** Round-13: footer + partition stats extended to DOUBLE/FLOAT.
  * Range-clustered files prune on a double interval; a NaN-poisoned
  * file carries NO bounds (parquet's NaN-unsafe min/max is never
  * trusted) and provably always scans; pruned content equals the
  * plain filtered read exactly in both table forms.
  */
class DoubleStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("dstats").resolve("t").toString

  test("double interval pruning skips range-clustered files and " +
    "content equals the plain filter") {
    val root = tmpRoot()
    val df = spark.range(0, 4000)
      .select(col("id"), (col("id") / lit(10.0)).as("x"))
      .repartitionByRange(8, col("x"))
    VersionedTable.upsert(spark, root, df, Seq("id"))
    val (scanned, total) = files(VersionedTable.pruneDecision(
      root, between("x", 10.5, 60.5)))
    assert(total === 8)
    assert(scanned < total, s"no files skipped: $scanned/$total")
    assert(scanned >= 1)
    val pruned = VersionedTable.readLivePruned(
      spark, root, between("x", 10.5, 60.5))
    val plain = VersionedTable.readLive(spark, root)
      .filter(col("x") >= 10.5 && col("x") <= 60.5)
    assert(pruned.count() === plain.count())
    assert(pruned.agg(sum("id")).head.getLong(0)
      === plain.agg(sum("id")).head.getLong(0))
  }

  test("a NaN-poisoned file keeps no double bounds and always scans") {
    val root = tmpRoot()
    // two range-disjoint clean files + one file holding a NaN
    val clean = spark.range(0, 200)
      .select(col("id"), (col("id") * lit(1.0) + lit(0.5)).as("x"))
      .repartitionByRange(2, col("x"))
    val poison = Seq((9000L, Double.NaN), (9001L, 5000.5))
      .toDF("id", "x").coalesce(1)
    VersionedTable.upsert(spark, root,
      clean.unionByName(poison).repartitionByRange(3, col("x")),
      Seq("id"))
    val live = Paths.get(root)
      .resolve(VersionedTable.readManifest(root).get.segments.last)
    val stats = VersionedTable.readStatsSidecar(live)
    // exactly the NaN-holding file must lack an x bound
    val unbounded = stats.values.filter(!_.dbls.contains("x")).toSeq
    assert(unbounded.size === 1,
      s"expected exactly one bound-less file, got ${unbounded.size}")
    // an interval far from the poisoned file's clean values still
    // scans it (no bounds → must scan), clean out-of-range files skip
    val (scanned, total) = files(VersionedTable.pruneDecision(
      root, between("x", 0.0, 10.0)))
    assert(total === 3)
    assert(scanned === 2, // one clean in-range file + the NaN file
      s"NaN file must always scan: scanned=$scanned")
    // and content still equals the plain filter (NaN row matches
    // neither plan)
    val pruned = VersionedTable.readLivePruned(
      spark, root, between("x", 0.0, 10000.0))
    val plain = VersionedTable.readLive(spark, root)
      .filter(col("x") >= 0.0 && col("x") <= 10000.0)
    assert(pruned.count() === plain.count())
    assert(plain.count() === 201) // the NaN row is out in both
  }

  test("partitioned double interval: partition bounds + file bounds, " +
    "NaN partition always scans") {
    val root = tmpRoot()
    val df = spark.range(0, 900)
      .select(col("id"), (col("id") % 3).cast("string").as("p"),
        (col("id") * lit(0.25)).as("x"))
    VersionedTable.upsert(spark, root, df,
      Seq("id"), Seq("p"))
    // x within each partition spans ~[0, 225); probe an interval no
    // partition's bound excludes vs one that all exclude
    val (pAll, pTot, _, _) = twoLevel(VersionedTable
      .pruneDecision(root, between("x", 1000.0, 2000.0)))
    assert(pTot === 3 && pAll === 0,
      s"out-of-range interval must skip all partitions: $pAll/$pTot")
    val pruned = VersionedTable.readLivePruned(
      spark, root, between("x", 10.0, 50.0))
    val plain = VersionedTable.readLive(spark, root)
      .filter(col("x") >= 10.0 && col("x") <= 50.0)
    assert(pruned.count() === plain.count())
    assert(pruned.agg(sum("id")).head.getLong(0)
      === plain.agg(sum("id")).head.getLong(0))
    // poison one partition with a NaN — its bound disappears, so it
    // scans even for intervals far outside its clean values
    VersionedTable.upsert(spark, root,
      Seq((9000L, "0", Double.NaN)).toDF("id", "p", "x"),
      Seq("id"), Seq("p"))
    val (pSel2, pTot2, _, _) = twoLevel(VersionedTable
      .pruneDecision(root, between("x", 1000.0, 2000.0)))
    assert(pTot2 === 3)
    assert(pSel2 === 1, // only the poisoned partition must scan
      s"NaN partition must lose its bound and scan: $pSel2")
  }

  test("an infinite literal plans without error and never prunes a " +
    "match") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, 1.5), (2L, Double.PositiveInfinity),
        (3L, Double.NegativeInfinity)).toDF("id", "x"), Seq("id"))
    def ids(cond: String): Set[Long] =
      spark.read.format("graft").load(root).where(cond)
        .select("id").as[Long].collect().toSet
    assert(ids("x > double('inf')") === Set.empty[Long])
    assert(ids("x < double('-inf')") === Set.empty[Long])
    assert(ids("x = double('inf')") === Set(2L))
    assert(ids("x = double('-inf')") === Set(3L))
    assert(ids("x >= double('inf') OR x < 2.0") === Set(1L, 2L, 3L))
  }
}
