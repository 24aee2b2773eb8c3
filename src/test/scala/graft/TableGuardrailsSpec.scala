package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._

/** Round-13 write-surface guardrails: partition-column type drift is
  * rejected (not union-coerced into a corrupted key space), the
  * replace/overwrite family can never flip the partition spec,
  * removeOrphans ages staging dirs by their newest NESTED mtime (a
  * long-running writer's staging is not reaped mid-write), and a
  * constraint whose predicate cannot be analyzed fails with the
  * constraint's name and a missing-column/bad-predicate hint instead
  * of a raw AnalysisException.
  */
class TableGuardrailsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("guard").resolve("t").toString

  test("a partitioned upsert rejects partition-column TYPE drift against " +
    "the recorded _part_schema.json") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "07", "a"), (2L, "11", "b")).toDF("id", "day", "v"),
      Seq("id"), Seq("day"))
    // same values, but the partition column arrives as INT — "07"
    // versus 7 address DIFFERENT path-escaped partitions; must fail
    // loudly, not coerce
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, root,
        Seq((3L, 7, "c")).toDF("id", "day", "v"),
        Seq("id"), Seq("day"))
    }
    assert(e.getMessage.contains("type drift"))
    assert(e.getMessage.contains("day"))
    // matching type still works and the key space is intact
    VersionedTable.upsert(spark, root,
      Seq((3L, "07", "c")).toDF("id", "day", "v"),
      Seq("id"), Seq("day"))
    val got = VersionedTable.readLive(spark, root)
    assert(got.count() === 3)
    assert(got.select("day").distinct().as[String].collect().sorted
      === Array("07", "11"))
  }

  test("overwritePartitions under a different partition-column list " +
    "fails instead of flipping the spec") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "day", "v"),
      Seq("id"), Seq("day"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.overwritePartitions(spark, root,
        Seq((9L, "x", "z")).toDF("id", "day", "v"), Seq("v"))
    }
    assert(e.getMessage.contains("partition"))
    // manifest spec unchanged, data unchanged
    val m = VersionedTable.readPartitionedManifest(root).get
    assert(m.partitionColumns === Seq("day"))
    assert(VersionedTable.readLive(spark, root).count() === 2)
  }

  test("removeOrphans ages staging dirs by the newest nested mtime — " +
    "an in-flight deep write survives, a dead one is reaped") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val rootP = Paths.get(root)
    val old = FileTime.fromMillis(System.currentTimeMillis - 3600_000L)
    // in-flight: dir mtime old (created long ago) but a nested task
    // file written moments ago
    val inflight = rootP.resolve("_staging-inflight")
    Files.createDirectories(inflight.resolve("_temporary").resolve("0"))
    Files.write(inflight.resolve("_temporary").resolve("0")
      .resolve("task-part-0.parquet"), "fresh".getBytes)
    Files.setLastModifiedTime(inflight, old)
    // dead: everything old
    val dead = rootP.resolve("_staging-dead")
    Files.createDirectories(dead.resolve("_temporary"))
    Files.write(dead.resolve("_temporary").resolve("part-0.parquet"),
      "stale".getBytes)
    Files.walk(dead).forEach(p => Files.setLastModifiedTime(p, old))
    Files.setLastModifiedTime(dead, old)
    val (nStaging, _, _, _) = VersionedTable.removeOrphans(root,
      olderThanMs = 60_000L)
    assert(nStaging === 1)
    assert(Files.isDirectory(inflight), "in-flight staging was reaped")
    assert(!Files.exists(dead), "dead staging survived")
  }

  test("a 100k-partition touched predicate builds and analyzes " +
    "without stack overflow (balanced OR tree)") {
    val rows = (0 until 100000)
      .map(i => org.apache.spark.sql.Row(s"p$i")).toArray
    val pred = VersionedTable.touchedPredicate(Seq("p"), rows)
    // analysis walks the whole tree recursively — a left-folded OR
    // chain of this size blows the default stack
    val df = Seq(("p5", 1L), ("nope", 2L)).toDF("p", "x").filter(pred)
    assert(df.queryExecution.analyzed != null)
    assert(df.count() === 1)
  }

  test("compactZOrder survives an emptied snapshot (degenerate " +
    "lanes, no NPE on null bounds)") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, 2L), (3L, 4L)).toDF("id", "x"), Seq("id"))
    VersionedTable.replaceTable(spark, root,
      spark.emptyDataset[(Long, Long)].toDF("id", "x"))
    val v = VersionedTable.compactZOrder(spark, root, "id", "x", 2)
    assert(v === 3L)
    assert(VersionedTable.readLive(spark, root).count() === 0)
  }

  test("constraint referencing a column absent from the batch fails " +
    "with the constraint name and a missing-column hint") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a", 5L)).toDF("id", "v", "score"), Seq("id"))
    VersionedTable.addConstraint(root, "score_pos", "score >= 0")
    // batch legitimately omits `score` (SyncAllColumns would null-pad
    // it AFTER validation) — must name the constraint + column, not
    // surface a raw AnalysisException
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, root,
        Seq((2L, "b")).toDF("id", "v"), Seq("id"),
        schemaMode = graft.sinks.MergeWriter.SchemaMode.SyncAllColumns)
    }
    assert(e.getMessage.contains("score_pos"))
    assert(e.getMessage.contains("score"))
    assert(e.getMessage.contains("absent"))
  }

  test("malformed constraint predicate fails analysis with a " +
    "bad-predicate hint, not a missing-column one") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    VersionedTable.addConstraint(root, "oops", "id >*<= 0")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, root,
        Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("oops"))
  }

  test("flat-only maintenance on a partitioned table names the " +
    "partitioned verbs") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "day", "v"),
      Seq("id"), Seq("day"))
    val before = Files.readAllBytes(Paths.get(root, "_manifest.json")).toSeq
    Seq[(String, () => Any)](
      "compact" -> (() => VersionedTable.compact(spark, root, 1)),
      "compactSorted" ->
        (() => VersionedTable.compactSorted(spark, root, Seq("id"), 1)),
      "compactZOrder" -> (() =>
        VersionedTable.compactZOrder(spark, root, "id", "v", 1))
    ).foreach { case (verb, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(s"$verb rewrites flat tables") &&
        e.getMessage.contains("partitioned") &&
        e.getMessage.contains("compactPartitions"), e.getMessage)
    }
    assert(Files.readAllBytes(Paths.get(root, "_manifest.json")).toSeq ===
      before)
  }
}
