package graft

import java.nio.file.{Files, Paths}
import graft.sinks.{MergeWriter, TableFs, VersionedTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import graft.PruneFilters.{between, files}

/** The manifest commit protocol: snapshot reads under concurrent
  * commits (the property MergeWriter's dir swap cannot give), linear
  * versioning, retention, and upsert parity with the rename-based
  * merge.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("vtable").resolve("t").toString

  test("upsert semantics match MergeWriter: insert, update, idempotent") {
    val root = tmpRoot()
    val v1 = VersionedTable.upsert(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    assert(v1 === 1L)
    // update key 2, insert key 3
    VersionedTable.upsert(spark, root,
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val got = VersionedTable.readLive(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // re-running the same batch is a no-op on content
    VersionedTable.upsert(spark, root,
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    assert(VersionedTable.readLive(spark, root).count() === 3)
    assert(VersionedTable.readManifest(root).get.version === 3L)
  }

  test("schema evolution rides the same MergeWriter policy") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, root,
        Seq((2L, "b", 9L)).toDF("id", "v", "extra"), Seq("id"))
    }
    VersionedTable.upsert(spark, root,
      Seq((2L, "b", 9L)).toDF("id", "v", "extra"), Seq("id"),
      schemaMode = MergeWriter.SchemaMode.SyncAllColumns)
    val live = VersionedTable.readLive(spark, root)
    assert(live.columns.sorted.toSeq === Seq("extra", "id", "v"))
    assert(live.filter($"id" === 1L).select("extra").head().isNullAt(0))
  }

  test("equality deletes: immediate merge-on-read visibility, vacuum " +
    "is a pure layout change, sequence numbers make a re-upserted key " +
    "visible BEFORE vacuum, deletes of absent keys are no-ops") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    // delete 3 keys + one absent key: O(|keys|) commit, no rewrite
    VersionedTable.softDelete(spark, root,
      Seq(2L, 5L, 9L, 99L).toDF("id"), Seq("id"))
    def liveIds() = VersionedTable
      .readLiveWithDeletes(spark, root, Seq("id"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(liveIds() === Seq(1L, 3L, 4L, 6L, 7L, 8L, 10L))
    // physical data untouched pre-vacuum (merge-on-read)
    assert(VersionedTable.readLive(spark, root).count() === 10)
    // re-upserting a soft-deleted key: the new row OUT-SEQUENCES the
    // delete entry and is visible immediately (Iceberg's sequence-
    // number rule) — no vacuum needed
    VersionedTable.upsert(spark, root,
      Seq((5L, "v5b"), (11L, "v11")).toDF("id", "v"), Seq("id"))
    assert(liveIds() === Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 10L, 11L))
    assert(VersionedTable.readLiveWithDeletes(spark, root, Seq("id"))
      .filter($"id" === 5L).select("v").as[String].head() === "v5b",
      "the re-upserted ROW (not the deleted one) must be visible")
    // the hidden sequence column never leaks into reads
    assert(!VersionedTable.readLive(spark, root).columns
      .contains("_graft_seq"))
    // vacuum folds: same logical rows, physically shrunk, delete set
    // reset — keys 2/9 drop physically, 5's reinsert survives
    VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    assert(liveIds() === Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 10L, 11L))
    assert(VersionedTable.readLive(spark, root).count() === 9)
    // a FRESH delete after the reinsert masks it again (its sequence
    // is newer than the row's)
    VersionedTable.softDelete(spark, root, Seq(5L).toDF("id"), Seq("id"))
    assert(!liveIds().contains(5L))
    VersionedTable.upsert(spark, root,
      Seq((5L, "v5c")).toDF("id", "v"), Seq("id"))
    assert(liveIds().contains(5L))
  }

  test("a legacy delete set (no _del_seq column) keeps masking and " +
    "accepts new sequence-stamped deletes without a schema error") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 4L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    // fabricate the pre-sequence delete set: keys only, no _del_seq
    VersionedTable.upsert(spark, s"$root/_deletes",
      Seq(2L).toDF("id"), Seq("id"))
    def liveIds() = VersionedTable
      .readLiveWithDeletes(spark, root, Seq("id"))
      .select("id").as[Long].collect().sorted.toSeq
    // legacy entries mask unconditionally (null stamp → always-mask)
    assert(liveIds() === Seq(1L, 3L, 4L))
    // the first post-upgrade softDelete must evolve the delete-set
    // schema (SyncAllColumns), not throw on the new _del_seq column
    VersionedTable.softDelete(spark, root, Seq(3L).toDF("id"), Seq("id"))
    assert(liveIds() === Seq(1L, 4L))
    // and sequence semantics work from then on: re-upsert of the
    // stamped delete's key is visible, the legacy-masked key stays gone
    VersionedTable.upsert(spark, root,
      Seq((3L, "v3b")).toDF("id", "v"), Seq("id"))
    assert(liveIds() === Seq(1L, 3L, 4L))
  }

  test("a softDelete racing vacuum's reset is never wiped (CAS on the " +
    "delete-set version)") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    VersionedTable.softDelete(spark, root, Seq(2L).toDF("id"), Seq("id"))
    // interleave: a new delete (key 4) lands AFTER vacuum folded key 2
    // into the rewrite but BEFORE it resets the delete set
    TableFs.withSeam(root, TableFs.AfterUnlock)(_ =>
      VersionedTable.softDelete(spark, root, Seq(4L).toDF("id"), Seq("id"))) {
      VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    }
    // key 2 folded away physically; key 4's racing delete still masks
    assert(VersionedTable.readLive(spark, root).count() === 5)
    assert(VersionedTable.readLiveWithDeletes(spark, root, Seq("id"))
      .select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L, 5L, 6L))
    // a later (un-raced) vacuum folds key 4 too
    VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    assert(VersionedTable.readLive(spark, root).count() === 4)
  }

  test("partitioned equality deletes: immediate mask, vacuum rewrites " +
    "only touched partitions, a fully-emptied partition vacates its " +
    "manifest pointer") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq(("d0", 1L, "a"), ("d0", 2L, "b"), ("d1", 3L, "c"),
        ("d2", 4L, "d")).toDF("dt", "id", "v"),
      Seq("dt", "id"), Seq("dt"), keepVersions = 4)
    VersionedTable.softDelete(spark, root,
      Seq(1L, 3L).toDF("id"), Seq("id"))
    def liveIds() = VersionedTable
      .readLiveWithDeletes(spark, root, Seq("id"))
      .select("id").as[Long].collect().sorted.toSeq
    // masked immediately, physical data untouched
    assert(liveIds() === Seq(2L, 4L))
    assert(VersionedTable.readLive(spark, root).count() === 4)
    val before = VersionedTable.readPartitionedManifest(root).get
    VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    val after = VersionedTable.readPartitionedManifest(root).get
    // d2 held no deleted key: its pointer must be untouched
    assert(after.partitions("dt=d2") === before.partitions("dt=d2"),
      s"untouched partition rewrote: $before -> $after")
    // d0 rewrote (1 dropped, 2 kept); d1 emptied entirely and vacated
    assert(after.partitions("dt=d0") !== before.partitions("dt=d0"))
    assert(!after.partitions.contains("dt=d1"),
      s"fully-emptied partition still pointed: ${after.partitions}")
    assert(liveIds() === Seq(2L, 4L))
    assert(VersionedTable.readLive(spark, root).count() === 2)
    // delete set reset: a fresh delete + immediate read still works
    VersionedTable.softDelete(spark, root,
      Seq(4L).toDF("id"), Seq("id"))
    assert(liveIds() === Seq(2L))
  }

  test("a failed _part_schema.json publish aborts the partitioned " +
    "commit before its manifest flip") {
    val root = tmpRoot()
    val rows = Seq(("07", 1L), ("08", 2L)).toDF("dt", "id")
    VersionedTable.upsert(spark, root, rows, Seq("id"),
      Seq("dt"))
    val before = VersionedTable.readPartitionedManifest(root).get
    val e = intercept[Exception] {
      TableFs.withSeam(root, TableFs.BeforePublish) { target =>
        if (target.getFileName.toString == "_part_schema.json")
          throw new java.io.IOException("part schema publish failed")
      } {
        VersionedTable.upsert(spark, root,
          Seq(("09", 3L)).toDF("dt", "id"), Seq("id"), Seq("dt"))
      }
    }
    assert(e.getMessage.contains("part schema publish failed"),
      e.getMessage)
    assert(VersionedTable.readPartitionedManifest(root).get === before)
    assert(VersionedTable.readLive(spark, root)
      .select("dt").as[String].collect().sorted.toSeq === Seq("07", "08"))
  }

  test("partitioned vacuum vacates fully-emptied null and timestamp " +
    "partitions: covered keys are Spark-rendered, so they match the " +
    "manifest keys byte-for-byte") {
    // null partition value: Spark writes __HIVE_DEFAULT_PARTITION__,
    // which String.valueOf-based hand rendering ("null") would miss —
    // the emptied partition's stale pointer would resurface its rows
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((Some("d0"), 1L, "a"), (Option.empty[String], 2L, "b"),
        (Option.empty[String], 3L, "c")).toDF("dt", "id", "v"),
      Seq("dt", "id"), Seq("dt"), keepVersions = 4)
    val before = VersionedTable.readPartitionedManifest(root).get
    assert(before.partitions.keySet ===
      Set("dt=d0", "dt=__HIVE_DEFAULT_PARTITION__"))
    VersionedTable.softDelete(spark, root,
      Seq(2L, 3L).toDF("id"), Seq("id"))
    VersionedTable.vacuumDeletes(spark, root, Seq("id"))
    val after = VersionedTable.readPartitionedManifest(root).get
    assert(!after.partitions.contains("dt=__HIVE_DEFAULT_PARTITION__"),
      s"emptied null partition still pointed: ${after.partitions}")
    assert(after.partitions("dt=d0") === before.partitions("dt=d0"),
      "untouched partition must keep its pointer")
    assert(VersionedTable.readLive(spark, root)
      .select("id").as[Long].collect().toSeq === Seq(1L))
    // timestamp partition value: Spark renders the session-tz wall
    // time with ':' path-escaped — hand rendering diverges there too
    val troot = tmpRoot()
    VersionedTable.upsert(spark, troot,
      Seq((java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 1L),
        (java.sql.Timestamp.valueOf("2024-01-02 11:45:00"), 2L))
        .toDF("h", "id"),
      Seq("h", "id"), Seq("h"), keepVersions = 4)
    VersionedTable.softDelete(spark, troot,
      Seq(2L).toDF("id"), Seq("id"))
    VersionedTable.vacuumDeletes(spark, troot, Seq("id"))
    val tafter = VersionedTable.readPartitionedManifest(troot).get
    assert(tafter.partitions.size === 1,
      s"emptied timestamp partition still pointed: ${tafter.partitions}")
    assert(VersionedTable.readLive(spark, troot)
      .select("id").as[Long].collect().toSeq === Seq(1L))
    // empty-string and path-hostile string values (space, '=', '%',
    // '/'): Spark's writer folds "" into the null partition and
    // percent-escapes the rest — the driver-side renderer (r16) must
    // keep matching the harvested keys byte-for-byte for all of them
    val sroot = tmpRoot()
    VersionedTable.upsert(spark, sroot,
      Seq(("", 1L), ("a b=c", 2L), ("p%2F/q", 3L), ("keep", 4L))
        .toDF("k", "id"),
      Seq("k", "id"), Seq("k"), keepVersions = 4)
    val sbefore = VersionedTable.readPartitionedManifest(sroot).get
    VersionedTable.softDelete(spark, sroot,
      Seq(1L, 2L, 3L).toDF("id"), Seq("id"))
    VersionedTable.vacuumDeletes(spark, sroot, Seq("id"))
    val safter = VersionedTable.readPartitionedManifest(sroot).get
    assert(safter.partitions.keySet === Set("k=keep"),
      s"emptied escaped partitions still pointed: ${safter.partitions} " +
        s"(before: ${sbefore.partitions.keySet})")
    assert(VersionedTable.readLive(spark, sroot)
      .select("id").as[Long].collect().toSeq === Seq(4L))
  }

  test("diffVersions under schema evolution: columns added or removed " +
    "between versions ride as typed nulls on the absent side and " +
    "classify rows changed") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("id", "v", "old_only"),
      Seq("id"), keepVersions = 5)
    // v2 drops old_only and adds extra (the SyncAllColumns shape)
    VersionedTable.commit(root, keepVersions = 5) { dir =>
      Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("id", "v", "extra")
        .write.parquet(dir)
    }
    val d = VersionedTable.diffVersions(spark, root, 1L, 2L, Seq("id"))
    val st = d.select("id", "status").as[(Long, String)].collect().toMap
    assert(st === Map(1L -> "changed", 2L -> "changed"),
      "evolved-column rows must classify changed, not same/throw")
    // the packed structs union BOTH schemas, null-padded per side
    val row = d.filter($"id" === 1L).select(
      col("old_vals.v"), col("old_vals.extra"),
      col("new_vals.old_only"), col("new_vals.extra")).head()
    assert(row.getString(0) === "a")
    assert(row.isNullAt(1), "extra must be null on the v1 side")
    assert(row.isNullAt(2), "old_only must be null on the v2 side")
    assert(row.getLong(3) === 7L)
  }

  test("diffVersions classifies added/removed/changed/same on both " +
    "table forms, null-safe on value columns") {
    // unpartitioned: v1 = {1→a, 2→b, 3→null}, v2 = {2→b2, 3→null, 4→d}
    // after a vacuumless soft... no deletes needed: use two commits
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, Some("a")), (2L, Some("b")), (3L, None))
        .toDF("id", "v"), Seq("id"), keepVersions = 5)
    // second commit REPLACES the table state via a raw full commit so
    // key 1 is genuinely removed (upsert alone never removes)
    VersionedTable.commit(root, keepVersions = 5) { dir =>
      Seq((2L, Some("b2")), (3L, None), (4L, Some("d")))
        .toDF("id", "v").write.parquet(dir)
    }
    val d = VersionedTable.diffVersions(spark, root, 1L, 2L, Seq("id"))
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(d === Map(1L -> "removed", 2L -> "changed",
      3L -> "same", 4L -> "added"))
    // the partitioned form diffs through the same readVersion
    val proot = tmpRoot()
    VersionedTable.upsert(spark, proot,
      Seq(("d0", 1L, 10L)).toDF("dt", "id", "v"), Seq("dt", "id"),
      Seq("dt"), keepVersions = 4)
    VersionedTable.upsert(spark, proot,
      Seq(("d0", 1L, 11L), ("d1", 2L, 20L)).toDF("dt", "id", "v"),
      Seq("dt", "id"), Seq("dt"), keepVersions = 4)
    val pd = VersionedTable
      .diffVersions(spark, proot, 1L, 2L, Seq("dt", "id"))
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(pd === Map(1L -> "changed", 2L -> "added"))
  }

  test("per-file footer stats: commit writes the _stats.json sidecar; " +
    "a selective pruned read opens fewer files than the live version " +
    "holds and equals the full filtered read; statless files and " +
    "unstatted columns always scan (sound)") {
    val root = tmpRoot()
    // 4 disjoint value ranges laid out as 4 physical files via a
    // partitionBy(fid) commit — file f holds v in [f*100, f*100+24]
    val rows = for (f <- 0 to 3; i <- 0 to 24)
      yield (f.toLong, f * 100L + i, s"r$f-$i")
    VersionedTable.commit(root) { dir =>
      rows.toDF("fid", "v", "s").write.partitionBy("fid").parquet(dir)
    }
    val m = VersionedTable.readManifest(root).get
    val verDir = Paths.get(root).resolve(m.segments.last)
    val stats = VersionedTable.readStatsSidecar(verDir)
    assert(stats.size === 4, s"expected 4 file entries: $stats")
    assert(stats.values.forall(_.cols.contains("v")))
    // interval [110, 220] overlaps files 1 and 2 only
    val (scanned, total) =
      files(VersionedTable.pruneDecision(root, between("v", 110L, 220L)))
    assert(total === 4 && scanned === 2,
      s"expected 2 of 4 files scanned, got $scanned of $total")
    val pruned = VersionedTable
      .readLivePruned(spark, root, between("v", 110L, 220L))
      .select("v").as[Long].collect().sorted.toSeq
    val full = VersionedTable.readLive(spark, root)
      .filter($"v" >= 110L && $"v" <= 220L)
      .select("v").as[Long].collect().sorted.toSeq
    assert(pruned === full && pruned.nonEmpty)
    // a string column has no stats entry: every file scans
    val (sAll, _) =
      files(VersionedTable.pruneDecision(root, between("s", 0L, 0L)))
    assert(sAll === 4, "unstatted column must scan everything")
    // no sidecar (legacy commit) → full scan, identical result
    Files.delete(verDir.resolve("_stats.json"))
    val (legacy, _) =
      files(VersionedTable.pruneDecision(root, between("v", 110L, 220L)))
    assert(legacy === 4, "missing sidecar must scan everything")
    assert(VersionedTable
      .readLivePruned(spark, root, between("v", 110L, 220L))
      .count() === full.size.toLong)
  }

  test("string footer stats: truncated UTF8 bounds prune equality " +
    "reads to the right files, stay sound for >16-codepoint values " +
    "sharing a prefix, and a missing sidecar scans everything") {
    val root = tmpRoot()
    // 4 files with disjoint string ranges (file f holds s in
    // ["sf-000".."sf-024"]) plus a LONG column whose values share a
    // 20-char prefix per file — its truncated bounds collapse to the
    // bumped 16-codepoint prefix, so equality inside the file must
    // still scan it (soundness under truncation)
    val rows = for (f <- 0 to 3; i <- 0 to 24)
      yield (f.toLong, f"s$f%d-$i%03d", ("p" * 20) + f"$f%d-$i%03d")
    VersionedTable.commit(root) { dir =>
      rows.toDF("fid", "s", "longs").write.partitionBy("fid").parquet(dir)
    }
    val m = VersionedTable.readManifest(root).get
    val verDir = Paths.get(root).resolve(m.segments.last)
    val stats = VersionedTable.readStatsSidecar(verDir)
    assert(stats.size === 4 && stats.values.forall(_.strs.contains("s")))
    // truncation really happened for the long column
    assert(stats.values.forall(_.strs.get("longs").forall { case (lo, hi) =>
      lo.length <= 16 && hi.length <= 16
    }))
    val (scanned, total) = files(
      VersionedTable.pruneDecision(root, Seq(EqualTo("s", "s2-010"))))
    assert(total === 4 && scanned === 1,
      s"expected 1 of 4 files for s2-010, got $scanned of $total")
    val pruned = VersionedTable
      .readLivePruned(spark, root, Seq(EqualTo("s", "s2-010")))
      .select("s").as[String].collect().toSeq
    assert(pruned === Seq("s2-010"))
    // a value below every file's range scans nothing and returns empty
    val (none, _) =
      files(VersionedTable.pruneDecision(root, Seq(EqualTo("s", "a"))))
    assert(none === 0)
    assert(VersionedTable.readLivePruned(spark, root, Seq(EqualTo("s", "a")))
      .count() === 0)
    // truncated long column: every file shares the same 16-prefix
    // bounds region, equality inside file 1 must still find its row
    val target = ("p" * 20) + "1-007"
    val got = VersionedTable
      .readLivePruned(spark, root, Seq(EqualTo("longs", target)))
    assert(got.count() === 1, "truncation must never skip a match")
    // no sidecar → full scan, identical result
    Files.delete(verDir.resolve("_stats.json"))
    val (legacy, _) = files(
      VersionedTable.pruneDecision(root, Seq(EqualTo("s", "s2-010"))))
    assert(legacy === 4)
    assert(VersionedTable
      .readLivePruned(spark, root, Seq(EqualTo("s", "s2-010")))
      .count() === 1)
  }

  test("countLive answers COUNT(*) from the sidecar without a scan " +
    "and declines (None) when any file lacks stats") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 37L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    assert(VersionedTable.countLive(root) === Some(37L))
    assert(VersionedTable.countLive(root).get ===
      VersionedTable.readLive(spark, root).count())
    val m = VersionedTable.readManifest(root).get
    Files.delete(Paths.get(root).resolve(m.segments.last).resolve("_stats.json"))
    assert(VersionedTable.countLive(root) === None)
  }

  test("compact bin-packs the live snapshot into exactly numFiles " +
    "files in a new version, preserves content AND write-sequence " +
    "stamps so existing delete masks keep applying") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (1L to 200L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartition(8), Seq("id"))
    // mask some keys BEFORE compaction (delete seq = 2 > row seq = 1)
    VersionedTable.softDelete(spark, root,
      Seq(5L, 6L, 7L).toDF("id"), Seq("id"))
    def liveFiles(): Int = {
      val m = VersionedTable.readManifest(root).get
      Files.walk(Paths.get(root).resolve(m.segments.last)).filter(p =>
        p.getFileName.toString.endsWith(".parquet")).count().toInt
    }
    assert(liveFiles() === 8)
    val v = VersionedTable.compact(spark, root, 2)
    assert(v === 2L && liveFiles() === 2)
    // content identical, deletes still masked post-rewrite
    assert(VersionedTable.readLive(spark, root).count() === 200)
    val masked = VersionedTable.readLiveWithDeletes(spark, root, Seq("id"))
    assert(masked.count() === 197)
    assert(masked.filter($"id".isin(5L, 6L, 7L)).count() === 0)
    // the fresh sidecar still answers countLive
    assert(VersionedTable.countLive(root) === Some(200L))
    // a concurrent upsert racing the compaction is never lost: CAS
    // rejects the stale base and the retry re-packs the fresh snapshot
    VersionedTable.upsert(spark, root,
      Seq((500L, 1L)).toDF("id", "v"), Seq("id"))
    VersionedTable.compact(spark, root, 1)
    assert(VersionedTable.readLive(spark, root)
      .filter($"id" === 500L).count() === 1)
  }

  test("compactSorted clusters files on the sort key: a narrow " +
    "interval that scanned every scattered file scans few after, " +
    "with identical content") {
    val root = tmpRoot()
    // round-robin scatter: every one of 8 files spans ~the whole
    // domain, so footer stats prune nothing
    VersionedTable.commit(root) { dir =>
      (1L to 800L).map(i => (i, i % 400L)).toDF("id", "k")
        .repartition(8).write.parquet(dir)
    }
    val before =
      files(VersionedTable.pruneDecision(root, between("k", 10L, 30L)))
    assert(before._2 === 8 && before._1 === 8,
      s"scattered layout should prune nothing: $before")
    val full = VersionedTable.readLive(spark, root)
      .filter($"k" >= 10L && $"k" <= 30L)
      .select("id").as[Long].collect().sorted.toSeq
    VersionedTable.compactSorted(spark, root, Seq("k"), 8)
    val after =
      files(VersionedTable.pruneDecision(root, between("k", 10L, 30L)))
    assert(after._1 < after._2 && after._1 <= 2,
      s"sorted layout must prune a narrow interval: $after")
    val pruned = VersionedTable
      .readLivePruned(spark, root, between("k", 10L, 30L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(pruned === full && full.size === 42)
    assert(VersionedTable.readLive(spark, root).count() === 800)
  }

  test("retention keeps exactly live + predecessor versions") {
    val root = tmpRoot()
    // each batch re-upserts key 1, so every commit after the first
    // replaces a row and rewrites the whole snapshot (a key-disjoint
    // batch would add a segment instead)
    (1 to 4).foreach(i => VersionedTable.upsert(spark, root,
      Seq((1L, "r1"), (i.toLong, s"r$i")).distinct.toDF("id", "v"),
      Seq("id")))
    val dirs = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.matches(".*v\\d{8}$")).sorted
      .map(d => d.substring(d.length - 9)).toSeq
    assert(dirs === Seq("v00000003", "v00000004"),
      s"expected live + predecessor kept, got $dirs")
    assert(VersionedTable.readLive(spark, root).count() === 4)
  }

  test("time travel: each retained version reads its exact snapshot; " +
      "pruned versions fail with the retention hint") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), keepVersions = 3)
    VersionedTable.upsert(spark, root,
      Seq((2L, "b")).toDF("id", "v"), Seq("id"), keepVersions = 3)
    VersionedTable.upsert(spark, root,
      Seq((1L, "A")).toDF("id", "v"), Seq("id"), keepVersions = 3)
    assert(VersionedTable.versions(root) === Seq(1L, 2L, 3L))
    def snap(ver: Long): Map[Long, String] =
      VersionedTable.readVersion(spark, root, ver)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(snap(1L) === Map(1L -> "a"))
    assert(snap(2L) === Map(1L -> "a", 2L -> "b"))
    assert(snap(3L) === Map(1L -> "A", 2L -> "b"))
    // a 4th commit with keepVersions=2 prunes v1 and v2: history says
    // they existed, read fails loudly
    VersionedTable.upsert(spark, root,
      Seq((3L, "c")).toDF("id", "v"), Seq("id"), keepVersions = 2)
    assert(VersionedTable.versions(root) === Seq(3L, 4L))
    val e = intercept[IllegalStateException] {
      VersionedTable.readVersion(spark, root, 1L)
    }
    assert(e.getMessage.contains("pruned by retention"))
    val e2 = intercept[IllegalStateException] {
      VersionedTable.readVersion(spark, root, 99L)
    }
    assert(e2.getMessage.contains("never committed"))
  }

  test("failed write commits nothing and leaves the live version intact") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    intercept[RuntimeException] {
      VersionedTable.commit(root) { _ => throw new RuntimeException("boom") }
    }
    assert(VersionedTable.readManifest(root).get.version === 1L)
    assert(VersionedTable.readLive(spark, root).count() === 1)
    // the half-written v2 dir is gone; next commit reuses version 2
    assert(!Files.exists(Paths.get(root).resolve("v00000002")))
    assert(VersionedTable.upsert(spark, root,
      Seq((2L, "b")).toDF("id", "v"), Seq("id")) === 2L)
  }

  test("partitioned upsert: only touched partitions rewrite, manifest " +
    "pointers mix versions, reads reassemble the live snapshot") {
    val root = tmpRoot()
    val day1 = Seq((1L, "d1", 10L), (2L, "d1", 20L))
    val day2 = Seq((3L, "d2", 30L))
    VersionedTable.upsert(spark, root,
      (day1 ++ day2).toDF("id", "dt", "v"), Seq("id"), Seq("dt"))
    // second batch touches ONLY d2 (update 3, insert 4)
    VersionedTable.upsert(spark, root,
      Seq((3L, "d2", 31L), (4L, "d2", 40L)).toDF("id", "dt", "v"),
      Seq("id"), Seq("dt"))
    val m = VersionedTable.readPartitionedManifest(root).get
    assert(m.version === 2L)
    assert(m.partitions("dt=d1") === "v00000001",
      "untouched partition must keep its old version dir")
    assert(m.partitions("dt=d2") === "v00000002")
    val got = VersionedTable.readLive(spark, root)
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String]("dt"), r.getAs[Long]("v"))).toSet
    assert(got === Set((1L, "d1", 10L), (2L, "d1", 20L),
      (3L, "d2", 31L), (4L, "d2", 40L)))
    // v1 still holds d1's live data so it must survive pruning; after
    // a third commit touching d1, v1 is only the PREVIOUS snapshot's
    // dependency and survives one more round
    VersionedTable.upsert(spark, root,
      Seq((1L, "d1", 11L)).toDF("id", "dt", "v"), Seq("id"), Seq("dt"))
    val m3 = VersionedTable.readPartitionedManifest(root).get
    assert(m3.partitions("dt=d1") === "v00000003")
    assert(m3.partitions("dt=d2") === "v00000002")
    val got3 = VersionedTable.readLive(spark, root)
      .filter($"dt" === "d1").select("v").as[Long].collect().toSet
    assert(got3 === Set(11L, 20L))
  }

  test("a concurrent reader never sees a missing dir or partial " +
    "snapshot across repeated commits") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((0L, 0L)).toDF("id", "batch"), Seq("id"))
    // every version has a distinct, internally-consistent shape:
    // batch b upserts ids [0, b] all tagged batch=b, so a snapshot
    // read must see max(batch) == count-1 AND a single batch value
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var writing = true
    val reader = new Thread(() => {
      while (writing) {
        try {
          val rows = VersionedTable.readLive(spark, root)
            .agg(count(lit(1)), max($"batch"), min($"batch"))
            .head()
          val (n, mx, mn) = (rows.getLong(0), rows.getLong(1), rows.getLong(2))
          if (mx !== mn)
            failures.add(s"mixed batches in one snapshot: $mn..$mx")
          if (n !== mx + 1)
            failures.add(s"partial snapshot: batch $mx with $n rows")
        } catch { case e: Throwable =>
          failures.add(s"reader threw: ${e.getMessage}")
        }
      }
    })
    reader.start()
    try {
      // keepVersions = 4: the reader only needs latitude of ONE
      // commit by protocol; the margin keeps a busy CI box from
      // turning slow reads into false protocol violations
      (1 to 12).foreach { b =>
        VersionedTable.upsert(spark, root,
          (0L to b.toLong).map(i => (i, b.toLong)).toDF("id", "batch"),
          Seq("id"), keepVersions = 4)
      }
    } finally { writing = false; reader.join(30000) }
    assert(failures.isEmpty,
      s"concurrent reader observed: ${failures.toArray.take(3).mkString("; ")}")
    assert(VersionedTable.readLive(spark, root).count() === 13)
  }

  test("CAS commit rejects a writer whose base version was superseded") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((1L, "a")).toDF("id", "v"), Seq("id")) // v1
    // writer A merges against v1... meanwhile writer B commits v2
    VersionedTable.upsert(spark, root,
      Seq((2L, "b")).toDF("id", "v"), Seq("id")) // v2
    val e = intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commit(root, expectedBase = Some(1L)) { dir =>
        Seq((1L, "stale")).toDF("id", "v").write.parquet(dir)
      }
    }
    assert(e.getMessage.contains("v2"))
    // the rejected writer's staging is cleaned up; live state untouched
    val leftovers = Files.list(Paths.get(root)).toArray.map(_.toString)
      .filter(_.contains("_staging"))
    assert(leftovers.isEmpty, s"staging not cleaned: ${leftovers.toSeq}")
    assert(VersionedTable.readLive(spark, root).count() === 2)
  }

  test("interleaved upsert writers lose no updates (unpartitioned)") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq((0L, -1L)).toDF("id", "writer"), Seq("id"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to 2).map { w =>
      new Thread(() => {
        try (1 to 5).foreach { i =>
          VersionedTable.upsert(spark, root,
            Seq((w * 100L + i, w.toLong)).toDF("id", "writer"),
            Seq("id"), keepVersions = 30)
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer threw: ${errors.toArray.headOption}")
    val ids = VersionedTable.readLive(spark, root)
      .select("id").as[Long].collect().toSet
    // every writer's every key survived — the lost-update shape the
    // pre-CAS last-manifest-wins protocol allowed is impossible now
    assert(ids === (Set(0L) ++
      (1 to 2).flatMap(w => (1 to 5).map(i => w * 100L + i)).toSet))
    // and history is linear: 11 commits, strictly increasing versions
    assert(VersionedTable.readManifest(root).get.version === 11L)
  }

  test("keepManifests widens partitioned retention: a snapshot pinned " +
    "K-1 commits back still reads; partitioned time travel " +
    "reassembles exact snapshots and fails loudly past retention") {
    val root = tmpRoot()
    def put(id: Long, v: Long, keep: Int = 3) =
      VersionedTable.upsert(spark, root,
        Seq((s"d${id % 2}", id, v)).toDF("dt", "id", "v"),
        Seq("dt", "id"), Seq("dt"), keepVersions = keep)
    put(0L, 0L); put(1L, 1L)
    // pin the v2 snapshot, then land two more commits (keep=3 keeps
    // dirs referenced by the newest 3 manifests: v2, v3, v4)
    val pinned = VersionedTable.readPartitionedManifest(root).get
    put(0L, 10L); put(1L, 11L)
    val snap = VersionedTable
      .readPartitionedSnapshot(spark, root, pinned)
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(snap === Map(0L -> 0L, 1L -> 1L),
      "the 2-commits-old pinned snapshot must still read under keep=3")
    // partitioned time travel: every retained version exact
    assert(VersionedTable.readVersion(spark, root, 2L)
      .select("id", "v").as[(Long, Long)].collect().toMap ===
      Map(0L -> 0L, 1L -> 1L))
    assert(VersionedTable.readVersion(spark, root, 4L)
      .select("id", "v").as[(Long, Long)].collect().toMap ===
      Map(0L -> 10L, 1L -> 11L))
    // time travel reassembles the whole snapshot, not only the
    // partitions the version's own dir holds
    assert(VersionedTable.readVersion(spark, root, 3L)
      .select("id", "v").as[(Long, Long)].collect().toMap ===
      Map(0L -> 10L, 1L -> 1L))
    // push v1's dirs past retention: reading it names the pruned dirs
    // and the keepVersions remedy
    put(0L, 20L); put(1L, 21L); put(0L, 22L)
    val eOld = intercept[IllegalStateException] {
      VersionedTable.readVersion(spark, root, 1L)
    }
    assert(eOld.getMessage.contains("keepVersions"))
  }

  test("interleaved partitioned upserts converge with all partitions") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      Seq(("seed", 0L, 0L)).toDF("dt", "id", "v"), Seq("dt", "id"),
      Seq("dt"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to 2).map { w =>
      new Thread(() => {
        try (1 to 3).foreach { i =>
          VersionedTable.upsert(spark, root,
            Seq((s"d$w", w * 10L + i, w.toLong)).toDF("dt", "id", "v"),
            Seq("dt", "id"), Seq("dt"))
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer threw: ${errors.toArray.headOption}")
    val got = VersionedTable.readLive(spark, root)
      .select("id").as[Long].collect().toSet
    assert(got === (Set(0L) ++
      (1 to 2).flatMap(w => (1 to 3).map(i => w * 10L + i)).toSet))
    assert(VersionedTable.readPartitionedManifest(root).get.version === 7L)
  }
}
