package graft

import java.nio.file.{Files, Paths}
import graft.functions.Bloom
import graft.sinks.{TableFs, VersionedTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import graft.PruneFilters.{between, files, twoLevel}

/** Round-11 table-format surface: per-file bloom skipping, Iceberg-
  * style position deletes with rewrite folding + commit-lock
  * validation, and two-dimensional z-order clustering.
  */
class PosDeleteBloomZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("pdbz").resolve("t").toString

  test("bloom core: no false negatives ever, sane fpp on absents") {
    val words = new Array[Long](1 << 10) // 65536 bits
    val present = (0L until 1000L).map(Bloom.hashLong)
    present.foreach(Bloom.set(words, _))
    val sketch = new Array[Long](Bloom.HeaderLen + words.length)
    sketch(0) = words.length * 64L; sketch(1) = Bloom.K.toLong
    System.arraycopy(words, 0, sketch, Bloom.HeaderLen, words.length)
    assert(present.forall(Bloom.mightContain(sketch, _)),
      "a bloom miss on an inserted value breaks skipping soundness")
    val fp = (1000000L until 1001000L)
      .count(v => Bloom.mightContain(sketch, Bloom.hashLong(v)))
    assert(fp < 50, s"fpp ${fp / 1000.0} far above the ~1% design point")
  }

  test("bloom sidecar prunes equality probes where min/max cannot, " +
    "stays sound (present value's file always scans), and a missing " +
    "sidecar scans everything") {
    val root = tmpRoot()
    // hash-scattered layout: every file spans ~the whole id domain, so
    // footer min/max stats admit every file for any equality probe
    val ids = (0L until 4000L).toDF("id")
      .withColumn("payload", concat(lit("p"), col("id")))
    VersionedTable.commit(root) { dir =>
      ids.repartition(8, col("id")).write.parquet(dir)
    }
    val (mmScan, mmTotal) =
      files(VersionedTable.pruneDecision(root, between("id", 1234L, 1234L)))
    assert(mmTotal === 8 && mmScan === 8,
      s"scattered layout must defeat min/max stats, got $mmScan/$mmTotal")
    VersionedTable.addBloomSidecar(spark, root, Seq("id"), bits = 1 << 14)
    // present value: bloom may keep false-positive files but MUST keep
    // the true holder — the row comes back exactly
    val probe = Seq(EqualTo("id", 1234L))
    val (bScan, bTotal) = files(VersionedTable.pruneDecision(root, probe))
    assert(bTotal === 8 && bScan >= 1 && bScan < 8,
      s"bloom should prune most of 8 files, scanned $bScan")
    val got = VersionedTable.readLivePruned(spark, root, probe)
      .select("id", "payload").as[(Long, String)].collect().toSeq
    assert(got === Seq((1234L, "p1234")))
    // absent value: typically zero files survive (fpp ~ per-file)
    val absent = Seq(EqualTo("id", 99999999L))
    val (aScan, _) = files(VersionedTable.pruneDecision(root, absent))
    assert(aScan <= 2, s"absent probe scanned $aScan of 8 files")
    assert(VersionedTable.readLivePruned(spark, root, absent)
      .count() === 0L)
    // string column flavor via the string hash twin
    VersionedTable.addBloomSidecar(spark, root, Seq("payload"), bits = 1 << 14)
    val sProbe = Seq(EqualTo("payload", "p777"))
    val (sScan, _) = files(VersionedTable.pruneDecision(root, sProbe))
    assert(sScan >= 1 && sScan < 8)
    assert(VersionedTable.readLivePruned(spark, root, sProbe)
      .count() === 1L)
    // no sidecar → full scan, identical result
    val m = VersionedTable.readManifest(root).get
    Files.delete(Paths.get(root).resolve(m.segments.last).resolve("_bloom.json"))
    val (legacy, _) = files(VersionedTable.pruneDecision(root, probe))
    assert(legacy === 8)
  }

  test("position deletes: MoR read masks exact rows, vacuum rewrites " +
    "only delete-carrying files and leaves the rest byte-identical") {
    val root = tmpRoot()
    // 4 files clustered by id range so deletes land in exactly 1 file
    val df = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
    VersionedTable.commit(root) { dir =>
      df.repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.parquet(dir)
    }
    val dv = VersionedTable.softDeletePos(spark, root,
      col("id") >= 10L && col("id") < 20L)
    assert(dv >= 1L)
    // base read unchanged; MoR read masks the 10 rows
    assert(VersionedTable.readLive(spark, root).count() === 400L)
    val mor = VersionedTable.readLiveWithPosDeletes(spark, root)
    assert(mor.count() === 390L)
    assert(mor.filter(col("id") >= 10L && col("id") < 20L).count() === 0L)
    val (liveN, staleN) = VersionedTable.posDeleteEntryCounts(spark, root)
    assert(liveN === 10L && staleN === 0L)
    // deleting the same rows again is a keyed no-op
    VersionedTable.softDeletePos(spark, root,
      col("id") >= 10L && col("id") < 15L)
    assert(VersionedTable.posDeleteEntryCounts(spark, root)._1 === 10L)
    // vacuum: only the one delete-carrying file rewrites
    val mBefore = VersionedTable.readManifest(root).get
    val dirBefore = Paths.get(root).resolve(mBefore.segments.last)
    val bytesBefore = Files.list(dirBefore).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .map(p => Paths.get(p).getFileName.toString ->
        Files.readAllBytes(Paths.get(p)).toSeq).toMap
    val (v2, rewritten) = VersionedTable.vacuumPosDeletes(spark, root)
    assert(rewritten === 1, s"expected 1 of 4 files rewritten, got $rewritten")
    val mAfter = VersionedTable.readManifest(root).get
    assert(mAfter.version === v2)
    val dirAfter = Paths.get(root).resolve(mAfter.segments.last)
    val after = Files.list(dirAfter).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .map(p => Paths.get(p).getFileName.toString ->
        Files.readAllBytes(Paths.get(p)).toSeq).toMap
    val carried = bytesBefore.keySet.intersect(after.keySet)
    assert(carried.size === 3, "3 untouched files must carry over by name")
    carried.foreach(n => assert(after(n) === bytesBefore(n),
      s"untouched file $n changed bytes"))
    assert(VersionedTable.readLive(spark, root).count() === 390L)
    assert(VersionedTable.readLiveWithPosDeletes(spark, root).count() === 390L)
    assert(VersionedTable.posDeleteEntryCounts(spark, root) === ((0L, 0L)))
  }

  test("rewrites fold position deletes: compact and upsert never " +
    "resurrect masked rows; a delete racing the rewrite is re-folded " +
    "via commit-lock validation") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    VersionedTable.softDeletePos(spark, root, col("id") < 10L)
    // compact folds the masks: the new BASE already excludes them
    VersionedTable.compact(spark, root, 2)
    assert(VersionedTable.readLive(spark, root).count() === 90L)
    assert(VersionedTable.posDeleteEntryCounts(spark, root)._1 === 0L)
    // a rewriting upsert (it replaces key 99) folds too
    VersionedTable.softDeletePos(spark, root, col("id") === 50L)
    VersionedTable.upsert(spark, root,
      Seq((200L, "new"), (99L, "v99")).toDF("id", "v"), Seq("id"))
    val ids = VersionedTable.readLive(spark, root)
      .select("id").as[Long].collect().toSet
    assert(!ids.contains(50L) && ids.contains(200L) && ids.size === 90)
    // race: a delete lands AFTER the rewrite pinned the delete-set
    // version — validation must force a re-fold, never lose the mask
    var fired = false
    TableFs.withSeam(root, TableFs.BeforeLock) { _ =>
      if (!fired) {
        fired = true
        VersionedTable.softDeletePos(spark, root, col("id") === 60L)
      }
    }(VersionedTable.compact(spark, root, 2))
    assert(fired)
    val ids2 = VersionedTable.readLive(spark, root)
      .select("id").as[Long].collect().toSet
    assert(!ids2.contains(60L),
      "mid-rewrite delete was lost — validation failed to force re-fold")
    assert(ids2.size === 89)
  }

  test("regression: repeated softDeletePos never corrupts the delete " +
    "set (delete [10,20) then re-delete subset [10,15) keeps MoR at 390)") {
    val root = tmpRoot()
    VersionedTable.commit(root) { dir =>
      (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
        .write.parquet(dir)
    }
    VersionedTable.softDeletePos(spark, root,
      col("id") >= 10L && col("id") < 20L)
    assert(VersionedTable.readLiveWithPosDeletes(spark, root)
      .count() === 390L)
    VersionedTable.softDeletePos(spark, root,
      col("id") >= 10L && col("id") < 15L)
    // the r11 bug: the second delete's upsert read the delete table
    // through the MoR fold, whose address columns shared the table's
    // key names — prior entries were null-padded and rows 15-19 came
    // back (MoR read 395)
    assert(VersionedTable.readLiveWithPosDeletes(spark, root)
      .count() === 390L)
    assert(VersionedTable.posDeleteEntryCounts(spark, root) === ((10L, 0L)))
    // a THIRD delete with fresh positions composes with the survivors
    VersionedTable.softDeletePos(spark, root, col("id") === 399L)
    assert(VersionedTable.readLiveWithPosDeletes(spark, root)
      .count() === 389L)
    assert(VersionedTable.posDeleteEntryCounts(spark, root) === ((11L, 0L)))
  }

  test("reserved-column contract: upsert rejects internal names loudly; " +
    "user tables named like the delete table's keys still work") {
    val root = tmpRoot()
    // internal names are rejected at the write surface, not silently
    // overwritten/dropped mid-operation
    val bad1 = Seq((1L, 2L)).toDF("id", "_graft_seq")
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, root, bad1, Seq("id"))
    }
    assert(e1.getMessage.contains("_graft_seq"))
    val bad2 = Seq((1L, "x")).toDF("id", "__graft_addr_path")
    intercept[IllegalArgumentException] {
      VersionedTable.upsert(spark, root, bad2, Seq("id"))
    }
    // _pd_path/_pd_pos are NOT reserved for user data: the MoR address
    // columns are namespaced apart, so a table using those names
    // upserts and position-deletes cleanly
    val userRoot = tmpRoot()
    VersionedTable.upsert(spark, userRoot,
      (0L until 50L).map(i => (i, s"f$i", i * 10L))
        .toDF("id", "_pd_path", "_pd_pos"), Seq("id"))
    VersionedTable.softDeletePos(spark, userRoot, col("id") < 5L)
    val mor = VersionedTable.readLiveWithPosDeletes(spark, userRoot)
    assert(mor.count() === 45L)
    assert(mor.columns.toSet === Set("id", "_pd_path", "_pd_pos"))
    VersionedTable.softDeletePos(spark, userRoot, col("id") < 3L) // no-op
    assert(VersionedTable.readLiveWithPosDeletes(spark, userRoot)
      .count() === 45L)
  }

  test("corrupt sidecar lines degrade to scan-everything, never to " +
    "wrong bounds") {
    val root = tmpRoot()
    VersionedTable.commit(root) { dir =>
      (0L until 100L).toDF("id").repartitionByRange(4, col("id"))
        .write.parquet(dir)
    }
    val m = VersionedTable.readManifest(root).get
    val statsP = Paths.get(root).resolve(m.segments.last).resolve("_stats.json")
    val lines = new String(Files.readAllBytes(statsP), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    assert(lines.length === 4)
    val (sc0, _) =
      files(VersionedTable.pruneDecision(root, between("id", 0L, 10L)))
    assert(sc0 < 4, "clustered layout should prune before corruption")
    // corrupt ONE line: inject a malformed \-u escape into its path
    // value — that file must drop to no-stats (always scans), the
    // others keep pruning
    val marker = "\"path\": \""
    val j = lines(0).indexOf(marker) + marker.length
    val corrupted = lines.updated(0,
      lines(0).substring(0, j) + "\\u12Z" + lines(0).substring(j))
    Files.write(statsP, corrupted.mkString("\n").getBytes("UTF-8"))
    val stats = VersionedTable.readStatsSidecar(
      Paths.get(root).resolve(m.segments.last))
    assert(stats.size === 3, "the corrupt line must drop out")
    val (sc1, t1) =
      files(VersionedTable.pruneDecision(root, between("id", 90L, 99L)))
    assert(t1 === 4 && sc1 >= 1 && sc1 <= 2,
      "stat-less corrupt file always scans; clean files still prune")
    assert(VersionedTable
      .readLivePruned(spark, root, between("id", 90L, 99L))
      .count() === 10L)
  }

  test("two-level partitioned pruning: partition keys prune with zero " +
    "IO, file stats prune within, pruned read equals the plain filter") {
    val root = tmpRoot()
    val rows = (0L until 2000L).map(i => (i, s"p${i % 5}", i * 3L))
      .toDF("id", "grp", "v")
    VersionedTable.upsert(spark, root,
      rows.repartitionByRange(8, col("id")), Seq("id"), Seq("grp"))
    def grpProbe(g: String) = EqualTo("grp", g) +: between("id", 100L, 200L)
    val (pScan, pTotal, fScan, fTotal) =
      twoLevel(VersionedTable.pruneDecision(root, grpProbe("p2")))
    assert(pScan === 1 && pTotal === 5)
    assert(fScan >= 1 && fScan < fTotal,
      s"range-clustered files should prune, got $fScan/$fTotal")
    val got = VersionedTable.readLivePruned(spark, root, grpProbe("p2"))
      .select("id").as[Long].collect().toSet
    val want = (100L to 200L).filter(_ % 5 == 2).toSet
    assert(got === want, "pruned read must equal the plain filter")
    // a second upsert moves ONE partition to a new version dir — the
    // survivors must come from each partition's OWN pinned dir
    VersionedTable.upsert(spark, root,
      Seq((102L, "p2", 9999L)).toDF("id", "grp", "v"),
      Seq("id"), Seq("grp"))
    val got2 = VersionedTable.readLivePruned(spark, root, grpProbe("p2"))
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(got2.keySet === want && got2(102L) === 9999L)
    // absent partition → zero rows, schema intact
    val none = VersionedTable.readLivePruned(spark, root,
      EqualTo("grp", "nope") +: between("id", 0L, 10L))
    assert(none.count() === 0L &&
      none.columns.toSet === Set("id", "grp", "v"))
  }

  test("partition-level column bounds: interval on a layout-correlated " +
    "data column skips whole partitions; stale stats degrade to " +
    "scan-all, never wrong pruning") {
    val root = tmpRoot()
    // 10 partitions with disjoint id ranges (the time-partitioned
    // monotone-ingest shape)
    val rows = (0L until 1000L).map(i => (i, s"g${i / 100}", i * 2L))
      .toDF("id", "grp", "v")
    VersionedTable.upsert(spark, root, rows,
      Seq("id"), Seq("grp"))
    val (pScan, pTotal, fScan, fTotal) = twoLevel(
      VersionedTable.pruneDecision(root, between("id", 250L, 399L)))
    assert(pTotal === 10 && pScan === 2,
      s"ids 250-399 live in exactly g2,g3 — got $pScan/$pTotal")
    assert(fScan <= fTotal)
    val got = VersionedTable
      .readLivePruned(spark, root, between("id", 250L, 399L))
      .select("id").as[Long].collect().toSet
    assert(got === (250L to 399L).toSet)
    // incremental upsert into ONE partition refreshes the bounds file
    // for the new manifest version — pruning still works after
    VersionedTable.upsert(spark, root,
      Seq((260L, "g2", 9999L)).toDF("id", "grp", "v"),
      Seq("id"), Seq("grp"))
    val (pScan2, _, _, _) = twoLevel(
      VersionedTable.pruneDecision(root, between("id", 250L, 399L)))
    assert(pScan2 === 2, "bounds must survive an incremental commit")
    // a version-stale bounds file is REJECTED: pruning degrades to
    // scan-all-partitions, never to pruning on stale bounds
    val sp = Paths.get(root).resolve("_part_stats.json")
    val stale = new String(Files.readAllBytes(sp), "UTF-8")
      .replaceFirst("\\{\"version\": \\d+\\}", "{\"version\": 1}")
    Files.write(sp, stale.getBytes("UTF-8"))
    val (pScan3, pTotal3, _, _) = twoLevel(
      VersionedTable.pruneDecision(root, between("id", 250L, 399L)))
    assert(pScan3 === pTotal3, "stale bounds must scan everything")
    assert(VersionedTable.readLivePruned(
      spark, root, between("id", 250L, 399L)).count() === 150L)
  }

  test("compactPartitions rewrites only fragmented partitions to one " +
    "file each; healthy partitions keep their pinned dirs; content " +
    "identical; interval pruning still works after") {
    val root = tmpRoot()
    // 5 partitions with disjoint id ranges, fragmented 4 ways
    val rows = (0L until 1000L).map(i => (i, s"g${i / 200}", i * 2L))
      .toDF("id", "grp", "v")
    VersionedTable.upsert(spark, root,
      rows.repartition(4, col("id")), Seq("id"), Seq("grp"))
    // make ONE partition healthy: single-row rewrite of g4 only
    VersionedTable.upsert(spark, root,
      rows.filter(col("grp") === "g4").coalesce(1),
      Seq("id"), Seq("grp"))
    val mBefore = VersionedTable.readPartitionedManifest(root).get
    val (v, rewritten) = VersionedTable.compactPartitions(spark, root)
    assert(rewritten === 4, s"only the 4 fragmented partitions rewrite")
    val mAfter = VersionedTable.readPartitionedManifest(root).get
    assert(mAfter.version === v)
    assert(mAfter.partitions("grp=g4") === mBefore.partitions("grp=g4"),
      "the healthy partition must keep its pinned dir")
    mAfter.partitions.filter(_._1 != "grp=g4").values.foreach(d =>
      assert(d === f"v$v%08d", "fragmented partitions flip to the new dir"))
    // one file per rewritten partition
    mAfter.partitions.filter(_._1 != "grp=g4").foreach { case (k, dn) =>
      val files = Files.walk(Paths.get(root).resolve(dn).resolve(k))
      try assert(files.filter(_.getFileName.toString.endsWith(".parquet"))
        .count() === 1L)
      finally files.close()
    }
    val got = VersionedTable.readLive(spark, root)
      .select("id", "v").as[(Long, Long)].collect().toSet
    assert(got === (0L until 1000L).map(i => (i, i * 2L)).toSet)
    // part-stats refreshed by the replace commit: interval pruning
    // still selects exactly the covering partitions
    val (pScan, pTotal, _, _) = twoLevel(
      VersionedTable.pruneDecision(root, between("id", 250L, 399L)))
    assert(pTotal === 5 && pScan === 1,
      s"ids 250-399 live in exactly g1 post-compaction, got $pScan")
    // nothing fragmented now → no-op, no new version
    assert(VersionedTable.compactPartitions(spark, root) === ((v, 0)))
  }

  test("partitioned bloom sidecars: point lookup on an unclustered " +
    "non-partition key prunes across version dirs, pruned read exact") {
    val root = tmpRoot()
    val rows = (0L until 2000L)
      .map(i => (i, (i * 2654435761L) % 100000L, s"g${i % 4}"))
      .toDF("id", "k", "grp")
    VersionedTable.upsert(spark, root,
      rows.repartition(4, col("id")), Seq("id"), Seq("grp"))
    // move ONE partition to a second version dir, then build blooms:
    // the builder must cover live files in BOTH dirs
    VersionedTable.upsert(spark, root,
      Seq((9999L, (9999L * 2654435761L) % 100000L, "g3"))
        .toDF("id", "k", "grp"), Seq("id"), Seq("grp"))
    VersionedTable.addBloomSidecar(spark, root, Seq("k"),
      bits = 1 << 15)
    val probe = (777L * 2654435761L) % 100000L
    val (pScan, pTot) =
      files(VersionedTable.pruneDecision(root, Seq(EqualTo("k", probe))))
    assert(pTot >= 16 && pScan >= 1 && pScan < pTot,
      s"bloom should prune most of $pTot files, scanned $pScan")
    val want = (0L until 2000L)
      .filter(i => (i * 2654435761L) % 100000L == probe).toSet
    assert(want.nonEmpty)
    val got = VersionedTable
      .readLivePruned(spark, root, Seq(EqualTo("k", probe)))
      .select("id").as[Long].collect().toSet
    assert(got === want)
    // probe a value that lives ONLY in the second version dir
    val probe2 = (9999L * 2654435761L) % 100000L
    val got2 = VersionedTable
      .readLivePruned(spark, root, Seq(EqualTo("k", probe2)))
      .select("id").as[Long].collect().toSet
    assert(got2.contains(9999L),
      "a row in the newer version dir must be findable through blooms")
    // absent value: near-zero scan, zero rows
    val (aScan, _) =
      files(VersionedTable.pruneDecision(root, Seq(EqualTo("k", -5L))))
    assert(aScan <= 3)
    assert(VersionedTable.readLivePruned(
      spark, root, Seq(EqualTo("k", -5L))).count() === 0L)
    // string twin over a derived string key
    val sroot = tmpRoot()
    VersionedTable.upsert(spark, sroot,
      (0L until 1000L).map(i => (i, s"u${(i * 37L) % 500L}", s"g${i % 4}"))
        .toDF("id", "name", "grp").repartition(4, col("id")),
      Seq("id"), Seq("grp"))
    VersionedTable.addBloomSidecar(spark, sroot, Seq("name"),
      bits = 1 << 15)
    val (sScan, sTot) = files(
      VersionedTable.pruneDecision(sroot, Seq(EqualTo("name", "u74"))))
    assert(sScan >= 1 && sScan < sTot)
    val wantS = (0L until 1000L)
      .filter(i => s"u${(i * 37L) % 500L}" == "u74").toSet
    assert(wantS.nonEmpty)
    assert(VersionedTable
      .readLivePruned(spark, sroot, Seq(EqualTo("name", "u74")))
      .select("id").as[Long].collect().toSet === wantS)
  }

  test("check constraints: violating writes rejected whole with " +
    "per-constraint counts, NULL predicate counts as violation, " +
    "dropConstraint re-allows, partitioned writes enforced too") {
    val root = tmpRoot()
    VersionedTable.addConstraint(root, "pos_v", "v > 0")
    VersionedTable.upsert(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), Seq("id"))
    val e = intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.upsert(spark, root,
        Seq((3L, 30L), (4L, -1L), (5L, 0L)).toDF("id", "v"), Seq("id"))
    }
    assert(e.violations === Map("pos_v" -> 2L))
    assert(VersionedTable.readLive(spark, root).count() === 2L,
      "a rejected write must not move the table")
    // NULL predicate = violation (unknown is not conformance)
    val e2 = intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.upsert(spark, root,
        Seq((6L, Option.empty[java.lang.Long])).toDF("id", "v")
          .selectExpr("id", "CAST(v AS BIGINT) AS v"), Seq("id"))
    }
    assert(e2.violations("pos_v") === 1L)
    VersionedTable.dropConstraint(root, "pos_v")
    VersionedTable.upsert(spark, root,
      Seq((4L, -1L)).toDF("id", "v"), Seq("id"))
    assert(VersionedTable.readLive(spark, root).count() === 3L)
    // partitioned form enforced through the partitioned upsert and
    // overwritePartitions
    val proot = tmpRoot()
    VersionedTable.addConstraint(proot, "named", "name IS NOT NULL")
    VersionedTable.upsert(spark, proot,
      Seq((1L, "a", "g0")).toDF("id", "name", "grp"),
      Seq("id"), Seq("grp"))
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.upsert(spark, proot,
        Seq((2L, null.asInstanceOf[String], "g0"))
          .toDF("id", "name", "grp"), Seq("id"), Seq("grp"))
    }
    intercept[VersionedTable.ConstraintViolationException] {
      VersionedTable.overwritePartitions(spark, proot,
        Seq((3L, null.asInstanceOf[String], "g1"))
          .toDF("id", "name", "grp"), Seq("grp"))
    }
    assert(VersionedTable.readLive(spark, proot)
      .count() === 1L)
  }

  test("streamUpsertWriter: packaged foreachBatch sink lands batches " +
    "exactly-once-effect on both table forms") {
    val root = tmpRoot()
    val w = VersionedTable.streamUpsertWriter(spark, root, Seq("id"))
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    w(b0, 0L); w(b0, 0L) // redelivery collapses on the key
    w(Seq((3L, "c")).toDF("id", "v"), 1L)
    assert(VersionedTable.readLive(spark, root)
      .select("id", "v").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    val proot = tmpRoot()
    val pw = VersionedTable.streamUpsertWriter(spark, proot, Seq("id"),
      Seq("grp"))
    val pb = Seq((1L, "g0", 10L), (2L, "g1", 20L)).toDF("id", "grp", "v")
    pw(pb, 0L); pw(pb, 0L)
    assert(VersionedTable.readLive(spark, proot)
      .count() === 2L)
  }

  test("named refs pin retention: a tagged snapshot survives commits " +
    "past keepVersions; dropRef releases it; partitioned refs pin " +
    "every dir their manifest references") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (0L until 50L).map(i => (i, i)).toDF("id", "v"), Seq("id"))
    VersionedTable.setRef(root, "baseline", 1L)
    intercept[IllegalStateException] {
      VersionedTable.setRef(root, "bogus", 99L) // never committed
    }
    // 3 commits at keepVersions=2: v1 would be pruned without the pin
    (1 to 3).foreach { i =>
      VersionedTable.upsert(spark, root,
        Seq((i.toLong, i * 100L)).toDF("id", "v"), Seq("id"))
    }
    val base = VersionedTable.readRef(spark, root, "baseline")
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(base === (0L until 50L).map(i => (i, i)).toMap)
    assert(VersionedTable.versions(root).contains(1L))
    // dropRef: the next commit's retention reclaims v1
    VersionedTable.dropRef(root, "baseline")
    VersionedTable.upsert(spark, root,
      Seq((99L, 9L)).toDF("id", "v"), Seq("id"))
    assert(!VersionedTable.versions(root).contains(1L),
      "un-pinned old version must be reclaimed")
    intercept[IllegalStateException] {
      VersionedTable.readRef(spark, root, "baseline")
    }
    // partitioned: the ref pins every dir its manifest references
    val proot = tmpRoot()
    VersionedTable.upsert(spark, proot,
      (0L until 90L).map(i => (i, s"g${i % 3}", i)).toDF("id", "grp", "v"),
      Seq("id"), Seq("grp"))
    VersionedTable.setRef(proot, "snap", 1L)
    (1 to 4).foreach { i =>
      VersionedTable.upsert(spark, proot,
        Seq((i.toLong, s"g${i % 3}", i * 100L)).toDF("id", "grp", "v"),
        Seq("id"), Seq("grp"))
    }
    val snap = VersionedTable.readRef(spark, proot, "snap")
      .select("id", "v").as[(Long, Long)].collect().toMap
    assert(snap === (0L until 90L).map(i => (i, i)).toMap)
  }

  test("setRef refuses to tag a retention-pruned version: a tag must " +
    "pin a READABLE snapshot, never reclaimed storage") {
    val root = tmpRoot()
    // each batch re-upserts key 1, so every commit after the first
    // rewrites the whole snapshot
    (1 to 3).foreach { i =>
      VersionedTable.upsert(spark, root,
        Seq((1L, 1L), (i.toLong, i.toLong)).distinct.toDF("id", "v"),
        Seq("id"))
    } // keepVersions=2 → v1's data dir is pruned, history entry stays
    assert(!VersionedTable.versions(root).contains(1L))
    val e = intercept[IllegalStateException] {
      VersionedTable.setRef(root, "dead", 1L)
    }
    assert(e.getMessage.contains("pruned"))
    VersionedTable.setRef(root, "ok", 3L) // live version tags fine
    assert(VersionedTable.readRef(spark, root, "ok").count() === 3L)
  }

  test("compaction preserves lossy partition values exactly: a string " +
    "partition '07' must never be reinterpreted as int 7 and renamed") {
    val root = tmpRoot()
    val rows = (0L until 200L).map(i => (i, f"${i % 4}%02d", i))
      .toDF("id", "grp", "v") // grp in {00, 01, 02, 03} — all lossy
    VersionedTable.upsert(spark, root,
      rows.repartition(4, col("id")), Seq("id"), Seq("grp"))
    val keysBefore = VersionedTable.readPartitionedManifest(root)
      .get.partitions.keySet
    assert(keysBefore === Set("grp=00", "grp=01", "grp=02", "grp=03"))
    val (_, n) = VersionedTable.compactPartitions(spark, root)
    assert(n === 4)
    val keysAfter = VersionedTable.readPartitionedManifest(root)
      .get.partitions.keySet
    assert(keysAfter === keysBefore,
      s"compaction renamed partition keys: $keysAfter")
    // values in the data are the original zero-padded strings, typed
    // string per the recorded schema
    val got = VersionedTable.readLive(spark, root)
    assert(got.schema("grp").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(got.filter(col("grp") === "07").count() === 0L)
    assert(got.filter(col("grp") === "02").count() === 50L)
    assert(got.count() === 200L)
    // the sorted rewrite preserves keys too
    VersionedTable.compactPartitionsSorted(spark, root, Seq("v"), 2)
    assert(VersionedTable.readPartitionedManifest(root)
      .get.partitions.keySet === keysBefore)
    assert(VersionedTable.readLive(spark, root)
      .filter(col("grp") === "03").count() === 50L)
  }

  test("removeOrphans reaps only crash artifacts: committed dirs and " +
    "young staging survive, live content byte-identical") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (0L until 100L).map(i => (i, i * 2L)).toDF("id", "v"), Seq("id"))
    VersionedTable.upsert(spark, root,
      Seq((100L, 200L)).toDF("id", "v"), Seq("id")) // 2 committed dirs
    val rootP = Paths.get(root)
    def plant(p: java.nio.file.Path): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, "junk".getBytes)
      ()
    }
    plant(rootP.resolve("_staging-dead").resolve("f.parquet"))
    plant(rootP.resolve("_manifest.json.tmp7"))
    plant(rootP.resolve("v00000042").resolve("f.parquet"))
    val live = rootP.resolve(VersionedTable.readManifest(root).get.segments.last)
    plant(live.resolve("_rw").resolve("f.parquet"))
    // a LONG grace period protects everything just planted
    assert(VersionedTable.removeOrphans(root, 3600000L) === ((0, 0, 0, 0)))
    assert(Files.isDirectory(rootP.resolve("_staging-dead")))
    // zero grace reaps exactly the four artifact classes
    assert(VersionedTable.removeOrphans(root, 0L) === ((1, 1, 1, 1)))
    assert(!Files.exists(rootP.resolve("_staging-dead")))
    assert(!Files.exists(rootP.resolve("v00000042")))
    assert(!Files.exists(live.resolve("_rw")))
    // both COMMITTED version dirs survive (history entries exist)
    assert(VersionedTable.versions(root).size === 2)
    assert(VersionedTable.readLive(spark, root).count() === 101L)
    // idempotent
    assert(VersionedTable.removeOrphans(root, 0L) === ((0, 0, 0, 0)))
  }

  test("removeOrphans reaps publish temps the legacy rule missed: " +
    "renames and catalog-meta temps in the root, history-entry temps " +
    "in _versions/") {
    val root = tmpRoot()
    VersionedTable.upsert(spark, root,
      (0L until 10L).map(i => (i, i * 2L)).toDF("id", "v"), Seq("id"))
    val rootP = Paths.get(root)
    val planted = Seq(rootP.resolve("_column_renames.json.tmp"),
      rootP.resolve("_graft_catalog.json.tmp"),
      rootP.resolve("_versions").resolve(".v00000002.json.tmp"),
      rootP.resolve(s"._refs.json.${java.util.UUID.randomUUID}.tmp"))
    planted.foreach(p => Files.write(p, "junk".getBytes))
    assert(VersionedTable.removeOrphans(root, 3600000L) === ((0, 0, 0, 0)))
    assert(VersionedTable.removeOrphans(root, 0L) === ((0, 4, 0, 0)))
    planted.foreach(p => assert(!Files.exists(p), s"$p survived"))
    assert(VersionedTable.versions(root).size === 1)
    assert(VersionedTable.readLive(spark, root).count() === 10L)
  }

  test("compactZOrder clusters BOTH dimensions: narrow intervals on " +
    "either column prune files after, content preserved exactly") {
    val root = tmpRoot()
    // two independent uniform dims, scattered so nothing prunes before
    val rows = (0L until 4096L).map { i =>
      (i, (i * 2654435761L) % 1024L, (i * 40503L + 7L) % 1024L)
    }
    VersionedTable.commit(root) { dir =>
      rows.toDF("id", "x", "y").repartition(16)
        .write.parquet(dir)
    }
    val (xb, _) =
      files(VersionedTable.pruneDecision(root, between("x", 100L, 160L)))
    val (yb, _) =
      files(VersionedTable.pruneDecision(root, between("y", 100L, 160L)))
    assert(xb === 16 && yb === 16, "scattered layout must not prune")
    VersionedTable.compactZOrder(spark, root, "x", "y", 16)
    val (xa, xt) =
      files(VersionedTable.pruneDecision(root, between("x", 100L, 160L)))
    val (ya, yt) =
      files(VersionedTable.pruneDecision(root, between("y", 100L, 160L)))
    assert(xa < 16 && ya < 16,
      s"z-order should prune both dims, got x=$xa/$xt y=$ya/$yt")
    val got = VersionedTable
      .readLivePruned(spark, root, between("x", 100L, 160L))
      .select("id").as[Long].collect().toSet
    val want = rows.filter(r => r._2 >= 100L && r._2 <= 160L).map(_._1).toSet
    assert(got === want, "pruned read must equal the plain filter")
    assert(VersionedTable.readLive(spark, root).count() === 4096L)
    // conjunctive rectangle: survivor set is the INTERSECTION of the
    // per-column sets, content equals the plain conjunctive filter
    val rectangle = between("x", 100L, 160L) ++ between("y", 100L, 160L)
    val (rect, rt) = files(VersionedTable.pruneDecision(root, rectangle))
    assert(rt === 16 && rect <= math.min(xa, ya) && rect < 16,
      s"rectangle must scan a subset of both slabs, got $rect vs $xa/$ya")
    val gotRect = VersionedTable.readLivePruned(spark, root, rectangle)
      .select("id").as[Long].collect().toSet
    val wantRect = rows.filter(r => r._2 >= 100L && r._2 <= 160L &&
      r._3 >= 100L && r._3 <= 160L).map(_._1).toSet
    assert(gotRect === wantRect)
  }
}
