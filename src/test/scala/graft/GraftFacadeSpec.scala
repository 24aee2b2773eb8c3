package graft

import org.apache.spark.sql.functions._

class GraftFacadeSpec extends SparkSpec {
  import spark.implicits._

  test("dedupFuzzy: transitive near-dup cluster collapses to canonical doc") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (9L, "completely different content about distributed query engines")
    ).toDF("doc_id", "text")
    val kept = Graft.dedupFuzzy(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 9L))
  }

  test("facade weather slice: flatten -> quality -> upsert") {
    val raw = Fixtures.standardBatch(spark)
    val staged = Graft.flattenWeather(raw, "b1")
    val report = Graft.qualityCheck(staged, "b1")
    assert(report.passed)
    val dir = tmpDir("facade") + "/wh"
    Graft.upsert(spark, dir, staged, Seq("city", "ts_utc"))
    Graft.upsert(spark, dir, staged, Seq("city", "ts_utc")) // idempotent
    assert(spark.read.parquet(dir).count() === 9)
  }

  test("corpus-construction wrappers: mix, split, profile wired") {
    val docs = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "web" else "curated", s"doc number $i text"))
      .toDF("doc_id", "source", "text")
    val mixed = Graft.mixSources(docs, "doc_id", "source",
      rates = Map("web" -> 0.0))
    assert(mixed.filter($"source" === "web").count() === 0)
    assert(mixed.filter($"source" === "curated").count() === 50)

    val split = Graft.splitCorpus(docs, "doc_id")
    assert(split.select("split").distinct().count() >= 2)
    assert(split.count() === 100)

    val prof = Graft.profile(docs, Seq("doc_id", "source"))
      .collect().map(r => r.getAs[String]("column") ->
        r.getAs[Long]("n_distinct")).toMap
    assert(prof("doc_id") === 100L)
    assert(prof("source") === 2L)
  }

  test("withLanguage/withTextQuality attach columns") {
    val docs = Seq((1L, "the cat and the dog of the house is in that garden"))
      .toDF("doc_id", "text")
    val out = Graft.withLanguage(
      Graft.withTextQuality(docs, "text"), "text", "doc_id").head()
    assert(out.getAs[String]("detected_lang") === "en")
    assert(out.getAs[Double]("quality_score") === 1.0)
  }

  test("applyChanges/editWithin wired") {
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val feed = Seq((1L, 1L, 1L, "U", 11.0), (2L, 1L, 2L, "D", 0.0),
      (3L, 1L, 3L, "I", 30.0)).toDF("k", "seq", "tie", "op", "v")
    val out = Graft.applyChanges(base, feed, "k", "seq", "tie", "op",
      Seq("v")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(1L -> 11.0, 3L -> 30.0))

    implicit val s = spark
    val d = Seq(("kitten", "sitting"), ("abc", "abc"), ("abcd", "wxyz"))
      .toDF("a", "b")
      .select(Graft.editWithin($"a", $"b", 3).as("d"))
      .collect().map(_.getInt(0)).toSeq
    assert(d === Seq(3, 0, -1)) // lev(abcd,wxyz)=4 > 3
  }

  test("qualityScores/selectDiverse wired") {
    val docs = Seq((1L, "alpha beta gamma", "s0"), (2L, "", "s1"))
      .toDF("doc_id", "text", "source")
    val qs = Graft.qualityScores(docs, "text", "doc_id",
        keep = Seq("source")).orderBy("doc_id").collect()
    assert(qs.map(_.getLong(1)).toSeq === Seq(2L, 0L)) // n_grams
    assert(qs.map(_.getAs[String]("source")).toSeq === Seq("s0", "s1"))

    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 0.01f))).toDF("vec_id", "embedding")
    val sel = Graft.selectDiverse(emb, "embedding", "vec_id", 2)
      .orderBy("sel_order").collect().map(_.getLong(1)).toSeq
    assert(sel === Seq(1L, 2L)) // seed = min id; farthest = orthogonal
  }

  test("series/analytics wrappers wired: decay, match, cluster split, " +
    "water-fill, cusum, conformal, trends, rank test") {
    import org.apache.spark.sql.functions._
    val ev = Seq(("a", 1700000000000000L, 5L))
      .toDF("k", "t_us", "cents")
      .select($"k", timestamp_micros($"t_us").as("ts"), $"cents")
    assert(Graft.decayedCounters(ev, Seq("k"), col("ts"), col("cents"),
      3600000000L).collect().head.getAs[Long]("decayed_n_units") ===
      (1L << 20))

    val docs = (0L until 100L).map(i => (i, (i % 2).toString))
      .toDF("id", "b")
    assert(Graft.matchDistribution(docs, $"b", $"id",
      Seq(("0", 1L), ("1", 1L))).count() > 0L)

    val comps = Seq((1L, 0L)).toDF("id", "component")
    val cs = Graft.splitByCluster(
      Seq(0L, 1L, 2L).toDF("doc_id"), "doc_id", comps)
    assert(cs.filter($"doc_id" === 1L).select("cluster")
      .head().getLong(0) === 0L)

    val caps = Seq(("x", 10L, 1L, 100L), ("y", 10L, 1L, 100L))
      .toDF("k", "cap", "w", "budget")
    assert(Graft.allocateBudget(caps, "k", "cap", "w", "budget")
      .agg(sum("alloc")).head().getLong(0) === 20L)

    val series = (0 until 10).map(t => ("g", t.toLong, 100L))
      .toDF("g", "t", "x")
    assert(Graft.cusumDrift(series, Seq("g"), "t", "x").count() === 10L)

    val cal = (1 to 15).map(v => ("g", v.toLong)).toDF("g", "s")
    assert(Graft.conformalGate(cal, cal, Seq("g"), "s", 1L, 8L)
      .head().getAs[Long]("tau") === 14L)

    val pts = (0 until 4).map(x => ("g", x.toLong, 2L * x)).toDF("g", "x", "y")
    assert(Graft.robustTrend(pts, Seq("g"), col("x"), col("y"))
      .head().getAs[Double]("ts_slope") === 2.0)
    assert(Graft.trendTest(pts, Seq("g"), col("x"), col("y"))
      .head().getAs[Long]("s_stat") === 6L)

    val mw = Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
    assert(Graft.rankShiftTest(mw, "v", "g", "a", "b")
      .head().getAs[Long]("u_a_x2") === 0L)
  }

  test("partitioned-table wrappers wired: delete mask, vacuum, " +
    "time travel, version diff") {
    val root = java.nio.file.Files.createTempDirectory("gfp")
      .resolve("t").toString
    Graft.versionedUpsert(spark, root,
      Seq(("d0", 1L, 10L), ("d1", 2L, 20L)).toDF("dt", "id", "v"),
      Seq("dt", "id"), Seq("dt"))
    Graft.versionedUpsert(spark, root,
      Seq(("d0", 1L, 11L)).toDF("dt", "id", "v"), Seq("dt", "id"))
    assert(Graft.readTableVersion(spark, root, 1L)
      .filter($"id" === 1L).select("v").as[Long].head() === 10L)
    assert(Graft.diffVersions(spark, root, 1L, 2L, Seq("dt", "id"))
      .filter($"status" === "changed").count() === 1L)
    Graft.softDelete(spark, root, Seq(2L).toDF("id"),
      Seq("id"))
    assert(Graft.readTable(spark, root)
      .select("id").as[Long].collect().toSeq === Seq(1L))
    Graft.vacuumDeletes(spark, root, Seq("id"))
    assert(Graft.readTable(spark, root).count() === 1L)
  }

  test("round-12 table wrappers wired: position deletes, compaction " +
    "family, bloom skipping, orphans, tags") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("gfac12")
      .resolve("t").toString
    Graft.versionedUpsert(spark, root,
      (0L until 100L).map(i => (i, i * 3L)).toDF("id", "v"), Seq("id"))
    Graft.tag(root, "t0", 1L)
    Graft.softDeleteByPosition(spark, root, col("id") < 5L)
    assert(Graft.readTable(spark, root).count() === 95L)
    val (_, rw) = Graft.vacuumPositionDeletes(spark, root)
    assert(rw >= 1)
    assert(Graft.compactTable(spark, root, 2) >= 3L)
    Graft.compactTableSorted(spark, root, Seq("id"), 4)
    Graft.compactTableZOrder(spark, root, "id", "v", 4)
    Graft.addBloomSkipping(spark, root, Seq("id"), bits = 1 << 14)
    assert(Graft.removeOrphans(root, 0L) === ((0, 0, 0, 0)))
    assert(Graft.readTag(spark, root, "t0").count() === 100L)
    Graft.dropTag(root, "t0")
    assert(Graft.readTable(spark, root).count() === 95L)
    val proot = java.nio.file.Files.createTempDirectory("gfac12p")
      .resolve("t").toString
    Graft.versionedUpsert(spark, proot,
      (0L until 300L).map(i => (i, s"g${i % 3}", i))
        .toDF("id", "grp", "v").repartition(4, col("id")),
      Seq("id"), Seq("grp"))
    Graft.tag(proot, "snap", 1L)
    val (_, nComp) = Graft.compactPartitions(spark, proot)
    assert(nComp === 3)
    Graft.compactPartitionsSorted(spark, proot, Seq("v"))
    Graft.addBloomSkipping(spark, proot, Seq("v"), bits = 1 << 14)
    assert(Graft.readTag(spark, proot, "snap")
      .count() === 300L)
    assert(Graft.readTable(spark, proot).count() === 300L)
    // overwrite + constraint wrappers
    Graft.overwritePartitions(spark, proot,
      Seq((500L, "g0", 1L)).toDF("id", "grp", "v"), Seq("grp"))
    assert(Graft.readTable(spark, proot)
      .filter(col("grp") === "g0").count() === 1L)
    Graft.addConstraint(root, "pos_id", "id >= 0")
    intercept[sinks.VersionedTable.ConstraintViolationException] {
      Graft.versionedUpsert(spark, root,
        Seq((-1L, 0L)).toDF("id", "v"), Seq("id"))
    }
    Graft.dropConstraint(root, "pos_id")
    Graft.overwriteWhere(spark, root, col("id") < 10L,
      Seq((5L, 555L)).toDF("id", "v"))
    assert(Graft.readTable(spark, root)
      .filter(col("id") < 10L).count() === 1L)
    val w = Graft.streamUpsertWriter(spark, root, Seq("id"))
    w(Seq((777L, 7L)).toDF("id", "v"), 99L)
    assert(Graft.readTable(spark, root)
      .filter(col("id") === 777L).count() === 1L)
  }

  test("text-corpus wrappers wired: decontaminate (single + matrix), " +
    "novelty, vocab growth") {
    val corpus = Seq((10L, "alpha beta gamma delta epsilon"),
      (11L, "one two three four five")).toDF("doc_id", "text")
    val bench = Seq((0L, "alpha beta gamma delta zeta"))
      .toDF("doc_id", "text")
    val hit = Graft.decontaminate(corpus, bench, "text", "doc_id")
      .collect()
    assert(hit.map(_.getAs[Long]("doc_id")).toSeq === Seq(10L))
    assert(hit.head.getAs[Long]("n_shared_grams") === 1L) // a b g d
    val suites = bench.withColumn("suite",
      org.apache.spark.sql.functions.lit(7L))
    val mx = Graft.decontaminateMatrix(corpus, suites, "text",
      "doc_id", "suite").collect()
    assert(mx.length === 1 && mx.head.getAs[Long]("suite") === 7L)
    val nov = Graft.ngramNovelty(
      Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text"),
      "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_novel"))
      .toMap
    // doc1's 2 grams are both first; doc2 shares "a b c d" → 1 novel
    assert(nov === Map(1L -> 2L, 2L -> 1L))
    val growth = Graft.vocabGrowth(
      Seq((0L, "x y"), (150L, "x z")).toDF("doc_id", "text"),
      "text", "doc_id", checkpointDocs = 100)
      .orderBy("checkpoint_docs").collect()
    assert(growth.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq((100L, 2L, 2L), (200L, 4L, 3L)))
  }

  test("table wrappers: readTable / readTableVersion / readChanges / " +
    "streamChanges wired") {
    val root = java.nio.file.Files.createTempDirectory("facadevt")
      .resolve("t").toString
    graft.sinks.VersionedTable.upsert(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      keepVersions = 10)
    graft.sinks.VersionedTable.upsert(spark, root,
      Seq((2L, "B")).toDF("id", "v"), Seq("id"), keepVersions = 10)
    assert(Graft.readTable(spark, root).count() === 2)
    assert(Graft.readTableVersion(spark, root, 1L)
      .filter($"v" === "b").count() === 1)
    val feed = Graft.readChanges(spark, root, 1L, 2L, Seq("id"))
    assert(feed.count() === 2) // pre + post of the update
    val ckpt = tmpDir("facadeckpt")
    var batches = 0
    val q = Graft.streamChanges(spark, root, Seq("id"), ckpt) {
      (cdf, _, _) => batches += 1; cdf.count(); ()
    }
    q.awaitTermination()
    assert(batches === 2) // per-commit delivery: v1, then v2
  }

  test("partitioned pos-delete wrappers wired") {
    val root = java.nio.file.Files.createTempDirectory("facadeppd")
      .resolve("t").toString
    graft.sinks.VersionedTable.upsert(spark, root,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "p", "x"), Seq("id"), Seq("p"))
    Graft.softDeleteByPosition(spark, root, $"id" === 2L)
    assert(Graft.readTable(spark, root).count() === 2)
    val (_, rewritten) = Graft.vacuumPositionDeletes(spark, root)
    assert(rewritten === 1)
    assert(graft.sinks.VersionedTable
      .readLive(spark, root).count() === 2)
  }
}
