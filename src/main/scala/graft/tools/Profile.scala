package graft.tools

import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Ad-hoc stage profiler for the heavy dedup operators (dev tool). */
object Profile {
  def t[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    r
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("queries")) { profileQueries(args.tail); return }
    if (args.headOption.contains("jobprof")) { jobProf(args.tail); return }
    if (args.headOption.contains("allqueries")) { allQueries(); return }
    if (args.headOption.contains("explain")) { explainQueries(args.tail); return }
    if (args.headOption.contains("stress")) { stressDedup(); return }
    if (args.headOption.contains("stress-zipf")) { stressZipf(); return }
    if (args.headOption.contains("stress-incr")) { stressIncremental(); return }
    if (args.headOption.contains("stress-vec")) { stressVectors(); return }
    if (args.headOption.contains("stress-exact")) { stressExactPairs(); return }
    if (args.headOption.contains("stress-edit")) { stressEdit(); return }
    if (args.headOption.contains("stress-sweep")) { stressSweep(); return }
    if (args.headOption.contains("stress-classify")) { stressClassify(); return }
    if (args.headOption.contains("stress-kcenter")) { stressKCenter(); return }
    if (args.headOption.contains("stress-stream")) { stressStream(); return }
    if (args.headOption.contains("streamprof")) { streamProf(); return }
    if (args.headOption.contains("stress-text")) { stressText(); return }
    if (args.headOption.contains("probe-stages")) { probeStages(); return }
    if (args.headOption.contains("stress-substr")) { stressSubstr(); return }
    if (args.headOption.contains("stress-ivjoin")) { stressIntervalJoin(); return }
    if (args.headOption.contains("stress-series")) { stressSeries(); return }
    if (args.headOption.contains("stress-table")) { stressTable(); return }
    if (args.headOption.contains("stress-mormerge")) { stressMorMerge(); return }
    if (args.headOption.contains("stage77")) { stage77(); return }
    val spark = GraftSession.build("profile")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = Tables.documents(spark, d).cache()
    println(s"docs: ${docs.count()}")

    // ---- minhash stages
    val base = Dedup.shingleRows(docs, "text", "doc_id", 3)
    t("shingles materialize") { base.write.mode("overwrite").parquet("/tmp/prof_sh") }
    val baseP = spark.read.parquet("/tmp/prof_sh")
    val sigs = Dedup.minhashSignatures(baseP, 64)
    t("minhash sigs") { sigs.write.mode("overwrite").parquet("/tmp/prof_sig") }
    val sigsP = spark.read.parquet("/tmp/prof_sig")
    val banded = sigsP.select(col("id"),
      explode(Dedup.bandHashes(col("sig"), 16, 4)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h"))
    val cands = banded.alias("l").join(banded.alias("r"), Seq("band", "h"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .filter(col("id_a") < col("id_b")).distinct()
    val nc = t("candidates") { cands.count() }
    println(s"minhash candidates: $nc")
    // ---- ngram jaccard stages (postings self-join + common counts)
    val pairs = baseP.alias("l").join(baseP.alias("r"),
      col("l.g") === col("r.g") && col("l.id") < col("r.id"))
    println("pair rows: " + t("postings join count") { pairs.count() })
    val common = pairs.groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    println("groups: " + t("groupBy common") { common.count() })
    spark.stop()
  }

  /** Table-surface stress (r13): a 1M-row day-sliced partitioned
    * table built from 8 commits (each touching 4 of 32 partitions),
    * then the costs that matter at scale — DSv2 pruned interval read
    * vs full scan, per-commit change feed vs full-history feed
    * (per-commit must be batch-sized: the step diff opens only the
    * partitions whose pointer moved), and a streamChanges catch-up.
    */
  def stressTable(): Unit = {
    import graft.sinks.VersionedTable
    val spark = GraftSession.build("profile-table")
    val root = "/tmp/stress_table/t"
    val rootP = java.nio.file.Paths.get("/tmp/stress_table")
    if (java.nio.file.Files.exists(rootP)) {
      val s = java.nio.file.Files.walk(rootP)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally s.close()
    }
    val n = 1000000L
    t("8 partitioned commits, 125k rows / 4 partitions each") {
      (0 until 8).foreach { i =>
        val batch = spark.range(i * n / 8, (i + 1) * n / 8)
          .select(col("id"),
            expr(s"CAST(id * 32 DIV $n AS STRING)").as("p"),
            (col("id") * 3).as("m"))
        VersionedTable.upsert(spark, root, batch,
          Seq("id"), Seq("p"), keepVersions = 20)
        ()
      }
    }
    val (lo, hi) = (300000L, 450000L) // ~5% of the m domain
    t("DSv2 pruned interval read") {
      val s = spark.read.format("graft").load(root)
        .filter(col("m") >= lo && col("m") <= hi)
        .agg(sum("id")).head()
      println(s"  sum=$s audit=${graft.sources.GraftScanAudit.last}")
    }
    t("full-scan equivalent") {
      println("  sum=" + VersionedTable.readLive(spark, root)
        .filter(col("m") >= lo && col("m") <= hi).agg(sum("id")).head())
    }
    t("readChanges: LAST commit only") {
      println("  ops=" + VersionedTable
        .readChanges(spark, root, 7L, 8L, Seq("id")).count())
    }
    t("readChanges: full 8-commit history") {
      println("  ops=" + VersionedTable
        .readChanges(spark, root, 0L, 8L, Seq("id")).count())
    }
    t("streamChanges catch-up (8 commits, AvailableNow)") {
      var total = 0L
      val q = VersionedTable.streamChanges(spark, root, Seq("id"),
        "/tmp/stress_table/ckpt") { (cdf, _, _) => total += cdf.count() }
      q.awaitTermination()
      println(s"  streamed ops=$total")
    }
    spark.stop()
  }

  /** Partitioned merge-on-read MERGE at a REALISTIC partition count
    * (512 — two orders past the graded twins): the scale claim at
    * stake is that a MoR MERGE's cost is ∝ matched rows + one
    * content-free materialization, INDEPENDENT of table partition
    * count, while the COW twin pays a rewrite of every matched
    * partition. Prints both times, pointer-move counts (MoR must be
    * zero moved / one added), and row-equality of the two results.
    */
  def stressMorMerge(): Unit = {
    import graft.sinks.VersionedTable
    val spark = GraftSession.build("profile-mormerge")
    val whP = java.nio.file.Paths.get("/tmp/stress_mor_wh")
    if (java.nio.file.Files.exists(whP)) {
      val s = java.nio.file.Files.walk(whP)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally s.close()
    }
    spark.conf.set("spark.sql.catalog.pmm",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pmm.warehouse", whP.toString)
    spark.sql("CREATE NAMESPACE pmm.s")
    for (tn <- Seq("cow", "mor")) {
      val prop = if (tn == "mor")
        " TBLPROPERTIES ('graft.dml.mode' = 'merge-on-read')" else ""
      spark.sql(s"CREATE TABLE pmm.s.$tn (id BIGINT, p STRING, " +
        s"m BIGINT) USING graft PARTITIONED BY (p)$prop")
      t(s"seed $tn: 1M rows / 512 partitions (one commit)") {
        spark.range(0, 1000000L)
          .select(col("id"), expr("CAST(id % 512 AS STRING)").as("p"),
            (col("id") * 3).as("m"))
          .createOrReplaceTempView("pmm_seed")
        spark.sql(s"INSERT INTO pmm.s.$tn SELECT * FROM pmm_seed")
      }
    }
    // matched rows confined to 8 partitions (p ∈ 0..7, every 250th
    // row WITHIN those partitions — ~64 rows total) + 100 inserts
    // into ONE brand-new partition
    spark.range(0, 1000000L)
      .filter(expr("id % 512 < 8 AND (id DIV 512) % 250 = 0"))
      .select(col("id").as("sid"), lit(null).cast("string").as("sp"),
        lit(1L).as("sm"))
      .unionByName(spark.range(2000000L, 2000100L)
        .select(col("id").as("sid"), lit("newpart").as("sp"),
          col("id").as("sm")))
      .createOrReplaceTempView("pmm_src")
    def merge(tn: String): Unit = spark.sql(
      s"""MERGE INTO pmm.s.$tn t USING pmm_src s ON t.id = s.sid
         |WHEN MATCHED THEN UPDATE SET m = t.m + s.sm
         |WHEN NOT MATCHED THEN INSERT (id, p, m)
         |  VALUES (s.sid, s.sp, s.sm)""".stripMargin)
    val morRoot = s"$whP/s/mor"
    val cowRoot = s"$whP/s/cow"
    val morBefore =
      VersionedTable.readPartitionedManifest(morRoot).get.partitions
    val cowBefore =
      VersionedTable.readPartitionedManifest(cowRoot).get.partitions
    t("MoR MERGE (512-partition table, 8 matched partitions)") {
      merge("mor")
    }
    t("COW MERGE (same statement, same table shape)") {
      merge("cow")
    }
    val morAfter =
      VersionedTable.readPartitionedManifest(morRoot).get.partitions
    val cowAfter =
      VersionedTable.readPartitionedManifest(cowRoot).get.partitions
    def moved(b: Map[String, String], a: Map[String, String]): Int =
      b.count { case (k, d) => !a.get(k).contains(d) }
    println(s"  pointers moved: mor=${moved(morBefore, morAfter)} " +
      s"(added ${morAfter.size - morBefore.size}), " +
      s"cow=${moved(cowBefore, cowAfter)} " +
      s"(added ${cowAfter.size - cowBefore.size})")
    val chk = spark.sql(
      """SELECT (SELECT CAST(sum(m) AS BIGINT) FROM pmm.s.mor) AS ms,
        |  (SELECT CAST(sum(m) AS BIGINT) FROM pmm.s.cow) AS cs,
        |  (SELECT count(*) FROM pmm.s.mor) AS mn,
        |  (SELECT count(*) FROM pmm.s.cow) AS cn""".stripMargin)
      .head
    println(s"  equal: sums ${chk.getLong(0)} == ${chk.getLong(1)} " +
      s"(${chk.getLong(0) == chk.getLong(1)}), " +
      s"counts ${chk.getLong(2)} == ${chk.getLong(3)} " +
      s"(${chk.getLong(2) == chk.getLong(3)})")
    // Partition-MOVING UPDATE leg (r16): move ~64 rows spread across
    // 8 source partitions into ONE quarantine partition. MoR must
    // move ZERO pre-existing pointers (one materialization commit
    // adds the destination) at cost ∝ matched rows; COW rewrites all
    // 8 source partitions PLUS the destination.
    val morB2 =
      VersionedTable.readPartitionedManifest(morRoot).get.partitions
    val cowB2 =
      VersionedTable.readPartitionedManifest(cowRoot).get.partitions
    def move(tn: String): Unit = spark.sql(
      s"UPDATE pmm.s.$tn SET p = 'quarantine', m = m + 7 " +
        "WHERE id % 512 < 8 AND (id DIV 512) % 250 = 1")
    t("MoR partition-MOVING UPDATE (8 src partitions → 1 new)") {
      move("mor")
    }
    t("COW partition-MOVING UPDATE (same statement)") {
      move("cow")
    }
    val morA2 =
      VersionedTable.readPartitionedManifest(morRoot).get.partitions
    val cowA2 =
      VersionedTable.readPartitionedManifest(cowRoot).get.partitions
    println(s"  moving-UPDATE pointers moved: " +
      s"mor=${moved(morB2, morA2)} " +
      s"(added ${morA2.size - morB2.size}), " +
      s"cow=${moved(cowB2, cowA2)} " +
      s"(added ${cowA2.size - cowB2.size})")
    val chk2 = spark.sql(
      """SELECT (SELECT CAST(sum(m) AS BIGINT) FROM pmm.s.mor) AS ms,
        |  (SELECT CAST(sum(m) AS BIGINT) FROM pmm.s.cow) AS cs,
        |  (SELECT count(*) FROM pmm.s.mor
        |   WHERE p = 'quarantine') AS mq,
        |  (SELECT count(*) FROM pmm.s.cow
        |   WHERE p = 'quarantine') AS cq""".stripMargin)
      .head
    println(s"  equal: sums ${chk2.getLong(0)} == ${chk2.getLong(1)} " +
      s"(${chk2.getLong(0) == chk2.getLong(1)}), " +
      s"quarantined ${chk2.getLong(2)} == ${chk2.getLong(3)} " +
      s"(${chk2.getLong(2) == chk2.getLong(3)})")
    spark.stop()
  }

  /** Dedup-at-scale stress: replicate the sf0.1 corpus 20× (each
    * replica a near-dup: one extra word) → 100k docs, ~1M true
    * near-dup pairs — validates the LSH candidate path + components
    * fixpoint well beyond the bench SF.
    */
  def stressDedup(): Unit = {
    val spark = GraftSession.build("profile-stress")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = Tables.documents(spark, d).select("doc_id", "text")
    // collision-proof replica offset: (max id + 1), not row count
    val n = base.agg(max("doc_id")).head().getLong(0) + 1
    val big = (0 until 20).map { r =>
      base.select((col("doc_id") + lit(r) * n).as("doc_id"),
        concat(col("text"), lit(s" replica$r")).as("text"))
    }.reduce(_ unionByName _)
    big.write.mode("overwrite").parquet("/tmp/stress_docs")
    val docs = spark.read.parquet("/tmp/stress_docs")
    println(s"stress corpus: ${docs.count()} docs")

    val pairs = t("minhash 100k docs") {
      val p = Dedup.minhashNearDups(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .localCheckpoint(true)
      println(s"pairs: ${p.count()}")
      p
    }
    t("components 100k docs") {
      val c = graft.operators.Components.connectedComponents(pairs)
      println(s"clusters: ${c.select("component").distinct().count()}")
    }
    spark.stop()
  }

  /** ExactSubstr stress: the 20× replicated corpus (100k docs, ~5.5M
    * sliding anchor offsets at k=8). Replicas share their full prefix
    * with the original, so virtually every doc carries one maximal
    * duplicated island — the output is ~1 island/doc, while the anchor
    * table and the first-occurrence aggregate carry the 5.5M-row load.
    * Also half-corpus (50k) to check the wall grows ~linearly in
    * corpus tokens (two shuffles, no quadratic term).
    */
  def stressSubstr(): Unit = {
    val spark = GraftSession.build("profile-substr")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = Tables.documents(spark, d).select("doc_id", "text")
    val n = base.agg(max("doc_id")).head().getLong(0) + 1
    def corpus(reps: Int): org.apache.spark.sql.DataFrame =
      (0 until reps).map { r =>
        base.select((col("doc_id") + lit(r) * n).as("doc_id"),
          concat(col("text"), lit(s" replica$r")).as("text"))
      }.reduce(_ unionByName _)
    Seq(10, 20).foreach { reps =>
      corpus(reps).write.mode("overwrite").parquet("/tmp/stress_substr")
      val docs = spark.read.parquet("/tmp/stress_substr")
      println(s"substr corpus: ${docs.count()} docs")
      t(s"exact-substr ${reps * 5}k docs") {
        val out = graft.operators.SpanDedup
          .exactSubstrIntervals(docs, "doc_id", "text", minTokens = 8)
        println(s"islands: ${out.count()}")
      }
    }
    spark.stop()
  }

  /** Interval-overlap join stress: 1M × 1M intervals, ~4 overlaps per
    * right interval by construction (~4M output pairs) — the
    * output-bound regime. The naive theta join is a 10¹² cross
    * product; the bucketed equi-join + canonical-bucket dedup keeps
    * work at (bucket collisions + output). Doubling the left side
    * should ~double pairs and wall: no quadratic term.
    */
  def stressIntervalJoin(): Unit = {
    val spark = GraftSession.build("profile-ivjoin")
    val n = 1000000L
    def mk(name: String, df: org.apache.spark.sql.DataFrame) = {
      df.write.mode("overwrite").parquet(s"/tmp/stress_iv_$name")
      spark.read.parquet(s"/tmp/stress_iv_$name")
    }
    val a = mk("a", spark.range(n).select(col("id"),
      (col("id") * 10).as("s"), (col("id") * 10 + 20).as("e")))
    val a2 = mk("a2", spark.range(2 * n).select(col("id"),
      (col("id") * 5).as("s"), (col("id") * 5 + 20).as("e")))
    val b = mk("b", spark.range(n).select(col("id"),
      (col("id") * 10 + 5).as("s"), (col("id") * 10 + 25).as("e")))
    Seq(("1M x 1M", a), ("2M x 1M", a2)).foreach { case (tag, left) =>
      t(s"interval join $tag") {
        val pairs = graft.operators.IntervalJoin
          .overlap(left, b, "id", "s", "e", widthSec = 30L)
        println(s"pairs: ${pairs.count()}")
      }
    }
    spark.stop()
  }

  /** Series-analytics stress (the q248/q249/q255/q258 family at
    * 100–5000× bench scale): (a) decayed counters over 50M events —
    * ONE map-side-combined aggregate, wall ≈ scan; (b) Mann–Whitney
    * over 10M rows with a 10k-value domain — rank cost is the domain
    * window, not the rows; (c) CUSUM over 100 series × 100k points —
    * stacked running windows; (d) distribution-match acceptance over
    * 10M rows — histogram + broadcast filter. Validates the
    * "one-pass / domain-bounded" claims in SURVEY §8.2.
    */
  def stressSeries(): Unit = {
    val spark = GraftSession.build("profile-series")
    val ev = spark.range(50000000L).select(
      (col("id") % 100).as("k"),
      timestamp_micros(lit(1700000000000000L) -
        (col("id") % 2592000L) * 1000000L).as("ts"),
      (col("id") % 1000L).as("cents"))
    t("decay counters 50M rows") {
      println("rows: " + graft.operators.Decay.decayedCounters(
        ev, Seq("k"), col("ts"), col("cents"), 172800000000L).count())
    }
    val mw = spark.range(10000000L).select(
      when(col("id") % 3 === 0, "a").otherwise("b").as("g"),
      (col("id") % 10007L).as("v"))
    t("mann-whitney 10M rows") {
      println(graft.operators.RankTests
        .mannWhitneyU(mw, "v", "g", "a", "b").collect().toSeq)
    }
    val series = spark.range(10000000L).select(
      (col("id") % 100).as("g"), expr("id div 100").as("tt"),
      ((col("id") * 2654435761L) % 1000L).as("x"))
    t("cusum 100 series x 100k") {
      println("rows: " + graft.operators.Cusum
        .detect(series, Seq("g"), "tt", "x").count())
    }
    val dm = spark.range(10000000L).select(col("id"),
      (col("id") % 7).cast("string").as("b"))
    t("distribution-match 10M rows") {
      println("kept: " + graft.operators.DistributionMatch
        .sampleToTarget(dm, col("b"), col("id"),
          (0 until 7).map(i => (i.toString, i.toLong + 1)), "st|")
        .count())
    }
    spark.stop()
  }

  /** Vector-path stress: 1M synthetic 64-d vectors (2000× the bench
    * embeddings table) built distributedly from spark.range — times
    * (a) the native random-projection expression over the full set
    * (map-only: should run at generate speed), (b) hyperplane-LSH
    * candidate generation, (c) brute-force top-5 against 8 broadcast
    * queries (8M codegen cosines). Validates that the vector
    * operators' costs are the linear scans they claim to be.
    */
  /** ER-verify stress: 10M shared-prefix name pairs (the q205 shape)
    * scored with the builtin thresholded levenshtein vs
    * graft_edit_within — quantifies the custom expression's win at
    * candidate-join scale.
    */
  def stressEdit(): Unit = {
    val spark = GraftSession.build("profile-edit")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val n = 10000000L
    val pairs = spark.range(n).select(
      concat(lit("Customer#"), lpad((col("id") % 97651).cast("string"),
        9, "0")).as("a"),
      concat(lit("Customer#"), lpad(((col("id") * 31) % 97651)
        .cast("string"), 9, "0")).as("b"))
    pairs.write.mode("overwrite").parquet("/tmp/stress_edit")
    val pp = spark.read.parquet("/tmp/stress_edit")
    println(s"stress edit pairs: ${pp.count()}")
    t("builtin levenshtein(a,b,3) 10M") {
      println("sum: " + pp.select(levenshtein(col("a"), col("b"), 3)
        .as("d")).agg(sum("d")).collect()(0).getLong(0))
    }
    t("graft_edit_within(a,b,3) 10M") {
      println("sum: " + pp.select(call_function("graft_edit_within",
        col("a"), col("b"), lit(3)).as("d"))
        .agg(sum("d")).collect()(0).getLong(0))
    }
    spark.stop()
  }

  /** Sweep-line overlap stress: 1M intervals over 100 keys (10k per
    * key). The q207 sweep is one window pass over 2M events; the
    * naive overlap self-join would generate Σ 10k²/2 × 100 ≈ 5·10⁹
    * candidate pairs — not runnable here, which is the point.
    */
  def stressSweep(): Unit = {
    val spark = GraftSession.build("profile-sweep")
    import org.apache.spark.sql.expressions.Window
    val n = 1000000L
    val iv = spark.range(n).select(
      (col("id") % 100).as("sk"), col("id").as("iid"),
      (col("id") * 37 % 100000).as("s"))
      .withColumn("e", col("s") + col("iid") % 50 + 1)
    iv.write.mode("overwrite").parquet("/tmp/stress_sweep")
    val ip = spark.read.parquet("/tmp/stress_sweep")
    println(s"stress sweep intervals: ${ip.count()}")
    t("sweep-line pairs+peak, 1M intervals") {
      val events = ip.select(col("sk"), col("s").as("x"),
          lit(1L).as("delta"), col("iid"))
        .unionByName(ip.select(col("sk"), (col("e") + 1).as("x"),
          lit(-1L).as("delta"), col("iid")))
      val w = Window.partitionBy("sk")
        .orderBy(col("x"), col("delta"), col("iid"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val out = events.withColumn("active", sum(col("delta")).over(w))
        .filter(col("delta") === 1L)
        .groupBy("sk")
        .agg(sum(col("active") - 1L).as("pairs"),
          max(col("active")).as("peak"))
        .agg(sum("pairs"), max("peak")).collect()(0)
      println(s"total pairs: ${out.getLong(0)}, max peak: ${out.getLong(1)}")
    }
    spark.stop()
  }

  /** Sustained streaming throughput: the built-in `rate` source at a
    * requested 500k rows/s for ~15 s of micro-batches through (a) the
    * q30-shape watermarked windowed aggregate and (b) stateful
    * dropDuplicates — reporting the PROCESSED rows/s the state-store
    * path actually sustains (the rate source backfills, so the
    * pipeline runs flat out regardless of wall-clock). The claim
    * under test: the streaming stack's per-row cost is state-store
    * bounded, not transform bounded, and holds at 10⁵–10⁶ rows/s per
    * node — the per-executor budget a 100 TB/day continuous pipeline
    * needs (1 PB/day ≈ 12M rows/s of 1 KB events across a 32-node
    * fleet).
    */
  /** Stage breakdown of one NearDupIndex probe at the bench SF: where
    * does the per-batch cost go (batch signature checkpoints, band
    * candidate join, postings verify)?
    */
  def probeStages(): Unit = {
    val spark = GraftSession.build("profile-probe")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = Tables.documents(spark, d)
    val nd = graft.operators.NearDupIndex
    val root = nd.ensureBuiltCached(spark,
      docs.filter(col("doc_id") % 10 =!= 0), "text", "doc_id",
      cacheKey = s"probeprof|$d")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    (1 to 2).foreach { i =>
      t(s"full probe (run $i)") {
        nd.probe(spark, root, batch, "text", "doc_id",
          threshold = 0.5).count()
      }
    }
    // stage splits (same params as Params() default: shingle 3, 64
    // hashes, 16 bands)
    val grams = t("batch shingles ckpt") {
      graft.operators.Dedup.shingleRows(batch, "text", "doc_id", 3)
        .localCheckpoint(true)
    }
    t("batch bands ckpt") {
      val sigs = graft.operators.Dedup.minhashSignatures(grams, 64)
      sigs.select(col("id"),
        explode(graft.operators.Dedup.bandHashes(col("sig"), 16, 4))
          .as("bh"))
        .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h"))
        .localCheckpoint(true)
    }
    spark.stop()
  }

  /** Linearity evidence for the q278/q279/q280 text-analytics family
    * at 20× the bench corpus (the `stress` replication recipe):
    * multi-suite decontamination, n-gram novelty, and the Heaps curve
    * must scale with corpus tokens — no quadratic term, no
    * corpus-sized join-back.
    */
  def stressText(): Unit = {
    val spark = GraftSession.build("profile-stress-text")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = Tables.documents(spark, d).select("doc_id", "text")
    val n = base.agg(max("doc_id")).head().getLong(0) + 1
    val big = (0 until 20).map { r =>
      base.select((col("doc_id") + lit(r) * n).as("doc_id"),
        concat(col("text"), lit(s" replica$r")).as("text"))
    }.reduce(_ unionByName _)
    big.write.mode("overwrite").parquet("/tmp/stress_text_docs")
    val docs = spark.read.parquet("/tmp/stress_text_docs")
    println(s"docs: ${docs.count()}")
    // the PRODUCTION operators, not copies — a plan change in the
    // lifted cores changes exactly what this ladder measures
    val m = col("doc_id") % 97
    t("decontam-matrix 100k docs") {
      graft.operators.Decontam.matrix(
        docs.filter(!m.isin(1L, 2L, 3L)),
        docs.filter(m.isin(1L, 2L, 3L))
          .withColumn("suite", (col("doc_id") % 97).cast("long")),
        "text", "doc_id", "suite", n = 4).count()
    }
    t("ngram-novelty 100k docs") {
      graft.operators.TextStats
        .noveltyByDoc(docs, "text", "doc_id", n = 4).count()
    }
    t("heaps-law 100k docs") {
      graft.operators.TextStats
        .heapsCurve(docs, "text", "doc_id", checkpointDocs = 100).count()
    }
    spark.stop()
  }

  /** Micro-batch duration breakdown for the bench streaming family:
    * where does the per-query fixed cost go (planning, WAL, state
    * commit, addBatch)?
    */
  def streamProf(): Unit = {
    val spark = GraftSession.build("profile-streamprof")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val es = graft.streaming.EventsStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    def run(name: String,
            build: => org.apache.spark.sql.DataFrame,
            mode: OutputMode, noData: Boolean,
            parts: Int = 4): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        noData.toString)
      val ckpt = graft.core.ScratchDirs.fresh(s"sp_$name")
      val t0 = System.nanoTime()
      val q = build.writeStream.format("memory")
        .queryName(s"sp_${name}_${System.nanoTime()}").outputMode(mode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[streamprof] $name%-24s total ${total}%.2fs")
      q.recentProgress.foreach { p =>
        println(s"[streamprof]   batch ${p.batchId} rows=" +
          s"${p.numInputRows} ${p.durationMs}")
      }
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      graft.core.ScratchDirs.delete(ckpt)
    }
    def q92 = es.purchaseErrorLeftJoin(
      es.readEvents(spark, d).filter(col("event_type") === "purchase"),
      es.readEvents(spark, d).filter(col("event_type") === "error"))
    def q31 = es.sessionize(es.readEvents(spark, d))
    def q30 = es.windowedCounts(es.readEvents(spark, d))
    (1 to 2).foreach { i =>
      for (p <- Seq(4, 8, 16)) {
        run(s"q92_leftjoin_p${p}_$i", q92, OutputMode.Append(),
          noData = true, parts = p)
        run(s"q31_session_p${p}_$i", q31, OutputMode.Complete(),
          noData = false, parts = p)
      }
      run(s"q30_window_$i", q30, OutputMode.Complete(), noData = false)
    }
    spark.stop()
  }

  def stressStream(): Unit = {
    val spark = GraftSession.build("profile-stream")
    import org.apache.spark.sql.streaming.Trigger
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    def run(name: String)(build: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit = {
      val src = spark.readStream.format("rate")
        .option("rowsPerSecond", "500000")
        .option("rampUpTime", "0s")
        .load()
        .select(col("timestamp").as("ts"),
          (col("value") % 100000).as("user_id"),
          concat(lit("t"), (col("value") % 7)).as("event_type"),
          (col("value") % 1000).cast("double").as("value"))
      val ckpt = graft.core.ScratchDirs.fresh(s"stress_$name")
      val q = build(src).writeStream.format("noop")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.ProcessingTime("1 second"))
        .start()
      Thread.sleep(15000)
      val progs = q.recentProgress
      q.stop(); graft.core.ScratchDirs.delete(ckpt)
      val done = progs.filter(_.numInputRows > 0)
      val rows = done.map(_.numInputRows).sum
      val secs = done.map(p => p.durationMs.getOrDefault("triggerExecution",
        0L).toLong).sum / 1000.0
      println(f"[stress-stream] $name%-28s ${rows}%,d rows, " +
        f"${rows / math.max(secs, 0.001)}%,.0f rows/s processed " +
        f"(${done.length} batches)")
    }
    run("windowed-agg+watermark") { src =>
      src.withWatermark("ts", "10 seconds")
        .groupBy(window(col("ts"), "5 seconds"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
    }
    run("stateful-dedup") { src =>
      src.withWatermark("ts", "10 seconds")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
    }
    run("passthrough-baseline") { src => src }
    spark.stop()
  }

  /** Hashed-bigram classifier throughput: 1M synthetic ~24-token docs
    * scored in one map-only pass — the claim under test is that
    * inference adds NO shuffle and runs at scan speed (the md5-per-
    * gram cost is the knob; 2×md5 per bigram ≈ 48 digests/doc).
    */
  def stressClassify(): Unit = {
    val spark = GraftSession.build("profile-classify")
    val n = 1000000L
    // deterministic word soup with Zipf-ish head reuse: token j of doc
    // id is word#((id*31+j*7) % 5000)
    val docs = spark.range(n).select(col("id"),
      concat_ws(" ", expr(
        "transform(sequence(0, 23), " +
          "j -> concat('w', cast((id * 31 + j * 7) % 5000 as string)))"))
        .as("text"))
    docs.write.mode("overwrite").parquet("/tmp/stress_docs_qc")
    val dp = spark.read.parquet("/tmp/stress_docs_qc")
    println(s"stress docs: ${dp.count()}")
    t("hashed-bigram classify 1M x 24 tokens (md5, replayable)") {
      val r = graft.operators.QualityClassifier
        .score(dp, "text", "id")
        .agg(count(lit(1)), sum("score"), sum("label")).head()
      println(s"docs=${r.getLong(0)} Σscore=${r.getLong(1)} " +
        s"pos=${r.getLong(2)}")
    }
    t("hashed-bigram classify 1M x 24 tokens (xxhash64, fast)") {
      val r = graft.operators.QualityClassifier
        .score(dp, "text", "id", replayable = false)
        .agg(count(lit(1)), sum("score"), sum("label")).head()
      println(s"docs=${r.getLong(0)} Σscore=${r.getLong(1)} " +
        s"pos=${r.getLong(2)}")
    }
    spark.stop()
  }

  /** Greedy k-center at 1M × 64-dim: 8 rounds, each ONE map-only
    * scan + tree-agg argmax. The claim under test: per-round cost is
    * flat (re-cached dist column, no lineage growth), total ≈ 8 ×
    * one-pass-over-corpus.
    */
  def stressKCenter(): Unit = {
    val spark = GraftSession.build("profile-kcenter")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val n = 1000000L
    val vecs = spark.range(n).select(col("id"),
      expr("transform(sequence(0, 63), " +
        "i -> cast(sin(cast(id * 64 + i as double)) * 0.1 as float))")
        .as("v"))
    vecs.write.mode("overwrite").parquet("/tmp/stress_vecs_kc")
    val vp = spark.read.parquet("/tmp/stress_vecs_kc")
    println(s"stress vectors: ${vp.count()}")
    t("k-center greedy k=8 over 1M x 64") {
      val sel = graft.operators.Coreset
        .kCenters(vp, "v", "id", k = 8).collect()
      println(sel.map(r => s"${r.getLong(1)}@%.4f".format(r.getDouble(2)))
        .mkString(", "))
    }
    // The k-scaling claim (SURVEY §8.2): sequential is k driver rounds
    // → wall grows ~linearly in k; the batched tournament is ONE
    // distributed pass + driver math → near-flat in k until the
    // (P·k)·k driver greedy shows up. Same corpus, same metric.
    t("k-center sequential k=32") {
      graft.operators.Coreset.kCenters(vp, "v", "id", k = 32).count()
    }
    for (k <- Seq(32, 128, 512)) {
      t(s"k-center batched k=$k (32 partitions)") {
        graft.operators.Coreset.kCentersBatched(vp, "v", "id", k = k).count()
      }
    }
    spark.stop()
  }

  def stressVectors(): Unit = {
    val spark = GraftSession.build("profile-vec")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val n = 1000000L
    // deterministic pseudo-vectors: v[i] = sin(id·64 + i)·0.1 — cheap,
    // full-rank-ish, no data source needed
    val vecs = spark.range(n).select(col("id"),
      expr("transform(sequence(0, 63), " +
        "i -> cast(sin(cast(id * 64 + i as double)) * 0.1 as float))")
        .as("v"))
    vecs.write.mode("overwrite").parquet("/tmp/stress_vecs")
    val vp = spark.read.parquet("/tmp/stress_vecs")
    println(s"stress vectors: ${vp.count()}")
    t("random projection 1M x 64->16") {
      println("proj rows: " + graft.operators.Projection
        .randomProject(vp, "v", "id").count())
    }
    t("hyperplane LSH buckets 1M") {
      println("buckets: " + graft.operators.Dedup
        .hyperplaneBuckets(vp.select(col("id"), col("v")),
          bits = 7, tables = 4)
        .groupBy("t", "b").count().count())
    }
    t("brute-force top-5, 8 queries x 1M corpus") {
      val qs = vp.filter(col("id") < 8)
        .select(col("id").as("qid"), col("v").as("qv"))
      println("result rows: " + graft.operators.Similarity
        .bruteForceTopK(vp.select(col("id"), col("v")), qs, k = 5).count())
    }
    spark.stop()
  }

  /** Exact-cosine-pair stress: the q89 exact side on a corpus WITH
    * angular structure — 50k vectors in 100 tight clusters (members
    * within ~0.1 rad of their center) vs the same 50k spread
    * structureless. The claim at stake: cluster-bound pruning makes
    * the exact join scale with Σ|allowed-pair| on clustered data
    * (real embedding corpora are clustered — that's why IVF works),
    * while on structureless data it degrades gracefully to the
    * quadratic candidate set. 50k structureless = 1.25G candidate
    * pairs, so only the clustered side is run at full size; the
    * structureless control runs at 5k (25M pairs) to measure the
    * degradation slope without a multi-minute run.
    */
  def stressExactPairs(): Unit = {
    val spark = GraftSession.build("profile-exact")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // xxhash64-derived components in [-1, 1]: genuinely random-like
    // directions (pairwise cosine ~0 in 64 dims), unlike sin-phase
    // fixtures whose shifted copies correlate. Clustered corpus: 64
    // tight centers × ~780 members (5% perturbation) with nLists
    // matched to the structure — arccos(0.8)=37°, cluster radius ~4°,
    // centers ~90° apart, so ~63/64 of cluster-pair blocks PRUNE and
    // candidates collapse from n²/2 = 1.25G to Σ|cluster-pair| ≈ 19.5M.
    val clustered = spark.range(50000L).select(col("id"),
      expr("""transform(sequence(0, 63), i ->
        |  cast(cast(xxhash64(id % 64, i) % 1000 as double) / 1000.0 +
        |       cast(xxhash64(id, i + 64) % 1000 as double) / 20000.0
        |    as float))""".stripMargin).as("v"))
    clustered.write.mode("overwrite").parquet("/tmp/stress_exact")
    val cp = spark.read.parquet("/tmp/stress_exact")
    println(s"clustered corpus: ${cp.count()} vectors, 64 centers")
    t("exactCosinePairs 50k clustered, t=0.8, 64 lists") {
      println("pairs: " + graft.operators.Similarity
        .exactCosinePairs(cp, "v", "id", threshold = 0.8, nLists = 64)
        .count())
    }
    // structureless control: 20k per-id random directions — zero true
    // pairs, every block allowed: the honest quadratic floor (200M
    // kernel-scored candidates) the prune degrades to without angular
    // structure
    val flat = spark.range(20000L).select(col("id"),
      expr("transform(sequence(0, 63), i -> " +
        "cast(cast(xxhash64(id, i) % 1000 as double) / 1000.0 as float))")
        .as("v"))
    flat.write.mode("overwrite").parquet("/tmp/stress_exact_flat")
    val fp = spark.read.parquet("/tmp/stress_exact_flat")
    t("exactCosinePairs 20k structureless, t=0.8 (quadratic floor)") {
      println("pairs: " + graft.operators.Similarity
        .exactCosinePairs(fp, "v", "id", threshold = 0.8).count())
    }
    // Driver-memory leg (r15): the scoring kernel is a distributed
    // chunked cluster-pair block join — no corpus-sized collect, so
    // driver heap stays flat as the corpus doubles. 100k × 64-dim
    // floats ≈ 26 MB of raw vectors; a collect-based kernel would
    // show up as a ≥ that-sized jump in retained driver heap.
    val big = spark.range(100000L).select(col("id"),
      expr("""transform(sequence(0, 63), i ->
        |  cast(cast(xxhash64(id % 128, i) % 1000 as double) / 1000.0 +
        |       cast(xxhash64(id, i + 64) % 1000 as double) / 20000.0
        |    as float))""".stripMargin).as("v"))
    big.write.mode("overwrite").parquet("/tmp/stress_exact_big")
    val bp = spark.read.parquet("/tmp/stress_exact_big")
    def usedHeapMb(): Long = {
      val r = Runtime.getRuntime
      System.gc(); Thread.sleep(200); System.gc()
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }
    val heapBefore = usedHeapMb()
    t("exactCosinePairs 100k clustered, t=0.8, 128 lists (driver-mem)") {
      println("pairs: " + graft.operators.Similarity
        .exactCosinePairs(bp, "v", "id", threshold = 0.8, nLists = 128)
        .count())
    }
    val heapAfter = usedHeapMb()
    println(s"driver heap used: ${heapBefore} MB -> ${heapAfter} MB " +
      s"(delta ${heapAfter - heapBefore} MB across a 100k-vector run)")
    // Chunk-build parallelism leg (r16): the chunk build is
    // range-partitioned on (cid, id) with a task count that follows
    // corpus/blockSize — NOT the old Window.partitionBy(cid) whose
    // per-cluster sort ran on exactly one task per cluster. Proof:
    // shrink blockSize so corpus/(blockSize·4) far exceeds both
    // defaultParallelism and nLists, and watch the widest submitted
    // stage. With blockSize=64 on the 50k corpus the chunk stage must
    // run ≥ 196 tasks while nLists stays 64 — a width no
    // cluster-keyed shuffle could reach.
    val maxStage = new java.util.concurrent.atomic.AtomicInteger(0)
    val widthListener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted)
          : Unit = {
        maxStage.getAndUpdate(m => math.max(m, s.stageInfo.numTasks)); ()
      }
    }
    spark.sparkContext.addSparkListener(widthListener)
    t("exactCosinePairs 50k clustered, blockSize=64 (width probe)") {
      println("pairs: " + graft.operators.Similarity
        .exactCosinePairs(cp, "v", "id", threshold = 0.8, nLists = 64,
          blockSize = 64)
        .count())
    }
    spark.sparkContext.removeSparkListener(widthListener)
    val width = maxStage.get()
    println(s"widest stage: $width tasks (nLists=64, " +
      s"defaultParallelism=${spark.sparkContext.defaultParallelism}) — " +
      (if (width > 64) "chunk build scales with corpus/blockSize, PASS"
       else "FAIL: chunk build still cluster-bound"))
    spark.stop()
  }

  /** Incremental-maintenance stress: 100k-doc indexed corpus (the
    * stressDedup replica fixture), 5k-doc arriving batch (one more
    * replica). Measures probing the corpus band index with just the
    * batch vs re-running all-pairs dedup over corpus+batch — the
    * claim at stake is that per-ingest cost scales with the batch.
    */
  def stressIncremental(): Unit = {
    val spark = GraftSession.build("profile-incr")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = Tables.documents(spark, d).select("doc_id", "text")
    val n = base.agg(max("doc_id")).head().getLong(0) + 1
    val corpus = (0 until 20).map { r =>
      base.select((col("doc_id") + lit(r) * n).as("doc_id"),
        concat(col("text"), lit(s" replica$r")).as("text"))
    }.reduce(_ unionByName _)
    corpus.write.mode("overwrite").parquet("/tmp/incr_corpus")
    // A REALISTIC ingest batch: a small slice (500 docs) near-dups
    // corpus members, the rest (4500) is novel text over a disjoint
    // vocabulary — so the pair count stays modest and the measurement
    // isolates the CORPUS-SIDE cost, which is what the persisted index
    // removes. (The old all-replica batch made every batch doc pair
    // with 20+ corpus docs, so exact-verification of 110k pairs
    // dominated both paths equally and hid the difference.)
    val batchDup = base.filter(col("doc_id") < 500)
      .select((col("doc_id") + lit(21) * n).as("doc_id"),
        concat(col("text"), lit(" tweaked")).as("text"))
    val batchNovel = spark.range(4500)
      .select((col("id") + lit(22) * n).as("doc_id"),
        concat_ws(" ", (0 until 30).map(i =>
          concat(lit("zz"), md5(concat(col("id").cast("string"),
            lit(s"-$i"))))): _*).as("text"))
    batchDup.unionByName(batchNovel)
      .write.mode("overwrite").parquet("/tmp/incr_batch")
    val c = spark.read.parquet("/tmp/incr_corpus")
    val b = spark.read.parquet("/tmp/incr_batch")
    println(s"corpus=${c.count()} batch=${b.count()}")
    // The round-8 ladder, worst to best per-ingest cost at a fixed
    // corpus: full re-dedup (all signatures, all pairs) > ad-hoc
    // incremental (corpus signatures recomputed per ingest) >
    // persisted-index probe (batch signatures only + stored-index
    // scan). The index build is the amortized one-time cost, and the
    // "corpus signatures alone" row is exactly the component the index
    // deletes from every subsequent ingest.
    val root = "/tmp/incr_index"
    def rmRf(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    rmRf(java.nio.file.Paths.get(root))
    t("index build (one-time, corpus-sized)") {
      graft.operators.NearDupIndex.ingest(spark, root, c,
        "text", "doc_id", "base")
    }
    t("persisted-index probe (steady state)") {
      println("cross pairs: " + graft.operators.NearDupIndex
        .probe(spark, root, b, "text", "doc_id", threshold = 0.5).count())
    }
    t("append batch as epoch e1") {
      graft.operators.NearDupIndex.ingest(spark, root, b,
        "text", "doc_id", "e1")
    }
    t("corpus signatures alone (the recompute the index deletes)") {
      Dedup.minhashSignatures(
        Dedup.shingleRows(c, "text", "doc_id", 3), 64).count()
    }
    t("ad-hoc incremental (corpus recomputed)") {
      println("cross pairs: " + Dedup.incrementalNearDups(c, b,
        "text", "doc_id", shingleSize = 3, numHashes = 64, bands = 16,
        threshold = 0.5).count())
    }
    t("full re-dedup (corpus+batch)") {
      println("all pairs: " + Dedup.minhashNearDups(c.unionByName(b),
        "text", "doc_id", shingleSize = 3, numHashes = 64, bands = 16,
        threshold = 0.5).count())
    }
    spark.stop()
  }

  /** Power-law-vocabulary fixture + PPJoin validation: the synthetic
    * documents table has a tiny UNIFORM vocabulary (where the plain
    * postings join wins — measured in DedupSpec/q25), so this builds a
    * Zipf(s≈1) corpus — rank r drawn as ⌈V^u⌉, the natural-language
    * shape — and measures the plain inverted-index join vs PPJoin
    * prefix filtering on it: candidate rows, Σdf² (the plain join's
    * exact pair-row count), end-to-end seconds, and result equality.
    */
  def stressZipf(): Unit = {
    val spark = GraftSession.build("profile-zipf")
    import org.apache.spark.sql.expressions.Window
    // vocab 3000 ≈ a natural stopword-dense head (hottest bigram lands
    // in ~1.5% of all postings, like "of the" in English)
    val nDocs = 3000L; val len = 50L; val vocab = 3000.0
    // twin structure: doc and doc+nDocs/2 share a token stream (near-
    // dup pairs exist); odd tail token makes them near, not exact
    val toks = spark.range(nDocs * len).select(
        (col("id") / len).cast("long").as("doc"),
        (col("id") % len).as("p"))
      .withColumn("seed", col("doc") % (nDocs / 2))
      .withColumn("u",
        (pmod(xxhash64(col("seed"), col("p")), lit(1000000L)) + 0.5)
          / 1000000.0)
      .withColumn("t",
        concat(lit("w"), ceil(pow(lit(vocab), col("u"))).cast("long")))
    val docs = toks
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc").orderBy("p")))
      .groupBy("doc")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("p"), col("t")))),
        x => x("t"))).as("text"))
      .withColumn("text",
        when(col("doc") >= nDocs / 2,
          concat(col("text"), lit(" tail"), col("doc"))).otherwise(col("text")))
    docs.write.mode("overwrite").parquet("/tmp/zipf_docs")
    val z = spark.read.parquet("/tmp/zipf_docs")
    println(s"zipf corpus: ${z.count()} docs")

    val inv = Dedup.shingleRows(z, "text", "doc", 2).localCheckpoint(true)
    val shape = inv.groupBy("g").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * col("df")).as("sumDf2"), sum("df").as("n"),
        max("df").as("maxDf")).head()
    println(s"postings n=${shape.getLong(1)} sumDf2=${shape.getLong(0)} " +
      s"maxDf=${shape.getLong(2)} prefixPays=${Dedup.prefixFilterPays(inv)}")

    val nPlainCand = t("plain candidate rows") {
      inv.alias("l").join(inv.alias("r"),
        col("l.g") === col("r.g") && col("l.id") < col("r.id"))
        .count()
    }
    val nPrefix = t("plain full run") {
      Dedup.ngramJaccardPairs(z, "text", "doc", 2, 0.5).count()
    }
    val nPref = t("prefix full run") {
      Dedup.ngramJaccardPairsPrefix(z, "text", "doc", 2, 0.5).count()
    }
    println(s"plain candidates=$nPlainCand plainPairs=$nPrefix " +
      s"prefixPairs=$nPref equal=${nPrefix == nPref}")

    // containment (one-sided prefix): same corpus, same dispatch story
    val nContPlain = t("containment plain full run") {
      Dedup.ngramContainmentPairs(z, "text", "doc", 2, 0.8).count()
    }
    val nContPref = t("containment prefix full run") {
      Dedup.ngramContainmentPairsPrefix(z, "text", "doc", 2, 0.8).count()
    }
    println(s"containment plain=$nContPlain prefix=$nContPref " +
      s"equal=${nContPlain == nContPref}")

    // the uniform corpus for contrast: prefix must NOT pay there
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val uinv = Dedup.shingleRows(
      Tables.documents(spark, d), "text", "doc_id", 3).localCheckpoint(true)
    val ushape = uinv.groupBy("g").agg(count(lit(1)).as("df"))
      .agg(sum(col("df") * col("df")).as("sumDf2"), sum("df").as("n"))
      .head()
    println(s"uniform postings n=${ushape.getLong(1)} " +
      s"sumDf2=${ushape.getLong(0)} " +
      s"prefixPays=${Dedup.prefixFilterPays(uinv)}")
    t("uniform plain") {
      Dedup.ngramJaccardPairs(Tables.documents(spark, d),
        "text", "doc_id", 3, 0.5).count()
    }
    t("uniform prefix") {
      Dedup.ngramJaccardPairsPrefix(Tables.documents(spark, d),
        "text", "doc_id", 3, 0.5).count()
    }
    spark.stop()
  }

  /** Print formatted physical plans for the named queries (or all). */
  def explainQueries(args: Array[String]): Unit = {
    val spark = GraftSession.build("profile-explain")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"========== $n ==========")
      try graft.SparkEntry.queries(n)(spark, d).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }

  /** Run the whole query set twice in one session: pass 1 = cold
    * (JIT + codegen compile), pass 2 = warm floor.
    */
  def allQueries(): Unit = {
    val spark = GraftSession.build("profile-all")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    (1 to 2).foreach { pass =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
        t(s"p$pass $n") { fn(spark, d).count() }
      }
      println(f"[profile] PASS $pass TOTAL ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    spark.stop()
  }

  /** Job-level attribution of queries (r16 optimization round):
    * a listener records every job's wall span + description; the gap
    * between summed job time and query wall time is driver-side work
    * (manifest IO, file moves, planning). Warm run only — each query
    * runs `reps` times and the LAST run is attributed, so JIT/codegen
    * of the first run never pollutes the profile. Several queries may
    * be profiled in one JVM (comma list) — each gets its own warm-up,
    * listener window and sampler.
    * runMain graft.tools.Profile jobprof q332_mor_update[,q320_...] [reps]
    */
  def jobProf(args: Array[String]): Unit = {
    val spark = GraftSession.build("profile-jobs")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    names.foreach { name =>
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = scala.collection.concurrent.TrieMap
      .empty[Int, (Double, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // attribute via the result stage's callsite: first graft.*
        // frame of the long-form details, else the short name
        val si = e.stageInfos.lastOption
        val graftFrame = si.flatMap(_.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("Profile")))
          .map(_.trim.stripPrefix("at "))
        val desc = graftFrame
          .orElse(si.map(_.name))
          .getOrElse("?")
        jobs.put(e.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach { case (t0, desc) =>
          done.put(e.jobId, ((System.nanoTime() - t0) / 1e9, desc))
        }
      }
    }
    (1 until reps).foreach { i =>
      t(s"$name warm$i") { graft.SparkEntry.queries(name)(spark, d).count() }
    }
    spark.sparkContext.addSparkListener(listener)
    // Poor-man's driver profiler: sample the query thread every 10 ms
    // and aggregate the deepest graft.* frame (else the top frame) —
    // attributes the driver gap to actual code sites.
    val qThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val st = qThread.getStackTrace
        if (st.nonEmpty) {
          val g = st.find(f => f.getClassName.startsWith("graft."))
            .map(f => s"${f.getClassName}.${f.getMethodName}:${f.getLineNumber}")
          val top = st.head
          val key = g.getOrElse(s"${top.getClassName}.${top.getMethodName}")
          samples.computeIfAbsent(key,
            _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, d).count()
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    // drain BEFORE removing the listener: onJobEnd events still queued
    // for the final jobs would otherwise be dropped, deleting those
    // jobs from the table and inflating the reported driverGap
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    val rows = done.toSeq.sortBy(_._1)
    println(f"[jobprof] $name wall=$wall%.3fs jobs=${rows.size} jobSum=${rows.map(_._2._1).sum}%.3fs driverGap=${wall - rows.map(_._2._1).sum}%.3fs")
    rows.foreach { case (id, (sec, desc)) =>
      println(f"[jobprof]   job$id%-5d $sec%7.3fs  ${desc.take(110)}")
    }
    import scala.jdk.CollectionConverters._
    val tot = samples.values.asScala.map(_.get).sum.toDouble.max(1)
    samples.asScala.toSeq.sortBy(-_._2.get).take(30).foreach {
      case (k, n) =>
        println(f"[jobprof] drv ${n.get * 100 / tot}%5.1f%% (${n.get}%4d) $k")
    }
    }
    spark.stop()
  }

  /** Time individual SparkEntry queries repeatedly:
    * runMain graft.tools.Profile queries q24_simhash_neardup 3
    */
  def profileQueries(args: Array[String]): Unit = {
    val spark = GraftSession.build("profile-q")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    (1 to reps).foreach { i =>
      t(s"$name run$i") { graft.SparkEntry.queries(name)(spark, d).count() }
    }
    spark.stop()
  }

  /** Per-stage timing of the q77 corpus-pipeline capstone (perf audit
    * for the r8 bench regression). */
  def stage77(): Unit = {
    val spark = GraftSession.build("stage77")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    (1 to 2).foreach { round =>
      val docs = Tables.documents(spark, d)
      // Each stage is localCheckpoint-materialized so downstream stage
      // timings never re-execute upstream work: segment times ADD UP
      // to an attribution of the full pipeline.
      val repA = TextFunctions.repetitionScoreAgg(docs, "text", "doc_id")
        .select(col("doc_id"), col("repetition"))
      t(s"r$round gateA join-no-qs") {
        docs.filter(col("doc_id") >= 5)
          .join(repA, "doc_id")
          .filter(col("repetition") <= 0.5).count()
      }
      t(s"r$round gateB qs-no-join") {
        docs.filter(col("doc_id") >= 5)
          .filter(TextFunctions.qualityScore(col("text")) >= 0.5).count()
      }
      t(s"r$round gateC qs+join") {
        docs.filter(col("doc_id") >= 5)
          .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
          .join(repA, "doc_id")
          .filter(col("repetition") <= 0.5).count()
      }
      val corpus = t(s"r$round seg1 gate") {
        val rep = TextFunctions.repetitionScoreAgg(docs, "text", "doc_id")
          .select(col("doc_id"), col("repetition"))
        docs.filter(col("doc_id") >= 5)
          .filter(TextFunctions.qualityScore(col("text")) >= 0.5)
          .join(rep, "doc_id")
          .filter(col("repetition") <= 0.5)
          .localCheckpoint(true)
      }
      val pairs = t(s"r$round seg2 pair graph") {
        val p = Dedup.minhashNearDupsCached(docs, d, "text", "doc_id",
          shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
        p.count(); p
      }
      val losers = graft.operators.Components
        .connectedComponentsCached(pairs, s"minhash05|$d")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      val deduped = t(s"r$round seg3 anti-join") {
        corpus.join(losers, Seq("doc_id"), "left_anti").localCheckpoint(true)
      }
      val contaminated = t(s"r$round seg4 contamination") {
        val bench4 = Dedup.shingleRowsRaw(
          docs.filter(col("doc_id") < 5), "text", "doc_id", n = 4)
          .select(col("g")).distinct()
        val corpus4 = Dedup.shingleRowsRaw(
          docs.filter(col("doc_id") >= 5), "text", "doc_id", n = 4)
          .select(col("id").as("doc_id"), col("g"))
        corpus4.join(bench4, "g").select("doc_id").distinct()
          .localCheckpoint(true)
      }
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      t(s"r$round seg5 split+pack") {
        val train = graft.operators.WeightedSample
          .splitAssign(clean, "doc_id")
          .filter(col("split") === "train")
          .select(col("source"), col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_tok"))
        graft.operators.SequencePack
          .pack(train, "source", "doc_id", "n_tok", budget = 2048)
          .count()
      }
      t(s"r$round FULL q77") {
        graft.SparkEntry.queries("q77_corpus_pipeline")(spark, d).count()
      }
    }
    spark.stop()
  }
}
