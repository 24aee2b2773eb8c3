package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sinks.VersionedTable

/** Round-17 optimization guards.
  *
  * 1. Driver-side footer inference parity: `memoFlatParquet` /
  *    `readLeavesTyped` now infer a uniform version dir's schema from
  *    ONE footer on the driver (ParquetToSparkSchemaConverter) instead
  *    of launching Spark's 1-task inference job. This spec pins
  *    byte-equality of the resulting (nullable-relaxed) schemas
  *    against Spark's own inference across the engine's type surface
  *    — a divergence here would silently misread every versioned
  *    table.
  * 2. The V1-scan plan memo: repeated identical reads of an
  *    identical snapshot reuse the pruned snapshot's logical plan (no
  *    data caching, no executed state); ANY commit, sidecar write or
  *    delete must move the fingerprint and re-plan.
  */
class InferenceParitySpec extends SparkSpec {
  import spark.implicits._

  private def relax(s: org.apache.spark.sql.types.StructType) =
    graft.core.SchemaMemoUtil.relaxNullable(s)

  test("driver footer inference == Spark inference over the type " +
    "surface (flat dir)") {
    val dir = tmpDir("ipar_flat")
    val df = spark.range(3).select(
      col("id"),
      (col("id") * 2).cast("int").as("i32"),
      col("id").cast("double").as("d"),
      col("id").cast("float").as("f"),
      concat(lit("s"), col("id")).as("s"),
      col("id").cast("boolean").as("b"),
      date_add(to_date(lit("2024-01-01")), col("id").cast("int"))
        .as("dt"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("ts"),
      col("id").cast("decimal(12,3)").as("dec"),
      array(col("id"), col("id") + 1).as("arr"),
      map(concat(lit("k"), col("id")), col("id")).as("m"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      encode(concat(lit("b"), col("id")), "UTF-8").as("bin"),
      (col("id") % 3).cast("short").as("i16"),
      (col("id") % 3).cast("byte").as("i8"))
    df.write.parquet(s"$dir/v1")
    val sparkInferred = relax(spark.read.parquet(s"$dir/v1").schema)
    // memoFlatParquet takes the driver path for a flat dir; its
    // explicit read schema must equal Spark's inference exactly
    val viaMemo = VersionedTable.memoFlatParquet(
      spark, Paths.get(s"$dir/v1")).schema
    assert(relax(viaMemo) === sparkInferred)
  }

  test("driver leaves inference == Spark inference on a freshly " +
    "committed partitioned table (recorded types, incl. date/null key)") {
    val root = tmpDir("ipar_part") + "/t"
    val df = Seq(
      (1L, "2024-01-01", "a", 10L),
      (2L, "2024-01-02", "b", 20L),
      (3L, null: String, "a", 30L)
    ).toDF("id", "day", "typ", "v")
    VersionedTable.upsert(spark, root, df, Seq("id"),
      Seq("day", "typ"))
    val m = VersionedTable.readPartitionedManifest(root).get
    val rootP = Paths.get(root)
    val byDir = m.partitions.groupBy(_._2)
    // what the pre-r17 Spark-job path returned: inference with the
    // recorded partition types overriding the value-based guesses
    val recorded = Map(
      "day" -> org.apache.spark.sql.types.StringType,
      "typ" -> org.apache.spark.sql.types.StringType)
    byDir.foreach { case (dn, parts) =>
      val base = rootP.resolve(dn).toString
      val leaves = parts.keys.toSeq.sorted.map(k => s"$base/$k")
      val inferred = relax(org.apache.spark.sql.types.StructType(
        spark.read.option("basePath", base).parquet(leaves: _*).schema
          .map(f => recorded.get(f.name)
            .map(t => f.copy(dataType = t)).getOrElse(f))))
      val typed = VersionedTable.readLeavesTyped(spark, root, base,
        leaves).schema
      assert(relax(typed) === inferred, s"dir $dn leaves $leaves")
    }
    // row content identical through the memoized read
    val got = VersionedTable.readLive(spark, root)
      .select("id", "day", "typ", "v").as[(Long, String, String, Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, "2024-01-01", "a", 10L),
      (2L, "2024-01-02", "b", 20L), (3L, null, "a", 30L)))
  }

  test("driver leaves inference == Spark inference when leaves are " +
    "data FILES (the stat-pruning survivor shape) and flat file lists") {
    val root = tmpDir("ipar_fleaf") + "/t"
    val df = Seq(
      (1L, "2024-01-01", 10L),
      (2L, "2024-01-02", 20L),
      (3L, "2024-01-02", 30L)
    ).toDF("id", "day", "v")
    VersionedTable.upsert(spark, root, df, Seq("id"),
      Seq("day"))
    val m = VersionedTable.readPartitionedManifest(root).get
    val rootP = Paths.get(root)
    val recorded = Map("day" -> org.apache.spark.sql.types.StringType)
    m.partitions.groupBy(_._2).foreach { case (dn, parts) =>
      val base = rootP.resolve(dn)
      // survivor-file leaves: every data file individually, exactly
      // what GraftScanPlanner.pruned passes after footer pruning
      val files = parts.keys.toSeq.sorted.flatMap(k =>
        VersionedTable.dataFilesUnder(base.resolve(k)).map(_.toString))
      assert(files.nonEmpty)
      val inferred = relax(org.apache.spark.sql.types.StructType(
        spark.read.option("basePath", base.toString)
          .parquet(files: _*).schema
          .map(f => recorded.get(f.name)
            .map(t => f.copy(dataType = t)).getOrElse(f))))
      val typed = VersionedTable.readLeavesTyped(spark, root,
        base.toString, files).schema
      assert(relax(typed) === inferred, s"dir $dn files $files")
      // row content identical through the file-leaf read
      val got = VersionedTable.readLeavesTyped(spark, root,
          base.toString, files)
        .select("id", "day", "v").as[(Long, String, Long)]
        .collect().sortBy(_._1)
      assert(got.toSeq === Seq((1L, "2024-01-01", 10L),
        (2L, "2024-01-02", 20L), (3L, "2024-01-02", 30L)))
    }
    // FLAT file list (files directly under base — no partition cols)
    val flatRoot = tmpDir("ipar_fflat") + "/t"
    VersionedTable.append(spark, flatRoot,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val fm = VersionedTable.readManifest(flatRoot).get
    val fbase = Paths.get(flatRoot)
      .resolve(VersionedTable.versionDirName(fm.version))
    val ffiles = VersionedTable.dataFilesUnder(fbase).map(_.toString)
    val finferred = relax(spark.read
      .option("basePath", fbase.toString).parquet(ffiles: _*).schema)
    val ftyped = VersionedTable.readLeavesTyped(spark, flatRoot,
      fbase.toString, ffiles).schema
    assert(relax(ftyped) === finferred)
  }

  test("V1-scan plan memo: identical reads reuse the plan, a commit " +
    "re-plans, results track the table") {
    val root = tmpDir("ipar_memo") + "/t"
    VersionedTable.append(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    def read() = spark.read.format("graft").load(root)
    assert(read().count() === 2L)
    assert(read().count() === 2L) // second read: memo hit, same result
    VersionedTable.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
    // the commit moved the root listing token: stale plan must not serve
    assert(read().count() === 3L)
    assert(read().select(sum("id")).head.getLong(0) === 6L)
    VersionedTable.softDeletePos(spark, root, col("id") === 2L)
    // a pos-delete commit moves the _pos_deletes token
    assert(read().count() === 2L)
    assert(read().select(sum("id")).head.getLong(0) === 4L)
  }

  test("vacuum fold: an intra-mixed untouched set forces a full " +
    "rewrite and the rewrite read merges every generation") {
    val root = tmpDir("ipar_vac") + "/t"
    // Build a MIXED live dir via raw commit: one file {id, a}, one
    // file {id, b} — the shape an old mergeSchema-era fold could have
    // produced. Single-footer inference over it sees one generation.
    VersionedTable.commit(root) { dir =>
      Seq((1L, 10L)).toDF("id", "a").write.parquet(dir + "/_rw1")
      Seq((2L, 20L)).toDF("id", "b").write.parquet(dir + "/_rw2")
      val out = Paths.get(dir)
      def mv(sub: String, name: String): Unit = {
        val d = out.resolve(sub)
        val f = VersionedTable.dataFilesUnder(d).head
        Files.move(f, out.resolve(name))
        VersionedTable.deleteRecursively(d)
      }
      mv("_rw1", "part-mixed-a.parquet")
      mv("_rw2", "part-mixed-b.parquet")
    }
    // delete one row by position so the vacuum has something to fold
    VersionedTable.softDeletePos(spark, root, col("id") === 1L)
    val (_, rewritten) = VersionedTable.vacuumPosDeletes(spark, root)
    // non-uniform untouched set ⇒ full rewrite (both files), and the
    // merged rewrite read must keep BOTH generations' columns
    assert(rewritten === 2)
    val out = VersionedTable.readLive(spark, root)
    assert(out.columns.toSet === Set("id", "a", "b"))
    assert(out.select("id", "b").as[(Long, Option[Long])].collect()
      .toSeq === Seq((2L, Some(20L))))
  }
}
