package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.runner.PipelineRunner
import graft.runner.PipelineRunner.RunContext
import graft.sinks.MergeWriter
import graft.models.StarModels
import graft.Fixtures._

class MergeWriterSpec extends SparkSpec {
  import spark.implicits._

  test("merge inserts new keys and updates colliding keys; idempotent re-run") {
    val dir = tmpDir("merge") + "/t"
    val v1 = Seq(("a", 1, "x"), ("b", 2, "x")).toDF("k", "v", "tag")
    MergeWriter.merge(spark, dir, v1, Seq("k"))
    assert(spark.read.parquet(dir).count() === 2)

    val v2 = Seq(("b", 20, "y"), ("c", 3, "y")).toDF("k", "v", "tag")
    MergeWriter.merge(spark, dir, v2, Seq("k"))
    val out = spark.read.parquet(dir).orderBy("k").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    assert(out(1).getInt(1) === 20) // b updated
    // idempotent re-run: same state
    MergeWriter.merge(spark, dir, v2, Seq("k"))
    assert(spark.read.parquet(dir).count() === 3)
    assert(spark.read.parquet(dir).filter($"k" === "b").head.getInt(1) === 20)
  }

  test("partitioned merge rewrites only touched partitions") {
    val dir = tmpDir("mergep") + "/t"
    val v1 = Seq(("a", 1, "p1"), ("b", 2, "p2")).toDF("k", "v", "pt")
    MergeWriter.merge(spark, dir, v1, Seq("k"), Seq("pt"))
    def filesIn(part: String) =
      new java.io.File(s"$dir/pt=$part").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val p1Before = filesIn("p1")

    val v2 = Seq(("b", 20, "p2"), ("c", 3, "p3")).toDF("k", "v", "pt")
    MergeWriter.merge(spark, dir, v2, Seq("k"), Seq("pt"))
    val out = spark.read.parquet(dir)
    assert(out.count() === 3)
    assert(out.filter($"k" === "b").head.getAs[Int]("v") === 20)
    assert(out.filter($"k" === "a").head.getAs[Int]("v") === 1)
    assert(out.filter($"k" === "c").head.getAs[Int]("v") === 3) // new partition
    // untouched partition p1 was not rewritten: same physical files
    assert(filesIn("p1") === p1Before)
  }

  test("partitioned merge + SyncAllColumns: only touched partitions " +
    "rewritten with the widened schema; mergeSchema read unions both") {
    val dir = tmpDir("mergepevolve") + "/t"
    val v1 = Seq(("a", 1, "p1"), ("b", 2, "p2")).toDF("k", "v", "pt")
    MergeWriter.merge(spark, dir, v1, Seq("k"), Seq("pt"))
    def filesIn(part: String) =
      new java.io.File(s"$dir/pt=$part").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val p1Before = filesIn("p1")

    // updates touch p2 only, ADD `note`
    val evolved = Seq(("b", 20, "p2", "fresh")).toDF("k", "v", "pt", "note")
    MergeWriter.merge(spark, dir, evolved, Seq("k"), Seq("pt"),
      schemaMode = MergeWriter.SchemaMode.SyncAllColumns)

    assert(filesIn("p1") === p1Before) // untouched partition not rewritten
    val out = spark.read.option("mergeSchema", "true").parquet(dir)
    val byK = out.collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(byK("b").getAs[Int]("v") === 20)
    assert(byK("b").getAs[String]("note") === "fresh")
    assert(byK("a").getAs[Int]("v") === 1)
    assert(byK("a").getAs[String]("note") === null) // old-schema partition
  }

  test("schema drift fails loudly in Strict mode (no silent column drop)") {
    val dir = tmpDir("mergestrict") + "/t"
    MergeWriter.merge(spark, dir,
      Seq(("a", 1)).toDF("k", "v"), Seq("k"))
    val drifted = Seq(("a", 2, "extra")).toDF("k", "v", "note")
    val err = intercept[IllegalArgumentException] {
      MergeWriter.merge(spark, dir, drifted, Seq("k"))
    }
    assert(err.getMessage.contains("note"))
    // target untouched by the failed merge
    assert(spark.read.parquet(dir).columns.toSeq === Seq("k", "v"))
    assert(spark.read.parquet(dir).head.getInt(1) === 1)
  }

  test("SyncAllColumns evolves the target: new columns added " +
    "null-backfilled, removed columns null-filled; idempotent re-run") {
    val dir = tmpDir("mergeevolve") + "/t"
    MergeWriter.merge(spark, dir,
      Seq(("a", 1, "keepme"), ("b", 2, "old")).toDF("k", "v", "legacy"),
      Seq("k"))

    // updates ADD `note`, DROP `legacy`
    val evolved = Seq(("b", 20, "fresh"), ("c", 3, "new")).toDF("k", "v", "note")
    MergeWriter.merge(spark, dir, evolved, Seq("k"),
      schemaMode = MergeWriter.SchemaMode.SyncAllColumns)

    val out = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(out.columns.sorted.toSeq === Seq("k", "legacy", "note", "v"))
    val byK = out.collect().map(r => r.getAs[String]("k") -> r).toMap
    assert(byK.keySet === Set("a", "b", "c"))
    assert(byK("a").getAs[String]("legacy") === "keepme") // untouched row keeps old col
    assert(byK("a").getAs[String]("note") === null)       // new col backfilled null
    assert(byK("b").getAs[Int]("v") === 20)               // updated
    assert(byK("b").getAs[String]("legacy") === null)     // dropped col null-filled
    assert(byK("b").getAs[String]("note") === "fresh")
    assert(byK("c").getAs[String]("note") === "new")

    // idempotent re-run with the evolved schema
    MergeWriter.merge(spark, dir, evolved, Seq("k"),
      schemaMode = MergeWriter.SchemaMode.SyncAllColumns)
    assert(spark.read.option("mergeSchema", "true").parquet(dir).count() === 3)
  }
}

class StarModelsSpec extends SparkSpec {

  private def warehouse = {
    val staged = graft.operators.Cleaning.clean(
      graft.operators.Flatten.flattenResponses(standardBatch(spark), "b1"))
    staged.withColumn("loaded_at", current_timestamp())
  }

  test("dim/fact keys agree (shared locationKey) and schema tests pass") {
    val dimLoc = StarModels.dimLocation(warehouse)
    val dimDt = StarModels.dimDate(warehouse)
    val fact = StarModels.factWeatherHourly(warehouse)
    assert(dimLoc.count() === 3)
    assert(dimDt.count() === 1)
    assert(fact.count() === 9)
    assert(StarModels.runSchemaTests(dimLoc, dimDt, fact).isEmpty)
  }

  test("fused schema tests report the same violations as the per-test form") {
    val dimLoc = StarModels.dimLocation(warehouse)
    val dimDt = StarModels.dimDate(warehouse)
    // orphan location keys + a null ts: two distinct failing tests
    val bad = StarModels.factWeatherHourly(warehouse)
      .withColumn("location_id", lit("deadbeef"))
      .withColumn("ts_utc",
        when(col("relative_humidity_pct") % 2 === 0, col("ts_utc")))
    // the per-test form, one count job per test
    val slow = Map(
      "dim_location.location_id.not_null" ->
        StarModels.notNullViolations(dimLoc, "location_id"),
      "dim_location.location_id.unique" ->
        StarModels.uniqueViolations(dimLoc, "location_id"),
      "dim_location.city.not_null" ->
        StarModels.notNullViolations(dimLoc, "city"),
      "dim_location.latitude.not_null" ->
        StarModels.notNullViolations(dimLoc, "latitude"),
      "dim_location.longitude.not_null" ->
        StarModels.notNullViolations(dimLoc, "longitude"),
      "dim_date.date_id.not_null" ->
        StarModels.notNullViolations(dimDt, "date_id"),
      "dim_date.date_id.unique" ->
        StarModels.uniqueViolations(dimDt, "date_id"),
      "fact.location_id.not_null" ->
        StarModels.notNullViolations(bad, "location_id"),
      "fact.date_id.not_null" -> StarModels.notNullViolations(bad, "date_id"),
      "fact.ts_utc.not_null" -> StarModels.notNullViolations(bad, "ts_utc"),
      "fact.temperature_c.not_null" ->
        StarModels.notNullViolations(bad, "temperature_c"),
      "fact.location_id.relationships" -> StarModels.relationshipViolations(
        bad, "location_id", dimLoc, "location_id"),
      "fact.date_id.relationships" -> StarModels.relationshipViolations(
        bad, "date_id", dimDt, "date_id")).filter(_._2 > 0)
    val fused = StarModels.runSchemaTests(dimLoc, dimDt, bad).toMap
    assert(fused === slow)
    assert(fused.contains("fact.location_id.relationships"))
    assert(fused.contains("fact.ts_utc.not_null"))
  }

  test("dim_date ISO parts: 2026-08-01 is a Saturday -> isodow 6") {
    val dimDt = StarModels.dimDate(warehouse).collect()
    assert(dimDt.head.getAs[Int]("iso_day_of_week") === 6)
    assert(dimDt.head.getAs[Int]("iso_week") === 31)
    assert(dimDt.head.getAs[Int]("month") === 8)
    assert(dimDt.head.getAs[Int]("year") === 2026)
  }

  test("relationships test catches an orphan fact key") {
    val dimLoc = StarModels.dimLocation(warehouse)
    val orphan = StarModels.factWeatherHourly(warehouse)
      .withColumn("location_id", lit("deadbeef"))
    assert(StarModels.relationshipViolations(
      orphan, "location_id", dimLoc, "location_id") === 9)
  }
}

class PipelineSpec extends SparkSpec {

  test("end-to-end run: raw -> staging -> quality -> warehouse -> models; idempotent") {
    val work = tmpDir("pipe")
    val ctx = RunContext("b1", work)
    standardBatch(spark).write.mode(SaveMode.Overwrite).parquet(ctx.rawPath)

    val report = PipelineRunner.run(spark, ctx)
    assert(report.passed)
    assert(spark.read.parquet(ctx.warehousePath).count() === 9)
    assert(spark.read.parquet(s"$work/fact_weather_hourly").count() === 9)

    // re-run same batch: upsert keeps row count stable (idempotency is a
    // core reference guarantee — SURVEY §2.7)
    PipelineRunner.run(spark, ctx)
    assert(spark.read.parquet(ctx.warehousePath).count() === 9)
    assert(spark.read.parquet(ctx.reportPath).count() === 2)
  }

  test("staging materializes as a VIEW (zero-copy over the warehouse), " +
    "marts as TABLES (dbt materialization parity)") {
    val work = tmpDir("pipemat")
    val ctx = RunContext("b1", work)
    standardBatch(spark).write.mode(SaveMode.Overwrite).parquet(ctx.rawPath)
    PipelineRunner.run(spark, ctx)

    // staging: a catalog view, not a physical copy
    assert(spark.catalog.tableExists("stg_weather_hourly"))
    assert(spark.table("stg_weather_hourly").count() === 9)
    assert(!new java.io.File(s"$work/stg_weather_hourly").exists())
    // marts: physical parquet tables
    assert(new java.io.File(s"$work/fact_weather_hourly").isDirectory)
    assert(new java.io.File(s"$work/dim_location").isDirectory)

    // zero-copy: after an external warehouse write, re-issuing the
    // view DDL (what a dbt view "run" is — no data movement) surfaces
    // the new rows; no mart rebuild, no staging rewrite
    val extra = spark.table("stg_weather_hourly").limit(1)
      .withColumn("city", lit("Xtown"))
    extra.write.partitionBy("dt").mode(SaveMode.Append)
      .parquet(ctx.warehousePath)
    assert(PipelineRunner.refreshStagingView(spark, ctx).count() === 10)
    assert(!new java.io.File(s"$work/stg_weather_hourly").exists())
  }

  test("quality report persists parquet_path, JSON counts, and details " +
    "(staging_schema.sql field parity)") {
    val work = tmpDir("pipereport")
    val ctx = RunContext("b1", work)
    standardBatch(spark).write.mode(SaveMode.Overwrite).parquet(ctx.rawPath)
    PipelineRunner.run(spark, ctx)

    val rep = spark.read.parquet(ctx.reportPath).head()
    assert(rep.schema.fieldNames.toSet === Set("check_run_id", "batch_id",
      "parquet_path", "status", "total_rows", "duplicate_rows",
      "null_violations", "range_violations", "details", "checked_at"))
    assert(rep.getAs[String]("parquet_path") === ctx.stagingParquet)
    // full counts persisted, zeros included (checks.py:117-121)
    val nulls = rep.getAs[String]("null_violations")
    assert(nulls.contains("\"temperature_c\": 0"))
    val details = rep.getAs[String]("details")
    assert(details.contains("\"null_counts\""))
    assert(details.contains("\"duplicate_rows\": 0"))
    assert(details.contains("\"range_violations\""))
  }

  test("withRetries sleeps the configured delay between attempts " +
    "(reference retry_delay parity)") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val out = PipelineRunner.withRetries("flaky", retries = 2,
      retryDelayMs = 123L, sleeper = sleeps.append(_)) {
      calls += 1
      if (calls < 3) sys.error(s"transient $calls")
      "ok"
    }
    assert(out === "ok")
    assert(calls === 3)
    assert(sleeps.toSeq === Seq(123L, 123L))

    // exhausted retries surface as StageFailure, with the delay having
    // been applied between every attempt pair
    sleeps.clear()
    intercept[PipelineRunner.StageFailure] {
      PipelineRunner.withRetries("dead", retries = 2,
        retryDelayMs = 77L, sleeper = sleeps.append(_)) {
        sys.error("always")
      }
    }
    assert(sleeps.toSeq === Seq(77L, 77L))
  }

  test("quality FAIL aborts before load (C4 fail-fast)") {
    val work = tmpDir("pipefail")
    val ctx = RunContext("b2", work)
    val bad = rawDf(spark, Seq(rawRow("Hot", 0, 0, 200,
      payloadJson(Seq("2026-08-01T00:00"), Seq(120.0), Seq(50L), Seq(0.0), Seq(5.0)),
      batchId = "b2")))
    bad.write.mode(SaveMode.Overwrite).parquet(ctx.rawPath)
    intercept[PipelineRunner.StageFailure] { PipelineRunner.run(spark, ctx) }
    // report persisted, warehouse never written
    assert(spark.read.parquet(ctx.reportPath)
      .filter(col("status") === "FAIL").count() === 1)
    assert(!new java.io.File(ctx.warehousePath).exists())
  }
}
