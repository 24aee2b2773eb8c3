package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.functions.KmvSketch
import graft.models.StarModels
import graft.operators.{Cleaning, Flatten, Quality}
import graft.runner.PipelineRunner
import graft.sinks.MergeWriter

/** `etl_daily`: each op lands one raw batch of Open-Meteo-shaped
  * struct-of-arrays payloads (50 cities × a rolling 7-day hourly
  * window, so 6 of each batch's 7 days upsert rows that exist) and runs
  * the daily pipeline over it; a dashboard then reads the newest days of
  * the fresh fact mart — totals, and distinct readings through graft's
  * KMV sketch — and repeats those reads.
  *
  * Model: batch b covers days b..b+6 and every value is a hash of
  * (seed, city, hour, batch). After batches 0..B the warehouse holds
  * days 0..B+6, and the row of day d comes from batch min(d, B).
  */
final class EtlDaily(spark: SparkSession, seed: Long) extends Workload {
  import EtlDaily._

  private var dir: Path = _
  private var nextBatch = 0
  private var retries = 0L
  private var stagedBytes = 0L

  // the first measured op still ran a JIT-cold pipeline after one
  override def warmupSteps: Int = 2

  private def ctx(b: Int) = PipelineRunner.RunContext(batchId(b), dir.toString,
    retryDelayMs = 0L)

  private val cities: IndexedSeq[(String, Double, Double)] =
    (0 until Cities).map { c =>
      val h = Util.mix(seed, 1000 + c)
      (f"city_$c%02d", Util.below(h, 1600000) / 10000.0 - 80.0,
        Util.below(h >>> 20, 3600000) / 10000.0 - 180.0)
    }

  // values in tenths, all inside the quality gate's ranges
  private def temp10(c: Int, hour: Int, b: Int) =
    Util.below(Util.mix(seed, c, hour, b), 700) - 300
  private def humid(c: Int, hour: Int, b: Int) =
    Util.below(Util.mix(seed, c, hour, b + 7777), 101)
  private def precip10(c: Int, hour: Int, b: Int) =
    Util.below(Util.mix(seed, c, hour, b + 15555), 200)
  private def wind10(c: Int, hour: Int, b: Int) =
    Util.below(Util.mix(seed, c, hour, b + 23333), 600)

  private def rawRows(b: Int): Seq[Row] = cities.zipWithIndex.map {
    case ((name, lat, lon), c) =>
      val hours = (b * 24) until ((b + WindowDays) * 24)
      def arr(f: Int => String) = hours.map(f).mkString("[", ",", "]")
      val payload =
        s"""{"hourly":{"time":${arr(h => "\"" + ts(h) + "\"")},""" +
          s""""temperature_2m":${arr(h => tenths(temp10(c, h, b)))},""" +
          s""""relative_humidity_2m":${arr(h => humid(c, h, b).toString)},""" +
          s""""precipitation":${arr(h => tenths(precip10(c, h, b)))},""" +
          s""""wind_speed_10m":${arr(h => tenths(wind10(c, h, b)))}}}"""
      Row(s"ing-$b-$c", batchId(b), new Timestamp(BaseMs + b * 86400000L),
        "open-meteo", name, lat, lon, Date.valueOf(BaseDay.plusDays(b)),
        Date.valueOf(BaseDay.plusDays(b + WindowDays - 1)), 200, payload,
        payload.length)
  }

  private def land(b: Int): Unit = {
    val rows = rawRows(b)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.rawResponses)
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$dir/raw_responses")
  }

  def seed(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    nextBatch = 0
    retries = 0; stagedBytes = 0
  }

  lazy val inputDigest: String = {
    val dg = new InputDigest
    (0 until 4).foreach(b => rawRows(b).foreach(r => dg.add(r.mkString("|"))))
    dg.hex
  }

  /** Stage calls that `PipelineRunner.run` composes, one span each. */
  private def runStages(sp: Spans, rc: PipelineRunner.RunContext): Quality.QualityReport = {
    // an attempt that throws keeps its count: it was retried (or failed the stage)
    def stage[T](name: String)(body: => T): T =
      PipelineRunner.withRetries(name, retryDelayMs = 0L) {
        retries += 1
        val r = body
        retries -= 1
        r
      }
    val staged = sp("operators.flatten_clean") {
      stage("transform") {
        val raw = spark.read.schema(Schemas.rawResponses).parquet(rc.rawPath)
          .filter(col("batch_id") === rc.batchId)
        Cleaning.clean(Flatten.flattenResponses(raw, rc.batchId))
          .write.mode(SaveMode.Overwrite).parquet(rc.stagingParquet)
        spark.read.parquet(rc.stagingParquet)
      }
    }
    val report = sp("operators.quality") {
      stage("quality")(Quality.checkWeather(staged, rc.batchId))
    }
    if (!report.passed) throw new CheckFailed(s"quality gate failed: $report")
    stagedBytes += Util.dirBytes(java.nio.file.Paths.get(rc.stagingParquet))
    sp("sinks.merge") {
      stage("load") {
        MergeWriter.merge(spark, rc.warehousePath,
          staged.withColumn("loaded_at", current_timestamp())
            .withColumn("dt", to_date(col("ts_utc"))),
          keys = Seq("city", "ts_utc"), partitionColumns = Seq("dt"))
      }
    }
    val (dimLoc, dimDt, fact) = sp("models.build") {
      stage("models") {
        val wh = PipelineRunner.refreshStagingView(spark, rc)
        val out = (StarModels.dimLocation(wh), StarModels.dimDate(wh),
          StarModels.factWeatherHourly(wh))
        out._1.write.mode(SaveMode.Overwrite).parquet(s"$dir/dim_location")
        out._2.write.mode(SaveMode.Overwrite).parquet(s"$dir/dim_date")
        out._3.write.mode(SaveMode.Overwrite).parquet(s"$dir/fact_weather_hourly")
        out
      }
    }
    sp("models.tests") {
      val failures = StarModels.runSchemaTests(dimLoc, dimDt, fact)
      if (failures.nonEmpty) throw new CheckFailed(s"model tests failed: $failures")
    }
    report
  }

  private def dashboard(day: Int): DataFrame =
    spark.read.parquet(s"$dir/fact_weather_hourly")
      .where(col("date_id") === lit(Date.valueOf(BaseDay.plusDays(day))))
      .agg(count(lit(1)), sum(round(col("temperature_c") * 10).cast("long")),
        sum(col("relative_humidity_pct").cast("long")))

  /** Distinct temperature readings of a day; exact, as the KMV sketch
    * holds fewer than [[SketchK]] values (at most 700 exist).
    */
  private def distinctReadings(day: Int): DataFrame =
    spark.read.parquet(s"$dir/fact_weather_hourly")
      .where(col("date_id") === lit(Date.valueOf(BaseDay.plusDays(day))))
      .agg(KmvSketch.distinctEstimate(col("temperature_c"), SketchK))

  private def expectedDistinct(d: Int, last: Int): Long = {
    val b = math.min(d, last)
    (for (c <- 0 until Cities; hr <- d * 24 until (d + 1) * 24) yield temp10(c, hr, b))
      .distinct.size.toLong
  }

  def step(rec: Recorder, sp: Spans): Unit = {
    val b = nextBatch
    land(b)
    nextBatch += 1
    val rc = ctx(b)
    val newest = b + WindowDays - 1
    rec.op(s"etl batch $b") { op =>
      op.addRows(Cities.toLong * WindowDays * 24)
      op.phase("write") {
        if (sp.enabled) runStages(sp, rc)
        else PipelineRunner.run(spark, rc)
      } { report =>
        Check.expect(report.passed, s"quality gate: $report")
        Check.equal(report.totalRows, Cities.toLong * WindowDays * 24, "staged rows")
        checkWarehouse(b)
      }
      // the dashboard reads the newest days of the fresh mart — totals,
      // and distinct readings through graft's KMV sketch — then again
      for (kind <- Seq("read", "reread"); d <- newest - DashboardDays + 1 to newest) {
        op.phase(kind)(sp("sources.scan")(dashboard(d).head())) { r =>
          Check.equal((r.getLong(0), r.getLong(1), r.getLong(2)), expectedDay(d, b),
            s"dashboard $kind of day $d")
        }
        op.phase(kind)(sp("functions.sketch")(distinctReadings(d).head())) { r =>
          Check.equal(r.getLong(0), expectedDistinct(d, b), s"distinct readings $kind of day $d")
        }
      }
    }
  }

  /** (rows, Σ temperature tenths, Σ humidity) of day `d` after batch `last`. */
  private def expectedDay(d: Int, last: Int): (Long, Long, Long) = {
    val b = math.min(d, last)
    var t = 0L; var h = 0L
    for (c <- 0 until Cities; hr <- d * 24 until (d + 1) * 24) {
      t += temp10(c, hr, b); h += humid(c, hr, b)
    }
    (Cities.toLong * 24, t, h)
  }

  /** The warehouse and marts agree with the model after batch `last`. */
  private def checkWarehouse(last: Int): Unit = {
    val days = last + WindowDays
    val byBatch = spark.read.parquet(s"$dir/staging_weather_hourly")
      .groupBy("batch_id")
      .agg(count(lit(1)), sum(round(col("temperature_c") * 10).cast("long")),
        sum(col("relative_humidity_pct").cast("long")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val want = (0 until days).groupBy(d => math.min(d, last)).map { case (b, ds) =>
      val parts = ds.map(expectedDay(_, last))
      batchId(b) -> (parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
    }
    Check.equal(byBatch, want, "warehouse rows by batch")
    val fact = spark.read.parquet(s"$dir/fact_weather_hourly").count()
    Check.equal(fact, Cities.toLong * 24 * days, "fact rows")
    Check.equal(spark.read.parquet(s"$dir/dim_location").count(), Cities.toLong,
      "dim_location rows")
    Check.equal(spark.read.parquet(s"$dir/dim_date").count(), days.toLong,
      "dim_date rows")
  }

  private def martDirs: Seq[Path] =
    Seq("staging_weather_hourly", "dim_location", "dim_date", "fact_weather_hourly")
      .map(dir.resolve)

  def tableRoots: Seq[Path] = martDirs

  def compactBytes(scratch: Path): Long = martDirs.map(p =>
    Util.compactBytes(spark, spark.read.parquet(p.toString), scratch)).sum

  // plain parquet outputs: each keeps exactly its live version
  def filesAndVersions: (Long, Long) =
    (martDirs.map(Util.parquetFiles).sum, martDirs.size.toLong)

  override def layerCounters: Map[String, Double] = Map(
    "runner.retries" -> retries.toDouble)

  /** Bytes the merge wrote ÷ bytes of the staged batches it merged. */
  def mergeWriteAmp(mergeBytesWritten: Long): Double =
    if (stagedBytes == 0) 0.0 else mergeBytesWritten.toDouble / stagedBytes
}

object EtlDaily {
  val Cities = 50
  val WindowDays = 7
  val DashboardDays = 3
  val SketchK = 1024
  val BaseDay: LocalDate = LocalDate.of(2025, 1, 1)
  val BaseMs: Long = BaseDay.toEpochDay * 86400000L

  def batchId(b: Int): String = f"b$b%05d"

  def ts(hour: Int): String =
    BaseDay.plusDays(hour / 24).toString + f"T${hour % 24}%02d:00"

  def tenths(v: Int): String = (BigDecimal(v) / 10).toString
}
