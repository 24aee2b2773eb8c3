package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The dbt star schema re-expressed as DataFrame model definitions
  * (/root/reference/dbt/models directory): stg passthrough view,
  * dim_location, dim_date, fact_weather_hourly — plus the schema tests
  * (not_null / unique / relationships) as executable assertions.
  *
  * Surrogate-key discipline (SURVEY §7.4 risk 4): dim and fact compute
  * keys through the SAME `locationKey` expression, so float→string
  * rendering can never diverge between models.
  */
object StarModels {

  /** P10: md5 over '|'-joined natural key
    * (/root/reference/dbt/models/analytics/dim_location.sql:10).
    */
  def locationKey(city: Column, lat: Column, lon: Column): Column =
    md5(concat_ws("|", city, lat.cast("string"), lon.cast("string")))

  /** dim_location (/root/reference/dbt/models/analytics/dim_location.sql). */
  def dimLocation(staging: DataFrame): DataFrame =
    staging.select("city", "latitude", "longitude").distinct()
      .select(
        locationKey(col("city"), col("latitude"), col("longitude"))
          .as("location_id"),
        col("city"), col("latitude"), col("longitude"))

  /** dim_date with ISO day-of-week Mon=1..Sun=7
    * (/root/reference/dbt/models/analytics/dim_date.sql:7-13).
    * Spark's dayofweek is Sun=1 — use weekday()+1 (SURVEY §2.2 P12).
    */
  def dimDate(staging: DataFrame): DataFrame =
    staging.select(to_date(col("ts_utc")).as("date_id")).distinct()
      .select(
        col("date_id"),
        (weekday(col("date_id")) + 1).as("iso_day_of_week"),
        weekofyear(col("date_id")).as("iso_week"),
        month(col("date_id")).as("month"),
        year(col("date_id")).as("year"))

  /** fact_weather_hourly
    * (/root/reference/dbt/models/analytics/fact_weather_hourly.sql).
    */
  def factWeatherHourly(staging: DataFrame): DataFrame =
    staging.select(
      locationKey(col("city"), col("latitude"), col("longitude"))
        .as("location_id"),
      col("ts_utc"),
      to_date(col("ts_utc")).as("date_id"),
      col("temperature_c"), col("relative_humidity_pct"),
      col("precipitation_mm"), col("wind_speed_kmh"),
      col("batch_id"), col("source_ingested_at"))

  // -------------------------------------------------------------------
  // dbt schema tests as executable assertions
  // (/root/reference/dbt/models/analytics/schema.yml). Each returns the
  // violation count; the test stage asserts all == 0.
  // -------------------------------------------------------------------

  def notNullViolations(df: DataFrame, column: String): Long =
    df.filter(col(column).isNull).count()

  def uniqueViolations(df: DataFrame, column: String): Long =
    df.groupBy(column).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).count()

  /** `relationships` test: child keys missing from the parent —
    * broadcast anti-join (dims are tiny; SURVEY §2.3 J1).
    */
  def relationshipViolations(child: DataFrame, childKey: String,
                             parent: DataFrame, parentKey: String): Long =
    child.filter(col(childKey).isNotNull)
      .join(broadcast(parent.select(col(parentKey).as(childKey))),
        Seq(childKey), "left_anti")
      .count()

  /** All schema.yml tests for the three models; returns failures as
    * (testName, violationCount) pairs — empty means green. The 13
    * tests run as ONE Spark job: each becomes a 1-row (test_name,
    * violations) aggregate and the union is collected once — 13
    * separate actions would pay the per-job scheduling floor 13 times,
    * which dominates on small dims. The per-test `*Violations`
    * functions count the same thing one test at a time (for debugging
    * one failing test in isolation).
    */
  def runSchemaTests(dimLoc: DataFrame, dimDt: DataFrame,
                     fact: DataFrame): Seq[(String, Long)] = {
    def nn(df: DataFrame, c: String, name: String): DataFrame =
      df.filter(col(c).isNull)
        .agg(count(lit(1)).as("violations"))
        .select(lit(name).as("test_name"), col("violations"))
    def uq(df: DataFrame, c: String, name: String): DataFrame =
      df.groupBy(c).agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
        .agg(count(lit(1)).as("violations"))
        .select(lit(name).as("test_name"), col("violations"))
    def rel(child: DataFrame, ck: String, parent: DataFrame, pk: String,
            name: String): DataFrame =
      child.filter(col(ck).isNotNull)
        .join(broadcast(parent.select(col(pk).as(ck))), Seq(ck), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit(name).as("test_name"), col("violations"))
    val checks = Seq(
      nn(dimLoc, "location_id", "dim_location.location_id.not_null"),
      uq(dimLoc, "location_id", "dim_location.location_id.unique"),
      nn(dimLoc, "city", "dim_location.city.not_null"),
      nn(dimLoc, "latitude", "dim_location.latitude.not_null"),
      nn(dimLoc, "longitude", "dim_location.longitude.not_null"),
      nn(dimDt, "date_id", "dim_date.date_id.not_null"),
      uq(dimDt, "date_id", "dim_date.date_id.unique"),
      nn(fact, "location_id", "fact.location_id.not_null"),
      nn(fact, "date_id", "fact.date_id.not_null"),
      nn(fact, "ts_utc", "fact.ts_utc.not_null"),
      nn(fact, "temperature_c", "fact.temperature_c.not_null"),
      rel(fact, "location_id", dimLoc, "location_id",
        "fact.location_id.relationships"),
      rel(fact, "date_id", dimDt, "date_id", "fact.date_id.relationships"))
    checks.reduce(_ unionByName _)
      .filter(col("violations") > 0)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
  }
}
