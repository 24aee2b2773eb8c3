package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided testdata tables
  * (`/root/testdata/sf*` — see TESTDATA.md / FIXTURES.md §B).
  *
  * All loads are plain parquet scans: schema comes from the parquet
  * footer (stable across scale factors), filters/projections push down
  * via the normal Catalyst datasource-v2 path. Keep these as the single
  * entry point so scan-level tuning (e.g. nanosecond-timestamp handling)
  * lives in one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema memo per (path, size, mtime): every schemaless
    * `spark.read.parquet` launches a 1-task footer-inference job, and
    * the bench sweep loads these fixed read-only files thousands of
    * times (346 queries × 1-3 tables × warm-up + 2 timed runs). The
    * file-identity key means a hit can only return what re-inference
    * would; a regenerated testdata file moves size/mtime and misses.
    * The value is a session-free StructType, so the memo is safe
    * across sessions/tests in one JVM.
    */
  private val schemaMemo = new FingerprintMemo[
    (String, Long, Long, String),
    org.apache.spark.sql.types.StructType](64)

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val p = java.nio.file.Paths.get(path)
    // the nanos-timestamp legacy conf changes what inference returns
    // for events.ts — it is part of the schema's identity
    val nanosConf = spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse("")
    val key = try {
      (path, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis, nanosConf)
    } catch { case _: Throwable => (path, -1L, -1L, nanosConf) }
    val schema = schemaMemo.getOrElseUpdate(key)(
      SchemaMemoUtil.relaxNullable(spark.read.parquet(path).schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    spark.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has shipped in two physical parquet encodings across
    * testdata generations: INT64 TIMESTAMP(NANOS) (rejected by Spark's
    * vectorized reader → read as raw long nanoseconds via the legacy
    * conf and convert) and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (reads as TIMESTAMP_NTZ). Branch on the
    * footer schema so both arrive as the same session-tz (UTC)
    * TimestampType — sub-microsecond precision is not semantically
    * observable in any query (events are seconds apart; `event_id` is
    * the tiebreaker).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    // NB: session-sticky conf — later reads of OTHER nanos-timestamp
    // parquet in this session also get raw longs. All engine inputs go
    // through Tables.*, so the blast radius is this loader.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, not `/`: float division at epoch-nanos
        // magnitude (~1.7e18, double ulp = 256 ns) rounds before the
        // cast and can be 1 µs off the true floor(ns/1000)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ → instant is wall-clock-preserving under the pinned UTC
        // session tz (Verify/Bench/specs all set it)
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
