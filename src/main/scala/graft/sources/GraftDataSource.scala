package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sinks.VersionedTable

/** DataSource V2 read surface for [[graft.sinks.VersionedTable]] —
  * what turns the table LIBRARY into a table FORMAT: a user writes
  * `spark.read.format("graft").load(root)` (or `CREATE TABLE t USING
  * graft OPTIONS (path ...)` + SQL) and gets the current observable
  * snapshot — live data minus equality AND position deletes — with
  * the manifest/sidecar pruning stack engaged AUTOMATICALLY from the
  * query's own predicates.
  *
  * Planning: [[GraftScanBuilder]] implements
  * `SupportsPushDownFilters` + `SupportsPushDownRequiredColumns`; the
  * pushed eq/interval conjuncts are routed into
  * [[GraftScanPlanner.decide]], the one skip policy (the library's
  * `pruneDecision`/`readLivePruned` run the same step): partition-path
  * equality and version-checked partition bounds (`_part_stats.json`)
  * at level 1, per-file footer-stats sidecars (`_stats.json`:
  * INT/UTF8/DOUBLE bounds) AND per-file bloom sidecars (`_bloom.json`,
  * equality/In probes on exact-typed Long/String literals) at level 2.
  * File skipping is a sound approximation (a file
  * or partition without trusted bounds always scans), so EVERY filter
  * is also returned as residual for Spark to re-evaluate row-level —
  * exactly Iceberg/Delta's contract; `pushedFilters` advertises the
  * conjuncts used for skipping, visible in `explain` as
  * `PushedFilters: [...]`.
  *
  * Execution: the built [[GraftScan]] is a `V1Scan` — planning
  * (pushdown, pruning, options) is fully DSv2, while row production
  * delegates to Spark's own vectorized parquet reader over exactly
  * the surviving files (the JDBC-source migration pattern): zero
  * bespoke decoding in the hot path, whole-stage codegen intact.
  *
  * Options: `versionAsOf` (long) / `ref` (named ref) time-travel to a
  * retained snapshot (raw committed data, no delete masking — the
  * library [[VersionedTable.readVersion]] contract); `withDeletes`
  * (default true) applies merge-on-read delete masking on live reads.
  * Key columns for equality deletes are derived from the delete
  * sub-table's own schema — no option needed.
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  // true so WRITES to a not-yet-existing table work: Spark then hands
  // getTable the dataframe's schema instead of calling inferSchema
  // (which requires a committed manifest)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftScanPlanner
      .observable(SparkSession.active, GraftScanPlanner.opts(options))
      .schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val props = properties.asScala.toMap
    new GraftTable(
      GraftScanPlanner.opts(new CaseInsensitiveStringMap(properties)),
      schema, props)
  }
}

private[graft] class GraftTable(
    private[graft] val opts: GraftScanPlanner.Opts,
    tableSchema: StructType,
    props: Map[String, String] = Map.empty)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String =
    props.getOrElse("__graft_name", s"graft:${opts.root}")
  override def schema(): StructType = tableSchema
  // VALUE equality (the Iceberg SparkTable pattern): every loadTable
  // returns a fresh instance, and plan-level machinery — cache
  // recaching after row-level DML in particular — compares relations
  // via canonicalized equality, which bottoms out in Table.equals.
  // Identity equality would make a cached `SELECT * FROM t` invisible
  // to the UPDATE command's recacheByPlan.
  override def equals(other: Any): Boolean = other match {
    case t: GraftTable =>
      t.opts == opts && t.schema() == tableSchema
    case _ => false
  }
  override def hashCode(): Int = (opts, tableSchema).hashCode()
  // fully native write surface (no V1 fallback): OVERWRITE_DYNAMIC is
  // what lets a clause-less catalog `INSERT OVERWRITE` plan under
  // partitionOverwriteMode=dynamic — that plan has no V1 exec at all
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE)
  override def properties(): java.util.Map[String, String] =
    props.asJava
  /** Catalog-declared partitioning (identity transforms) — surfaces
    * in DESCRIBE and routes catalog INSERTs to the partitioned verbs.
    */
  override def partitioning(): Array[Transform] =
    props.get("partitionColumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty)
        .map(org.apache.spark.sql.connector.expressions.Expressions
          .identity(_)): Array[Transform])
      .getOrElse(Array.empty)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // read options on a CATALOG table (spark.read.option("versionAsOf",
    // …).table("cat.ns.t")) arrive here, not at loadTable — merge them
    // over the table's stored properties so time travel / change feeds
    // work through both spellings. Path-based reads already carried
    // their options in `props`; re-merging identical values is a no-op.
    val merged = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => merged.put(k, v) }
    options.asCaseSensitiveMap().asScala.foreach { case (k, v) =>
      merged.put(k, v) }
    new GraftScanBuilder(
      GraftScanPlanner.opts(new CaseInsensitiveStringMap(merged)),
      tableSchema)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(opts.metadata.isEmpty,
      s"metadata table '${opts.metadata.get}' of ${opts.root} is " +
        "read-only")
    // Update output mode is only safe when the route is a keyed
    // upsert (real per-key updates); accepting it on a keyless table
    // would silently append partial aggregate states — so the
    // update-as-append capability is granted per TABLE SHAPE
    val hasKeys = Option(info.options.get("keys"))
      .orElse(props.get("keys"))
      .exists(_.trim.nonEmpty)
    if (hasKeys) new GraftKeyedWriteBuilder(opts.root, info, props)
    else new GraftWriteBuilder(opts.root, info, props)
  }

  // ---- SQL DELETE FROM … WHERE … ------------------------------------
  // Merge-on-read position deletes (the Iceberg delete-file shape):
  // the predicate is evaluated ONCE against the observable snapshot,
  // matching row addresses land in the pos-delete sub-table, and every
  // subsequent read masks them — no data-file rewrite on the delete
  // path (vacuumPosDeletes folds them later). Sound for arbitrary
  // translatable predicates, not just partition-aligned ones.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    opts.versionAsOf.isEmpty && opts.changes.isEmpty &&
      opts.metadata.isEmpty &&
      filters.forall(f => GraftFilterColumns.translate(f).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(opts.versionAsOf.isEmpty && opts.changes.isEmpty &&
      opts.metadata.isEmpty,
      "DELETE on a time-travel/change-feed/metadata read is not a " +
        "thing — address the live table")
    val spark = SparkSession.active
    val pred = filters.flatMap(GraftFilterColumns.translate)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    if (VersionedTable.snapshotView(opts.root).isDefined)
      VersionedTable.softDeletePos(spark, opts.root, pred)
    // never-committed catalog table: DELETE of nothing is a no-op
    ()
  }
}

/** DSv2 WRITE surface, fully native: planning resolves the mode
  * (append / truncate / overwrite-by-filter / dynamic overwrite),
  * [[GraftWrite]] stages rows through executor-side parquet writers,
  * and the driver-side commit routes the staged batch into the
  * versioned-table commit protocol. Semantics by mode/options:
  *
  *   - append + `keys`        → keyed upsert (merge)
  *   - append (no keys)       → append (duplicates preserved)
  *   - overwrite              → full replace (static), or dynamic
  *     partition overwrite when `partitionOverwriteMode=dynamic`
  *     (option or session conf) and `partitionColumns` given
  *   - overwrite DYNAMIC (clause-less catalog `INSERT OVERWRITE`
  *     under the dynamic session conf — the plan that REQUIRED this
  *     native write, it has no V1 fallback exec) →
  *     [[VersionedTable.overwritePartitions]]
  *   - overwrite BY FILTER (SQL `INSERT OVERWRITE … PARTITION (…)`,
  *     Delta's replaceWhere) → [[VersionedTable.overwriteWhere]] on
  *     flat tables; on partitioned tables the predicate must address
  *     partition columns by equality/IN so the vacated key set is
  *     EXACT, and replacement rows are validated to satisfy it
  *
  * `partitionColumns` (comma list) routes to the partitioned forms;
  * `schemaMode=sync` selects SyncAllColumns evolution on upserts.
  * Option lookup falls back to TABLE properties (catalog tables
  * declare keys/partitionColumns once at CREATE TABLE, not per
  * INSERT).
  */
private[sources] class GraftWriteBuilder(root: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    tableProps: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var mode: GraftNativeWrite.Mode = GraftNativeWrite.Append
  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    mode = GraftNativeWrite.Truncate; this
  }
  override def overwriteDynamicPartitions()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    mode = GraftNativeWrite.DynamicOverwrite; this
  }
  override def overwrite(filters: Array[Filter])
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // AlwaysTrue ≡ truncate; anything else is a predicate backfill
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (real.isEmpty) mode = GraftNativeWrite.Truncate
    else {
      require(real.forall(f =>
        GraftFilterColumns.translate(f).isDefined),
        "INSERT OVERWRITE predicate not translatable to a graft " +
          s"replaceWhere: ${real.mkString(", ")}")
      mode = GraftNativeWrite.OverwriteFilters(real)
    }
    this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new GraftWrite(root, info, tableProps, mode)
}

/** The KEYED builder additionally accepts streaming Update output
  * mode as append — sound only here, because the routed upsert turns
  * each update row into a real per-key update; a keyless table never
  * gets this capability (appended partial aggregate states would
  * silently corrupt reads).
  */
private[sources] class GraftKeyedWriteBuilder(root: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    tableProps: Map[String, String])
    extends GraftWriteBuilder(root, info, tableProps)
    with org.apache.spark.sql.internal.connector
      .SupportsStreamingUpdateAsAppend

private[sources] object GraftWriteBuilder {
  import org.apache.spark.sql.functions.lit

  /** `INSERT OVERWRITE … PARTITION (p=…)` / replaceWhere-by-filter.
    * Flat tables take any translatable predicate
    * ([[VersionedTable.overwriteWhere]] is row-level). Partitioned
    * tables vacate WHOLE partitions, so the predicate must resolve to
    * an exact partition-key set: equality/IN on partition columns
    * only — and on a mid-migration (spec-evolution) table a key
    * missing the filtered column's path segment cannot be classified,
    * so the write fails loudly rather than guessing. Replacement rows
    * are validated against the predicate first (Delta's replaceWhere
    * contract): a row OUTSIDE the vacated set would otherwise land
    * beside surviving old rows as a silent duplicate.
    */
  private[sources] def overwriteByFilter(spark: SparkSession,
      root: String, filters: Array[Filter], rawData: DataFrame,
      parts: Seq[String] = Nil): Unit = {
    val pred = filters.flatMap(GraftFilterColumns.translate)
      .reduceOption(_ && _).getOrElse(lit(true))
    // persist: the validation below and the write both consume this
    // frame — one materialization closes the check-then-write window
    // for non-deterministic inputs and halves expensive ones
    val data = rawData.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val stray = data.filter(!org.apache.spark.sql.functions
      .coalesce(pred, lit(false))).limit(1).count()
    require(stray == 0L,
      s"INSERT OVERWRITE into $root: replacement rows fall outside " +
        s"the overwrite predicate ${filters.mkString(" AND ")} — " +
        "they would survive beside the rows being kept")
    // first write to a declared-but-never-committed table: nothing
    // to vacate, the overwrite degenerates to the initial (validated)
    // insert — the standard idempotent-backfill-from-day-one pattern
    if (VersionedTable.snapshotView(root).isEmpty) {
      VersionedTable.append(spark, root, data, parts)
      return
    }
    VersionedTable.readPartitionedManifest(root) match {
      case Some(m) =>
        val partCols = m.partitionColumns.toSet
        // Spark's static `PARTITION (day = 'x')` arrives as
        // EqualNullSafe (never-null literal equality); a null-safe
        // null addresses the __HIVE_DEFAULT_PARTITION__ key
        require(filters.forall {
          case EqualTo(c, v) =>
            partCols(c) && GraftScanPlanner.pathRenderable(v)
          case EqualNullSafe(c, v) => partCols(c) &&
            (v == null || GraftScanPlanner.pathRenderable(v))
          case In(c, vs) => partCols(c) && vs.nonEmpty &&
            vs.forall(GraftScanPlanner.pathRenderable)
          case _ => false
        }, s"partitioned INSERT OVERWRITE into $root needs " +
          s"equality/IN predicates on partition columns " +
          s"(${m.partitionColumns.mkString(", ")}) with " +
          "path-renderable literals — got " + filters.mkString(", "))
        def filterCol(f: Filter): String = f match {
          case EqualTo(c, _)       => c
          case EqualNullSafe(c, _) => c
          case In(c, _)            => c
          case other => throw new IllegalStateException(
            s"unreachable: $other passed the predicate-shape gate")
        }
        VersionedTable.overwritePartitionsWhere(spark, root, key => {
          val segments = key.split('/').toSet
          filters.map(filterCol).foreach { c =>
            if (!segments.exists(_.startsWith(c + "=")))
              throw new IllegalStateException(
                s"partition key '$key' in $root carries no " +
                  s"'$c=' segment (mid-migration spec evolution): " +
                  "whole-partition overwrite cannot classify it — " +
                  "complete the migration (compactPartitions) first")
          }
          filters.forall(f =>
            GraftScanPlanner.partitionKeyMatches(key, f))
        }, data)
      case None =>
        VersionedTable.overwriteWhere(spark, root, pred, data)
    }
    ()
    } finally { data.unpersist(); () }
  }
}

/** V1 `Filter` → `Column` translation for the write/delete surfaces
  * (DELETE FROM, INSERT OVERWRITE by filter). None = untranslatable —
  * the caller must decline, never approximate.
  */
private[graft] object GraftFilterColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  private def ref(c: String): Column =
    // V1 filter references render nested fields dotted and quote
    // nothing; graft tables are flat, so backtick the whole name
    // (a column literally named "a.b" resolves, nesting would not)
    col(s"`$c`")

  def translate(f: Filter): Option[Column] = f match {
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case EqualTo(c, v)            => Some(ref(c) === lit(v))
    case EqualNullSafe(c, v)      => Some(ref(c) <=> lit(v))
    case GreaterThan(c, v)        => Some(ref(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(ref(c) >= lit(v))
    case LessThan(c, v)           => Some(ref(c) < lit(v))
    case LessThanOrEqual(c, v)    => Some(ref(c) <= lit(v))
    case In(c, vs)                => Some(ref(c).isInCollection(vs.toSeq))
    case IsNull(c)                => Some(ref(c).isNull)
    case IsNotNull(c)             => Some(ref(c).isNotNull)
    case StringStartsWith(c, v)   => Some(ref(c).startsWith(v))
    case StringEndsWith(c, v)     => Some(ref(c).endsWith(v))
    case StringContains(c, v)     => Some(ref(c).contains(v))
    case And(l, r) =>
      for (a <- translate(l); b <- translate(r)) yield a && b
    case Or(l, r) =>
      for (a <- translate(l); b <- translate(r)) yield a || b
    case Not(ch) => translate(ch).map(!_)
    case _ => None
  }
}

private[sources] class GraftScanBuilder(opts: GraftScanPlanner.Opts,
                                        tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[Seq[(org.apache.spark.sql.types.StructField,
    org.apache.spark.sql.Column)]] = None

  /** Metadata-only COUNT(*)/MIN/MAX: an unfiltered, ungrouped
    * aggregate over a table with NO merge-on-read delete sub-tables
    * answers from the sidecar stats — zero data IO (Spark only
    * attempts aggregate pushdown when no post-scan filters remain,
    * and every graft filter is residual, so this fires exactly on
    * bare aggregates). COUNT = sum of per-file row counts; MIN/MAX
    * come from the EXACT integer/floating footer bounds (every live
    * file must carry them — an all-null, NaN-poisoned, or legacy file
    * declines the whole pushdown; truncated STRING bounds are never
    * exact, so string min/max always declines). Declined means the
    * row-level path runs — never a wrong shortcut.
    */
  private def metadataAgg(agg: org.apache.spark.sql.connector
      .expressions.aggregate.Aggregation)
      : Option[Seq[(org.apache.spark.sql.types.StructField,
        org.apache.spark.sql.Column)]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    if (pushed.nonEmpty || opts.versionAsOf.isDefined ||
        opts.changes.isDefined || opts.metadata.isDefined ||
        agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty ||
        (opts.withDeletes && VersionedTable.hasAnyDeletes(opts.root)))
      return None
    val stats = VersionedTable.liveFileStatsAll(opts.root)
      .getOrElse(return None)
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    def bound(name: String, wantMin: Boolean)
        : Option[(StructField, org.apache.spark.sql.Column)] = {
      val f = tableSchema.find(_.name == name).getOrElse(return None)
      if (stats.isEmpty) return None // empty table: SQL null — decline
      val c: Option[org.apache.spark.sql.Column] = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType if stats.forall(_.cols.contains(name)) =>
          val v =
            if (wantMin) stats.map(_.cols(name)._1).min
            else stats.map(_.cols(name)._2).max
          Some(f.dataType match {
            case DateType => lit(java.time.LocalDate.ofEpochDay(v))
            case TimestampType => lit(org.apache.spark.sql.catalyst
              .util.DateTimeUtils.microsToInstant(v))
            case dt => lit(v).cast(dt)
          })
        case FloatType | DoubleType
            if stats.forall(_.dbls.contains(name)) =>
          val v =
            if (wantMin) stats.map(_.dbls(name)._1).min
            else stats.map(_.dbls(name)._2).max
          Some(lit(v).cast(f.dataType))
        case _ => None
      }
      val tag = if (wantMin) "min" else "max"
      c.map(col => (StructField(s"${tag}_$name", f.dataType), col))
    }
    val items = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count_star", LongType, nullable = false),
          lit(stats.map(_.rows).sum)))
      case m: Min => colName(m.column).flatMap(bound(_, wantMin = true))
      case m: Max => colName(m.column).flatMap(bound(_, wantMin = false))
      case _ => None
    }
    if (items.forall(_.isDefined)) Some(items.flatten) else None
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = metadataAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    metadataAgg(agg) match {
      case some @ Some(_) => pushedAgg = some; true
      case None => false
    }

  /** Accept the conjuncts our stats can act on; return ALL filters as
    * residual — file/partition skipping is sound-but-inexact, so the
    * row-level predicate must still run above the scan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // one manifest read for the whole conjunct list, not one per filter
    val partCols = VersionedTable.readPartitionedManifest(opts.root)
      .map(_.partitionColumns.toSet).getOrElse(Set.empty[String])
    pushed = filters.filter(GraftScanPlanner.prunable(partCols, _))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = pushedAgg match {
    case Some(items) => new GraftAggScan(opts, items)
    case None        => new GraftScan(opts, required, pushed)
  }
}

/** The completely-pushed metadata aggregate: one sidecar-derived row,
  * zero files opened.
  */
private[sources] class GraftAggScan(opts: GraftScanPlanner.Opts,
    items: Seq[(org.apache.spark.sql.types.StructField,
      org.apache.spark.sql.Column)]) extends V1Scan {
  private val out = StructType(items.map(_._1))
  override def readSchema(): StructType = out
  override def description(): String =
    s"GraftAggScan root=${opts.root} " +
      items.map(_._1.name).mkString("[", ", ", "]")
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val relation = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = out
      override def toString: String =
        s"GraftTable(${opts.root}) [metadata count]"
      override def buildScan(): RDD[Row] = {
        GraftScanAudit.last = Some(GraftScanAudit.Decision(0, 0, 0, 0,
          Seq("CountStar/MinMax: metadata-only " +
            items.map(_._1.name).mkString(","))))
        context.sparkSession.range(1)
          .select(items.map { case (f, c) => c.as(f.name) }: _*).rdd
      }
    }
    relation.asInstanceOf[T]
  }
}

private[graft] class GraftScan(
    private[graft] val opts: GraftScanPlanner.Opts,
    required: StructType,
    pushed: Array[Filter]) extends V1Scan {
  override def readSchema(): StructType = required
  override def description(): String =
    s"GraftScan root=${opts.root}" +
      opts.versionAsOf.map(v => s" versionAsOf=$v").getOrElse("") +
      s" pushed=${pushed.mkString("[", ", ", "]")}"
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new GraftV1Relation(context, opts, required, pushed).asInstanceOf[T]
}

private[sources] class GraftV1Relation(context: SQLContext,
                                       opts: GraftScanPlanner.Opts,
                                       required: StructType,
                                       pushed: Array[Filter])
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = context
  override def schema: StructType = required
  // the physical plan renders as `Scan <relation.toString> [...]` —
  // name the table, not an object hash
  override def toString: String = s"GraftTable(${opts.root})"
  override def buildScan(): RDD[Row] = {
    // versionAsOf excluded: time travel on a never-committed table
    // must fail loudly (a typo'd version is not an empty snapshot)
    if (opts.emptyOk && opts.versionAsOf.isEmpty &&
        VersionedTable.snapshotView(opts.root).isEmpty) {
      // a created-but-never-written catalog table: its declared
      // schema with zero rows, zero files opened
      GraftScanAudit.last = Some(GraftScanAudit.Decision(0, 0, 0, 0,
        pushed.map(_.toString).toSeq))
      return context.sparkSession.createDataFrame(
        java.util.Collections.emptyList[Row](), required).rdd
    }
    // buildScan runs per EXECUTION of the enclosing plan. Assembling
    // the inner snapshot plan (manifest/sidecar reads, pruning, the
    // MoR mask joins, analysis + optimization of the result) is the
    // dominant driver cost of a DML statement sequence, so identical
    // reads of an identical snapshot reuse the OPTIMIZED LOGICAL plan:
    // the fingerprint pins the session, the options, the projection,
    // the filters, and every metadata file the pruning consults; any
    // commit/sidecar write moves it. Only the logical plan is kept —
    // an executed RDD would pin its physical plan's broadcasts (the
    // pos-delete mask hash relations) for as long as the memo entry
    // lives. Every execution, hit or miss, plans the memoized tree
    // afresh, so its broadcasts belong to that query and are freed
    // with it.
    GraftScanPlanner.scanFingerprint(
        context.sparkSession, opts, required, pushed) match {
      case Some(key) =>
        val (plan, audit) =
          GraftScanPlanner.scanPlanMemo.getOrElseUpdate(key) {
            val df = build()
            val decision = GraftScanAudit.last
            (df.queryExecution.optimizedPlan, decision)
          }
        // re-publish the pruning decision recorded when the plan was
        // first built — the fingerprint guarantees it is what the
        // rebuild would decide
        GraftScanAudit.last = audit
        org.apache.spark.sql.graft.SqlShims
          .ofRows(context.sparkSession, plan).rdd
      case None => build().rdd
    }
  }

  private def build(): DataFrame = {
    val df = GraftScanPlanner
      .pruned(context.sparkSession, opts, pushed.toSeq)
    // a DECLARED column no data file carries yet (ALTER TABLE …
    // ADD COLUMNS before the first write of it) null-fills — the
    // standard schema-evolution read contract; catalog analysis
    // already rejected genuinely unknown columns
    val have = df.columns.map(_.toLowerCase).toSet
    if (required.isEmpty) df.select()
    else df.select(required.fields.toSeq.map { f =>
      // cast to the DECLARED type: after ALTER COLUMN … TYPE
      // widening, historical files carry the narrow physical type
      // and must surface widened (a same-type cast folds away)
      if (have(f.name.toLowerCase))
        col(f.name).cast(f.dataType).as(f.name)
      else org.apache.spark.sql.functions.lit(null)
        .cast(f.dataType).as(f.name)
    }: _*)
  }
}

/** The last DSv2 scan's pruning decision — test/audit observability.
  * The library [[VersionedTable.pruneDecision]] computes the same
  * counts for the same filters without writing here.
  */
object GraftScanAudit {
  final case class Decision(partitionsScanned: Int, partitionsTotal: Int,
                            filesScanned: Int, filesTotal: Int,
                            pushed: Seq[String])
  @volatile var last: Option[Decision] = None
}

private[graft] object GraftScanPlanner {

  final case class Opts(root: String, versionAsOf: Option[Long],
                        withDeletes: Boolean,
                        changes: Option[(Long, Long, Seq[String])] = None,
                        emptyOk: Boolean = false,
                        metadata: Option[String] = None)

  def opts(m: CaseInsensitiveStringMap): Opts = {
    val rawPath = Option(m.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft source needs a path — spark.read.format(\"graft\")" +
          ".load(<table root>)"))
    // SQL DDL (USING graft OPTIONS (path ...)) qualifies the location
    // to a file: URI before it reaches the provider — normalize back
    // to a local filesystem path (the manifest store is java.nio)
    val root =
      if (rawPath.startsWith("file:"))
        Paths.get(java.net.URI.create(rawPath)).toString
      else rawPath
    val byRef = Option(m.get("ref")).map { name =>
      VersionedTable.refs(root).getOrElse(name,
        throw new IllegalArgumentException(
          s"ref '$name' not found under $root — known refs: " +
            VersionedTable.refs(root).keys.toSeq.sorted.mkString(", ")))
    }
    val asOf = Option(m.get("versionAsOf")).map(_.toLong)
    require(asOf.isEmpty || byRef.isEmpty,
      "give versionAsOf OR ref, not both")
    // change-data-feed read (Delta's readChangeFeed shape):
    // changesFrom (exclusive; 0 = table birth) [+ changesTo,
    // default = latest retained] + keys (the diff key columns)
    val changes = Option(m.get("changesFrom")).map { fromS =>
      val from = fromS.toLong
      val to = Option(m.get("changesTo")).map(_.toLong).getOrElse(
        VersionedTable.mainlineVersions(root).lastOption.getOrElse(
          throw new IllegalStateException(
            s"$root has no retained versions — nothing to diff")))
      val keys = Option(m.get("keys"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty)
        .getOrElse(throw new IllegalArgumentException(
          "a change-feed read needs option(\"keys\", ...) — the diff " +
            "key columns"))
      (from, to, keys)
    }
    // changesTo without changesFrom would silently fall through to a
    // full snapshot read — the misuse a forgotten option produces
    require(changes.isDefined || m.get("changesTo") == null,
      "changesTo given without changesFrom — a change-feed read " +
        "needs option(\"changesFrom\", ...)")
    require(changes.isEmpty || (asOf.isEmpty && byRef.isEmpty),
      "changesFrom cannot combine with versionAsOf/ref")
    // metadata tables (Iceberg's t.history/t.files shape): inspect
    // the table's own commit/file/partition/ref metadata as a
    // DataFrame. Orthogonal options rejected — a metadata read IS the
    // whole address.
    val metadata = Option(m.get("metadata")).map(_.toLowerCase)
    metadata.foreach { k =>
      require(MetadataKinds(k),
        s"unknown metadata table '$k' — one of " +
          MetadataKinds.toSeq.sorted.mkString(", "))
      require(asOf.isEmpty && byRef.isEmpty && changes.isEmpty,
        "a metadata read cannot combine with versionAsOf/ref/" +
          "changesFrom")
    }
    Opts(root, asOf.orElse(byRef),
      Option(m.get("withDeletes")).forall(_.toBoolean), changes,
      // catalog tables exist before their first commit (declared
      // schema, zero rows); path-based reads of a manifest-less dir
      // stay a loud error — "not a graft table"
      emptyOk = Option(m.get("__graft_empty_ok")).exists(_.toBoolean),
      metadata = metadata)
  }

  val MetadataKinds: Set[String] =
    Set("history", "files", "partitions", "refs", "stats")

  /** The metadata tables — driver-assembled from manifests/sidecars
    * (|files|-bounded, no data IO):
    *
    *   - `history`:    (version, published_at, form, is_live) per
    *     retained commit — publish instants from the atomic
    *     history-entry mtimes
    *   - `files`:      (partition, file, bytes, row_count) per LIVE
    *     data file; row_count null when the sidecar lacks the entry
    *     (legacy commit) — absent metadata never fabricated
    *   - `partitions`: (partition, dir, file_count, bytes, row_count)
    *     per live partition pointer (one synthetic root row for flat
    *     tables)
    *   - `refs`:       (name, version) named refs
    */
  def metadataFrame(spark: SparkSession, root: String,
                    kind: String): DataFrame = {
    import spark.implicits._
    val rootP = Paths.get(root)
    val pm = VersionedTable.readPartitionedManifest(root)
    val fm = if (pm.isDefined) None else VersionedTable.readManifest(root)
    kind match {
      case "history" =>
        val liveV = pm.map(_.version).orElse(fm.map(_.version))
        VersionedTable.versionPublishTimes(root).map { case (v, ms) =>
          (v, new java.sql.Timestamp(ms),
            if (VersionedTable.historyPartitionedManifest(root, v)
              .isDefined) "partitioned" else "flat",
            liveV.contains(v))
        }.toDF("version", "published_at", "form", "is_live")
      case "files" =>
        val rows: Seq[(String, String, Long, Option[Long])] = pm match {
          case Some(m) =>
            m.partitions.toSeq.sortBy(_._1).flatMap { case (k, dn) =>
              val verDir = rootP.resolve(dn)
              val stats = VersionedTable.readStatsSidecar(verDir)
              VersionedTable.dataFilesUnder(verDir.resolve(k)).map { f =>
                val rel = verDir.relativize(f).toString
                  .replace('\\', '/')
                (k, s"$dn/$rel", Files.size(f), stats.get(rel).map(_.rows))
              }
            }
          case None =>
            val m = fm.getOrElse(return spark.emptyDataset[
              (String, String, Long, Option[Long])].toDF(
              "partition", "file", "bytes", "row_count"))
            m.segments.flatMap { seg =>
              val dirP = rootP.resolve(seg)
              val stats = VersionedTable.readStatsSidecar(dirP)
              VersionedTable.dataFilesUnder(dirP).map { f =>
                val rel = dirP.relativize(f).toString.replace('\\', '/')
                (null: String, s"$seg/$rel", Files.size(f),
                  stats.get(rel).map(_.rows))
              }
            }
        }
        rows.toDF("partition", "file", "bytes", "row_count")
      case "partitions" =>
        val rows: Seq[(String, String, Long, Long, Option[Long])] =
          pm match {
            case Some(m) =>
              m.partitions.toSeq.sortBy(_._1).map { case (k, dn) =>
                val verDir = rootP.resolve(dn)
                val stats = VersionedTable.readStatsSidecar(verDir)
                val fs = VersionedTable.dataFilesUnder(verDir.resolve(k))
                val rels = fs.map(f => verDir.relativize(f).toString
                  .replace('\\', '/'))
                val rc =
                  if (rels.forall(stats.contains))
                    Some(rels.map(stats(_).rows).sum)
                  else None // partial sidecar: no fabricated count
                (k, dn, fs.size.toLong, fs.map(Files.size(_)).sum, rc)
              }
            case None =>
              // one synthetic root row per flat segment
              fm.toSeq.flatMap(_.segments).map { seg =>
                val dirP = rootP.resolve(seg)
                val stats = VersionedTable.readStatsSidecar(dirP)
                val fs = VersionedTable.dataFilesUnder(dirP)
                val rels = fs.map(f => dirP.relativize(f).toString
                  .replace('\\', '/'))
                val rc =
                  if (rels.forall(stats.contains))
                    Some(rels.map(stats(_).rows).sum)
                  else None
                (null: String, seg, fs.size.toLong,
                  fs.map(Files.size(_)).sum, rc)
              }
          }
        rows.toDF("partition", "dir", "file_count", "bytes",
          "row_count")
      case "refs" =>
        VersionedTable.refs(root).toSeq.sorted.toDF("name", "version")
      case "stats" =>
        // ANALYZE column statistics (`CALL system.analyze`), one row
        // per column; `fresh` = the recorded fingerprint still
        // matches the live table (stale stats are served here for
        // inspection but never to the planner)
        val fp = VersionedTable.statsFingerprint(root)
        val rows = VersionedTable.readColumnStats(root) match {
          case None => Seq.empty
          case Some(cs) =>
            val fresh = (cs.version, cs.posVersion, cs.eqVersion) == fp
            cs.cols.toSeq.sortBy(_._1).map { case (n, c) =>
              (n, c.dtype, c.ndv, c.nulls, c.min.orNull, c.max.orNull,
                c.avgLen.map(java.lang.Long.valueOf).orNull,
                c.maxLen.map(java.lang.Long.valueOf).orNull,
                cs.exact, fresh)
            }
        }
        rows.toDF("col_name", "dtype", "ndv", "nulls", "min", "max",
          "avg_len", "max_len", "exact", "fresh")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other'")
    }
  }

  /** Memo of pruned V1 snapshot scans keyed by [[scanFingerprint]] —
    * saves the metadata reads and Catalyst passes of repeated reads in
    * DML/catalog statement sequences. Values are (the optimized
    * logical plan of the projected snapshot read, the pruning decision
    * recorded when it was built). A logical plan holds no executed
    * state — no physical plan, no broadcast — so every execution
    * replans it and reads the parquet files.
    */
  private[graft] val scanPlanMemo = new graft.core.FingerprintMemo[
    String, (LogicalPlan, Option[GraftScanAudit.Decision])](512)

  /** Fingerprint of EVERYTHING a pruned snapshot scan depends on:
    * the session (application id + session identity — plans bind to a
    * session), the scan's own identity (options, required columns,
    * pushed filters), and a listing token over the table root and its
    * delete sub-table roots. The token digests each direct child's
    * (name, size, mtime): a manifest flip replaces `_manifest.json`
    * (size/mtime move), a commit adds a version dir, a sidecar write
    * into a version dir bumps that dir's mtime, a retention prune
    * removes a dir — every state a read consults moves the token.
    * None for computed reads (change feeds, metadata tables) and
    * manifest-less roots: those build fresh every time.
    */
  def scanFingerprint(spark: SparkSession, o: Opts,
                      required: StructType,
                      pushed: Seq[Filter]): Option[String] = {
    if (o.changes.isDefined || o.metadata.isDefined) return None
    if (VersionedTable.snapshotView(o.root).isEmpty) return None
    val rootP = Paths.get(o.root)
    val token = VersionedTable.listingToken(Seq(rootP,
      Paths.get(VersionedTable.posDeletesRoot(o.root)),
      Paths.get(VersionedTable.deletesRoot(o.root))))
    Some(spark.sparkContext.applicationId + "#" +
      System.identityHashCode(spark) + "|" + o.toString + "|" +
      required.json + "|" + pushed.mkString(";") + "|" + token)
  }

  /** Memo of [[liveBytes]] keyed by the exact snapshot fingerprint
    * (options + main-manifest version + pos-delete sub-table
    * version). The always-on stats rules ([[graft.plans
    * .GraftScanStats]], [[graft.plans.GraftBroadcastStats]]) probe
    * every graft join side on every optimizer pass, and the raw walk
    * (list + `Files.size` per live file) is |files|-bounded driver IO
    * per PLAN — at object-store latencies that dominates planning
    * cost. Every commit CAS-bumps a manifest version, so the
    * fingerprint is exact: a hit returns precisely what the walk
    * would recompute; a concurrent commit changes the version and
    * misses. Bounded: cleared wholesale past 4096 entries.
    */
  private val liveBytesMemo =
    new graft.core.FingerprintMemo[(Opts, Long, Long), Option[Long]]()

  /** Version stamped in the table-root manifest, either table form
    * (flat first — its parse is one regex pass over the same file).
    */
  private def manifestVer(root: String): Option[Long] =
    VersionedTable.readManifest(root).map(_.version)
      .orElse(VersionedTable.readPartitionedManifest(root)
        .map(_.version))

  /** Upper-bound byte size of the snapshot the options address: live
    * (or time-travelled) data-file bytes summed from the manifest —
    * driver-side metadata only, |files|-bounded, zero data IO (and
    * memoized per manifest version: O(1) metadata reads per repeat
    * probe). None when unknowable (change feeds, missing version
    * dirs): statistics must never guess. Backs
    * [[graft.plans.GraftBroadcastStats]].
    */
  def liveBytes(o: Opts): Option[Long] = {
    if (o.changes.isDefined) return None
    manifestVer(o.root) match {
      case Some(v) =>
        val posV = VersionedTable.posDeleteVersion(o.root)
        liveBytesMemo.getOrElseUpdate((o, v, posV))(liveBytes0(o))
      // no manifest yet (empty/foreign dir): nothing to fingerprint,
      // and the uncached walk is a couple of file-exists probes
      case None => liveBytes0(o)
    }
  }

  private def liveBytes0(o: Opts): Option[Long] = {
    val rootP = Paths.get(o.root)
    def bytesUnder(dir: Path): Long =
      VersionedTable.dataFilesUnder(dir).map(Files.size(_)).sum
    def segmentBytes(base: Path, segs: Seq[String]): Long =
      segs.map(d => bytesUnder(base.resolve(d))).sum
    // pending merge-on-read post-images add size a live read will
    // produce beyond the base files: count the sub-table's live dir
    // (an over-count — it also holds delete entries — but statistics
    // here are an UPPER bound, and overstating only forgoes a
    // broadcast, never wrongly takes one)
    def morBytes: Long = {
      val pos = VersionedTable.posDeletesRoot(o.root)
      if (o.versionAsOf.isDefined) 0L
      else VersionedTable.readManifest(pos)
        .map(pm => segmentBytes(Paths.get(pos), pm.segments))
        .getOrElse(0L)
    }
    val pm = o.versionAsOf match {
      case Some(v) => VersionedTable.historyPartitionedManifest(o.root, v)
      case None    => VersionedTable.readPartitionedManifest(o.root)
    }
    pm match {
      case Some(m) =>
        Some(m.partitions.toSeq.map { case (k, dn) =>
          bytesUnder(rootP.resolve(dn).resolve(k))
        }.sum + morBytes)
      case None =>
        o.versionAsOf match {
          case Some(v) =>
            // never committed or pruned: unknowable
            scala.util.Try(VersionedTable.versionView(o.root, v))
              .toOption.map(vw => segmentBytes(rootP,
                vw.partitions.values.toSeq))
          case None =>
            VersionedTable.readManifest(o.root) match {
              case Some(m) =>
                Some(segmentBytes(rootP, m.segments) + morBytes)
              case None => if (o.emptyOk) Some(0L) else None
            }
        }
    }
  }

  /** The UNPRUNED dataframe the options address — schema inference
    * and the empty-survivor fallback (schema with zero rows).
    */
  def observable(spark: SparkSession, o: Opts): DataFrame = {
    o.metadata.foreach { kind =>
      return metadataFrame(spark, o.root, kind)
    }
    o.changes.foreach { case (from, to, keys) =>
      require(from <= to,
        s"changesFrom $from is past changesTo $to under ${o.root}")
      // from == to is the CDC poller's steady state between commits
      // (changesFrom = last seen, default changesTo = latest): an
      // empty feed with the stable schema, never an error
      return if (from == to)
        VersionedTable.readChangesEmptyFrame(spark, o.root)
      else VersionedTable.readChanges(spark, o.root, from, to, keys)
    }
    o.versionAsOf match {
      case Some(v) => VersionedTable.readVersion(spark, o.root, v)
      case None =>
        val view = VersionedTable.snapshotView(o.root).getOrElse(
          throw new IllegalStateException(
            s"no _manifest.json under ${o.root} — not a graft table " +
              "(or it has never committed)"))
        snapshotFrame(spark, o.root, view,
          VersionedTable.dirFrames(spark, o.root, view), o.withDeletes)
    }
  }

  /** Per-dir raw reads of the view as one frame: both delete families
    * applied when `masked`, else the base rows.
    */
  private def snapshotFrame(spark: SparkSession, root: String,
                            view: VersionedTable.PartitionedManifest,
                            groups: Seq[(String, DataFrame)],
                            masked: Boolean): DataFrame =
    if (masked) VersionedTable.maskDeletes(spark, root, view, groups)
    else VersionedTable.unionDirs(root, groups, addressed = false)
      .drop(VersionedTable.SeqCol)

  /** The pruned dataframe: [[decide]]'s survivors read through
    * Spark's parquet source, deletes masked, the decision published to
    * [[GraftScanAudit]].
    */
  def pruned(spark: SparkSession, o: Opts,
             filters: Seq[Filter]): DataFrame = {
    // change-feed and metadata reads are computed, not file-assembled
    // — no file pruning applies; filters stay residual above them.
    // Clear the audit so a consumer never attributes the PREVIOUS
    // scan's decision to this one.
    if (o.changes.isDefined || o.metadata.isDefined) {
      GraftScanAudit.last = None
      return observable(spark, o)
    }
    val (decision, survivors) = decide(o, filters)
    GraftScanAudit.last = Some(decision)
    assemble(spark, o, survivors)
  }

  /** The files a snapshot read opens after pruning: the snapshot view
    * it pruned (a flat table is a one-leaf view) and the surviving
    * files per version dir, dirs sorted.
    */
  final case class Survivors(view: VersionedTable.PartitionedManifest,
                             byDir: Seq[(Path, Seq[Path])])

  /** The metadata step of a pruned snapshot read: conjuncts →
    * partition + file survivor sets from the snapshot view, the
    * version-checked partition bounds and each version dir's
    * footer-stats and bloom sidecars (each read once). Driver-side
    * metadata only — no Spark job, no audit write. Snapshot reads
    * only: change feeds and metadata tables are not file-assembled.
    */
  def decide(o: Opts, filters: Seq[Filter])
      : (GraftScanAudit.Decision, Survivors) = {
    val rootP = Paths.get(o.root)
    val m = VersionedTable.snapshotView(o.root, o.versionAsOf).getOrElse(
      throw new IllegalStateException(s"no _manifest.json under ${o.root}"))
    val partCols = m.partitionColumns.toSet
    val pathFilters = filters.filter(f =>
      partitionPathPrunable(f, partCols))
    // version-checked partition bounds apply to the LIVE manifest
    // only (the sidecar is stamped with the live version); a view
    // with no partition columns has none to read
    val bounds: Map[String, VersionedTable.PartitionStats] =
      if (o.versionAsOf.isDefined || partCols.isEmpty) Map.empty
      else VersionedTable.readPartStats(o.root)
        .filter(_._1 == m.version).map(_._2).getOrElse(Map.empty)
    val selected = m.partitions.filter { case (k, _) =>
      pathFilters.forall(partitionPathSurvives(k, _)) &&
        filters.forall(f => statsSurvive(
          bounds.get(k).map(ps =>
            Bounds(ps.cols, Map.empty, ps.dbls)), f))
    }
    val statsByDir = selected.values.toSeq.distinct
      .map(d => d -> VersionedTable.readStatsSidecar(rootP.resolve(d)))
      .toMap
    val bloomsByDir =
      if (!filters.exists(bloomable)) Map.empty[String,
        Map[(String, String), Array[Long]]]
      else selected.values.toSeq.distinct
        .map(d => d ->
          VersionedTable.readBloomSidecar(rootP.resolve(d))).toMap
    val files = selected.toSeq.sortBy(_._1).flatMap { case (k, dn) =>
      val verDir = rootP.resolve(dn)
      VersionedTable.dataFilesUnder(
        rootP.resolve(VersionedTable.viewLeaf(m, k, dn))).map { f =>
        val rel = verDir.relativize(f).toString.replace('\\', '/')
        val keep = filters.forall(fl => statsSurvive(
          statsByDir(dn).get(rel).map(fs =>
            Bounds(fs.cols, fs.strs, fs.dbls)), fl) &&
          bloomSurvives(
            bloomsByDir.getOrElse(dn, Map.empty), rel, fl))
        (f, keep, verDir)
      }
    }
    val survivors = files.filter(_._2)
    (GraftScanAudit.Decision(selected.size, m.partitions.size,
      survivors.size, files.size, filters.map(_.toString)),
      Survivors(m, survivors.groupBy(_._3).toSeq
        .sortBy(_._1.toString)
        .map { case (verDir, fs) => verDir -> fs.map(_._1) }))
  }

  /** The frame assembly of a pruned snapshot read: [[decide]]'s
    * survivors read through Spark's parquet source, with delete masks
    * on a live `withDeletes` read.
    */
  def assemble(spark: SparkSession, o: Opts,
               survivors: Survivors): DataFrame = {
    val masked = o.versionAsOf.isEmpty && o.withDeletes
    val view = survivors.view
    if (survivors.byDir.isEmpty) {
      // every base file skipped — but pending merge-on-read
      // post-images live in NO file, so a live masked read must
      // still surface them (residual filters re-apply above)
      val empty = observable(spark, o).limit(0)
      if (masked)
        VersionedTable.liveMorAppendsMasked(spark, o.root, view)
          .map(a => empty.unionByName(a, allowMissingColumns = true))
          .getOrElse(empty)
      else empty
    }
    else snapshotFrame(spark, o.root, view,
      survivors.byDir.map { case (verDir, fs) =>
        val dn = verDir.getFileName.toString
        dn -> VersionedTable.readDir(spark, o.root, view, dn, Some(fs))
      }, masked)
  }

  // ---- filter → bounds machinery -----------------------------------

  /** One file's (or partition's) usable bounds: integer, truncated
    * UTF-8 string, and floating [min,max] — absence means "cannot
    * exclude".
    */
  private final case class Bounds(cols: Map[String, (Long, Long)],
                                  strs: Map[String, (String, String)],
                                  dbls: Map[String, (Double, Double)])

  /** Can this conjunct contribute to skipping? (It is then advertised
    * in `pushedFilters`.) Supported: eq/interval/In on numeric,
    * timestamp/date (physical INT64/INT32 stats), and string-equality
    * columns, plus partition-path equality.
    */
  def prunable(partCols: Set[String], f: Filter): Boolean = {
    f match {
      case _ if partitionPathPrunable(f, partCols) => true
      case EqualTo(_, v)            => num(v).isDefined ||
        v.isInstanceOf[String]
      // non-null null-safe equality prunes exactly like EqualTo
      // (stats bounds never cover nulls, so the null case is
      // partition-path-only, handled above)
      case EqualNullSafe(_, v) if v != null => num(v).isDefined ||
        v.isInstanceOf[String]
      case GreaterThan(_, v)        => num(v).isDefined
      case GreaterThanOrEqual(_, v) => num(v).isDefined
      case LessThan(_, v)           => num(v).isDefined
      case LessThanOrEqual(_, v)    => num(v).isDefined
      case In(_, vs) => vs.nonEmpty &&
        (vs.forall(num(_).isDefined) || vs.forall(_.isInstanceOf[String]))
      case StringStartsWith(_, v)   => v != null
      // boolean structure (a touched-partition predicate arrives as
      // ONE Or-of-equalities conjunct): an And skips when EITHER side
      // can, an Or only when BOTH sides can (an unevaluable branch
      // makes the whole Or unskippable)
      case And(l, r) => prunable(partCols, l) || prunable(partCols, r)
      case Or(l, r)  => prunable(partCols, l) && prunable(partCols, r)
      case _ => false
    }
  }

  /** Smallest string strictly greater than every `p`-prefixed string:
    * `p` with its last incrementable code point bumped (surrogate-gap
    * aware). None when no code point can be bumped.
    */
  private def prefixSuccessor(p: String): Option[String] = {
    val cps = p.codePoints.toArray
    var i = cps.length - 1
    while (i >= 0) {
      val next = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
      if (next <= 0x10FFFF && (next < 0xD800 || next > 0xDFFF)) {
        val bumped = cps.take(i) :+ next
        return Some(new String(bumped, 0, bumped.length))
      }
      i -= 1
    }
    None
  }

  private def partitionPathPrunable(f: Filter,
                                    partCols: Set[String]): Boolean =
    f match {
      case EqualTo(c, v) => partCols(c) && v != null &&
        pathValue(v).isDefined
      case EqualNullSafe(c, v) => partCols(c) &&
        (v == null || pathValue(v).isDefined)
      case IsNull(c) => partCols(c)
      case In(c, vs) => partCols(c) && vs.nonEmpty &&
        vs.forall(v => v != null && pathValue(v).isDefined)
      case And(l, r) => partitionPathPrunable(l, partCols) ||
        partitionPathPrunable(r, partCols)
      case Or(l, r) => partitionPathPrunable(l, partCols) &&
        partitionPathPrunable(r, partCols)
      case _ => false
    }

  /** Render a literal the way Spark's dynamic-partition writer renders
    * it into the path (then escaped); None for types whose rendering
    * we don't replicate (those filters stay residual-only).
    */
  private def pathValue(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case _: Byte | _: Short | _: Int | _: Long | _: Boolean =>
      Some(String.valueOf(v))
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _ => None
  }

  /** Can `v` be rendered as a partition-path segment value? (Gates
    * the EXACT key classification below — an unrenderable literal
    * must fail loudly upstream, not silently match nothing.)
    */
  private[sources] def pathRenderable(v: Any): Boolean =
    v != null && pathValue(v).isDefined

  /** EXACT partition-key classification for whole-partition overwrite
    * (contrast [[partitionPathSurvives]], the sound OVER-approximation
    * used for read pruning): the caller has already rejected keys
    * missing the column's segment, so equality against the rendered
    * segment IS the predicate's truth value on every row of the
    * partition.
    */
  private[sources] def partitionKeyMatches(key: String,
                                           f: Filter): Boolean = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def seg(c: String, v: Any): Option[String] =
      pathValue(v).map(r => s"$c=${ExternalCatalogUtils.escapePathName(r)}")
    val segments = key.split('/').toSet
    f match {
      case EqualTo(c, v) => seg(c, v).exists(segments.contains)
      case EqualNullSafe(c, null) => segments.contains(
        s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}")
      case EqualNullSafe(c, v) => seg(c, v).exists(segments.contains)
      case In(c, vs) =>
        vs.exists(v => seg(c, v).exists(segments.contains))
      case _ => true
    }
  }

  private def partitionPathSurvives(key: String, f: Filter): Boolean = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def seg(c: String, v: Any): Option[String] =
      pathValue(v).map(r => s"$c=${ExternalCatalogUtils.escapePathName(r)}")
    val segments = key.split('/').toSet
    // a key with NO segment for the filter's column cannot be
    // excluded: mid-migration (spec-evolution) tables hold unmigrated
    // parent keys whose rows carry the appended partition column in
    // their DATA files — absence of the path segment is not proof of
    // absence of the value
    def hasCol(c: String): Boolean = segments.exists(_.startsWith(c + "="))
    def nullSeg(c: String): String =
      s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    f match {
      case EqualTo(c, v) if hasCol(c) =>
        seg(c, v).forall(segments.contains)
      case EqualNullSafe(c, null) if hasCol(c) =>
        segments.contains(nullSeg(c))
      case EqualNullSafe(c, v) if hasCol(c) =>
        seg(c, v).forall(segments.contains)
      case IsNull(c) if hasCol(c) => segments.contains(nullSeg(c))
      case In(c, vs) if hasCol(c) =>
        vs.exists(v => seg(c, v).forall(segments.contains))
      case And(l, r) => partitionPathSurvives(key, l) &&
        partitionPathSurvives(key, r)
      case Or(l, r) => partitionPathSurvives(key, l) ||
        partitionPathSurvives(key, r)
      case _ => true
    }
  }

  /** Literal → exact BigDecimal in the stats' physical domain (micros
    * for timestamps, days for dates) — BigDecimal, not double, so
    * longs beyond 2^53 can never be wrongly excluded. NaN and ±Infinity
    * → None (no pruning: BigDecimal has no infinity, and a file holding
    * an infinite value keeps an open bound).
    */
  private def num(v: Any): Option[BigDecimal] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case n: Byte   => Some(BigDecimal(n.toInt))
      case n: Short  => Some(BigDecimal(n.toInt))
      case n: Int    => Some(BigDecimal(n))
      case n: Long   => Some(BigDecimal(n))
      case n: Float  =>
        // binary widen (n.toDouble), NOT decimal-text widen: the
        // harvest stores FLOAT bounds as f.doubleValue(), and a
        // decimal-repr literal (0.7) compared against the binary
        // bound (0.699999988…) would wrongly skip the file
        if (n.isNaN || n.isInfinite) None else Some(BigDecimal(n.toDouble))
      case n: Double =>
        if (n.isNaN || n.isInfinite) None else Some(BigDecimal(n))
      // java.math.BigDecimal (DecimalType literals) is deliberately
      // UNPRUNABLE: decimal columns are physically INT32/INT64
      // unscaled values, so the footer bounds are in a different
      // domain than the literal — comparing them would skip files
      // that hold matching rows
      case t: java.sql.Timestamp =>
        Some(BigDecimal(DateTimeUtils.fromJavaTimestamp(t)))
      case t: java.time.Instant =>
        Some(BigDecimal(DateTimeUtils.instantToMicros(t)))
      case d: java.sql.Date =>
        Some(BigDecimal(DateTimeUtils.fromJavaDate(d).toLong))
      case d: java.time.LocalDate =>
        Some(BigDecimal(DateTimeUtils.localDateToDays(d).toLong))
      case _ => None
    }
  }

  /** The column's numeric bounds as (lo, hi); a side is None when
    * unbounded (±Infinity floating bounds).
    */
  private def numBounds(b: Bounds, c: String)
      : Option[(Option[BigDecimal], Option[BigDecimal])] =
    b.cols.get(c)
      .map { case (lo, hi) =>
        (Some(BigDecimal(lo)): Option[BigDecimal],
         Some(BigDecimal(hi)): Option[BigDecimal])
      }
      .orElse(b.dbls.get(c).map { case (lo, hi) =>
        (if (lo.isInfinity) None else Some(BigDecimal(lo)),
         if (hi.isInfinity) None else Some(BigDecimal(hi)))
      })

  /** Can this conjunct probe a `_bloom.json` sidecar? Only exact-type
    * matches: blooms hash `xxhash64(col)` over the column's NATIVE
    * Spark type, so only a Long literal (⇒ LongType column) or a
    * String literal reproduces the build-side hash — an Int-typed
    * column's literal arrives as Int and stays residual-only (sound).
    */
  private def bloomable(f: Filter): Boolean = f match {
    case EqualTo(_, _: java.lang.Long)   => true
    case EqualTo(_, _: String)           => true
    case In(_, vs) => vs.nonEmpty &&
      (vs.forall(_.isInstanceOf[java.lang.Long]) ||
        vs.forall(_.isInstanceOf[String]))
    case And(l, r) => bloomable(l) || bloomable(r)
    case Or(l, r)  => bloomable(l) && bloomable(r)
    case _ => false
  }

  /** Must file `rel` be scanned under `f` per the per-file blooms?
    * A bloom miss is PROOF of absence (sound skip); no bloom for the
    * (file, column) → scan.
    */
  private def bloomSurvives(blooms: Map[(String, String), Array[Long]],
                            rel: String, f: Filter): Boolean = {
    if (blooms.isEmpty) return true
    def admits(c: String, hash: Long): Boolean =
      blooms.get((rel, c))
        .forall(graft.functions.Bloom.mightContain(_, hash))
    f match {
      case EqualTo(c, v: java.lang.Long) =>
        admits(c, graft.functions.Bloom.hashLong(v))
      case EqualTo(c, v: String) =>
        admits(c, graft.functions.Bloom.hashString(v))
      case In(c, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[java.lang.Long]) =>
        vs.exists(v => admits(c,
          graft.functions.Bloom.hashLong(v.asInstanceOf[Long])))
      case In(c, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[String]) =>
        vs.exists(v => admits(c,
          graft.functions.Bloom.hashString(v.asInstanceOf[String])))
      case And(l, r) => bloomSurvives(blooms, rel, l) &&
        bloomSurvives(blooms, rel, r)
      case Or(l, r) => bloomSurvives(blooms, rel, l) ||
        bloomSurvives(blooms, rel, r)
      case _ => true
    }
  }

  /** Must a file/partition with bounds `b` be scanned under conjunct
    * `f`? None bounds → scan (sound).
    */
  private def statsSurvive(b: Option[Bounds], f: Filter): Boolean =
    b match {
      case None => true
      case Some(bb) =>
        def numCheck(c: String, p: (Option[BigDecimal],
          Option[BigDecimal]) => Boolean): Boolean =
          numBounds(bb, c).forall { case (lo, hi) => p(lo, hi) }
        def strEq(c: String, s: String): Boolean =
          bb.strs.get(c).forall { case (lo, hi) =>
            VersionedTable.u8cmp(s, lo) >= 0 &&
              VersionedTable.u8cmp(s, hi) <= 0
          }
        f match {
          case EqualTo(c, s: String) => strEq(c, s)
          case EqualNullSafe(c, s: String) => strEq(c, s)
          // p-prefixed strings occupy [p, successor(p)): the file's
          // widened [lo,hi] must intersect it (widening only keeps
          // MORE files — sound)
          case StringStartsWith(c, p) if p != null =>
            bb.strs.get(c).forall { case (lo, hi) =>
              VersionedTable.u8cmp(hi, p) >= 0 &&
                prefixSuccessor(p).forall(succ =>
                  VersionedTable.u8cmp(lo, succ) < 0)
            }
          case EqualTo(c, v) => num(v).forall(x =>
            numCheck(c, (lo, hi) =>
              lo.forall(_ <= x) && hi.forall(_ >= x)))
          case EqualNullSafe(c, v) if v != null => num(v).forall(x =>
            numCheck(c, (lo, hi) =>
              lo.forall(_ <= x) && hi.forall(_ >= x)))
          case GreaterThan(c, v) => num(v).forall(x =>
            numCheck(c, (_, hi) => hi.forall(_ > x)))
          case GreaterThanOrEqual(c, v) => num(v).forall(x =>
            numCheck(c, (_, hi) => hi.forall(_ >= x)))
          case LessThan(c, v) => num(v).forall(x =>
            numCheck(c, (lo, _) => lo.forall(_ < x)))
          case LessThanOrEqual(c, v) => num(v).forall(x =>
            numCheck(c, (lo, _) => lo.forall(_ <= x)))
          case In(c, vs) if vs.nonEmpty &&
              vs.forall(_.isInstanceOf[String]) =>
            vs.exists(v => strEq(c, v.asInstanceOf[String]))
          case In(c, vs) if vs.nonEmpty =>
            vs.exists(v => num(v).forall(x =>
              numCheck(c, (lo, hi) =>
                lo.forall(_ <= x) && hi.forall(_ >= x))))
          case And(l, r) =>
            statsSurvive(b, l) && statsSurvive(b, r)
          case Or(l, r) =>
            statsSurvive(b, l) || statsSurvive(b, r)
          case _ => true
        }
    }
}
