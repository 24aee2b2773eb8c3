package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets
import java.nio.file.{StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sinks.{TableFs, VersionedTable}

/** A `TableCatalog` plugin over a warehouse directory of versioned
  * graft tables — the piece that makes the table format addressable
  * from SQL by NAME instead of by path:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.g.warehouse", "/data/warehouse")
  * CREATE NAMESPACE g.etl
  * CREATE TABLE g.etl.events (id BIGINT, day STRING, cents BIGINT)
  *   PARTITIONED BY (day) TBLPROPERTIES (keys = 'id')
  * INSERT INTO g.etl.events SELECT …           -- keyed upsert
  * INSERT OVERWRITE g.etl.events PARTITION (day = '2024-01-02') …
  * DELETE FROM g.etl.events WHERE cents < 0    -- MoR position deletes
  * SELECT * FROM g.etl.events VERSION AS OF 3  -- time travel
  * SELECT * FROM g.etl.events TIMESTAMP AS OF '2026-08-15 12:00:00'
  * }}}
  *
  * Layout: `warehouse/<namespace…>/<table>` is a table root exactly as
  * the path-based `format("graft")` addresses it — the catalog adds
  * name→path resolution, declared schemas for not-yet-written tables
  * (`_graft_catalog.json`), and the DDL lifecycle (create/drop/rename/
  * alter-properties, namespaces as plain directories). Data semantics
  * are entirely [[VersionedTable]]'s: INSERT routes through the same
  * commit protocol as the writer API (table properties `keys`,
  * `partitionColumns`, `schemaMode` configure upsert-vs-append once,
  * at CREATE), reads engage the same two-level sidecar pruning, and a
  * dropped table is a recursive directory delete.
  *
  * Time travel: `VERSION AS OF n` resolves a retained commit (or a
  * NAMED REF — `VERSION AS OF 'stable'`); `TIMESTAMP AS OF t` resolves
  * the newest commit whose atomic history-entry publish instant is
  * ≤ t ([[VersionedTable.versionPublishTimes]]), the Delta/Iceberg
  * rule. Both fail loudly past retention.
  *
  * Concurrency: the catalog itself keeps NO mutable state beyond the
  * filesystem — two sessions pointing at the same warehouse see each
  * other's tables immediately, and commit-level races are settled by
  * the table's own CAS, not by the catalog.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = "graft"
  private var warehouse: Path = _

  // ---- ProcedureCatalog: SQL CALL-able maintenance ---------------------
  // CALL <cat>.system.{compact, compact_sorted, zorder, vacuum,
  // set_ref, drop_ref, remove_orphans}(table => 'ns.t', …) — see
  // [[GraftProcedures]].

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty ||
        namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.list()
    else Array.empty

  /** 'ns.t' → Identifier via Spark's OWN multipart-identifier parser,
    * not a raw split('.') — a quoted segment containing a dot
    * (ns.`a.b`) must resolve to the `a.b` table, not a phantom
    * two-level namespace.
    */
  private def parseTableRef(tableRef: String): Identifier = {
    val parts = SparkSession.active.sessionState.sqlParser
      .parseMultipartIdentifier(tableRef)
    Identifier.of(parts.dropRight(1).toArray, parts.last)
  }

  /** 'ns.t' (dots separating namespace levels) → the table's DATA
    * root, through the same stub/LOCATION resolution reads use.
    */
  private[sources] def resolveDataRoot(tableRef: String): String = {
    val ident = parseTableRef(tableRef)
    val stub = tablePath(ident)
    if (!isTableDir(stub)) throw new NoSuchTableException(ident)
    dataRoot(stub).toString
  }

  /** The `keys` TBLPROPERTY of 'ns.t' — read from the STUB (external
    * tables keep their properties on the stub, not the data root).
    */
  private[sources] def tableKeys(tableRef: String): Option[Seq[String]] = {
    val stub = tablePath(parseTableRef(tableRef))
    readMeta(stub).get("keys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
  }

  override def name(): String = catalogName

  /** The warehouse root — the catalog's IDENTITY for caches (two
    * catalogs may share a name across sessions but point at
    * different warehouses).
    */
  private[graft] def warehouseDir: String = warehouse.toString

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs a warehouse — set " +
          s"spark.sql.catalog.$name.warehouse=<dir>"))
    warehouse =
      if (w.startsWith("file:")) Paths.get(java.net.URI.create(w))
      else Paths.get(w)
    Files.createDirectories(warehouse)
    ()
  }

  // ---- path resolution ------------------------------------------------

  /** One identifier segment → one directory name. Rejects anything
    * that could escape the warehouse or collide with table-internal
    * entries (graft internals all start with '_' or 'v' + 8 digits —
    * only the literal traversal/separator cases actually need
    * rejecting; a table named `_x` merely looks odd).
    */
  private def seg(s: String): String = {
    require(s.nonEmpty && s != "." && s != ".." &&
      !s.contains("/") && !s.contains("\\") &&
      !s.exists(c => c.isControl || c.isWhitespace),
      s"illegal identifier segment '$s'")
    s
  }

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)((p, n) => p.resolve(seg(n)))

  private def tablePath(ident: Identifier): Path =
    nsPath(ident.namespace()).resolve(seg(ident.name()))

  /** Is this directory a graft table (committed, or created-declared)? */
  private def isTableDir(p: Path): Boolean =
    Files.isDirectory(p) &&
      (Files.exists(p.resolve("_manifest.json")) ||
        Files.exists(p.resolve(GraftCatalog.MetaFile)))

  // ---- table meta (declared schema + properties) -----------------------

  private def metaFile(root: Path): Path = root.resolve(GraftCatalog.MetaFile)

  private def readMeta(root: Path): Map[String, String] =
    readMeta0(metaFile(root))

  /** Publish a flat string map (table meta or view definition) as
    * the one-object JSON [[readMeta0]] parses.
    */
  private def writeMeta(file: Path, m: Map[String, String]): Unit =
    TableFs.publishFile(file, m.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        s""""${VersionedTable.escJson(k)}": "${VersionedTable.escJson(v)}""""
      }.mkString("{", ", ", "}"))

  // ---- TableCatalog -----------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
      .filter(p => isTableDir(p) &&
        // hidden siblings: in-flight CTAS staging and RTAS trash
        !p.getFileName.toString.startsWith("."))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .sortBy(_.name())
      .toArray
    finally s.close()
  }

  /** Where the table's DATA lives: the stub directory itself for
    * managed tables; the recorded external location for tables
    * created with `LOCATION` (the stub then holds only
    * `_graft_catalog.json`).
    */
  private def dataRoot(stub: Path): Path =
    readMeta(stub).get(GraftCatalog.LocationKey)
      .map(GraftCatalog.normalizePath).getOrElse(stub)

  private def graftTable(ident: Identifier, stub: Path,
                         versionAsOf: Option[Long]): GraftTable = {
    val meta = readMeta(stub)
    val root = meta.get(GraftCatalog.LocationKey)
      .map(GraftCatalog.normalizePath).getOrElse(stub)
    val rootS = root.toString
    // user TBLPROPERTIES first, then the catalog-owned keys — so a
    // stray 'path'/'__graft_*'/planner-option property can never
    // hijack the root or pin every read (belt to createTable/
    // alterTable's braces: both reject these keys loudly)
    val props =
      meta.filterNot { case (k, _) =>
        k == GraftCatalog.SchemaKey || k == "path" ||
          k.startsWith("__graft_") ||
          GraftCatalog.ReservedOptionKeys(k.toLowerCase)
      } ++ Map(
        "path" -> rootS,
        "__graft_empty_ok" -> "true",
        "__graft_name" ->
          (catalogName +: ident.namespace() :+ ident.name())
            .mkString(".")) ++
      versionAsOf.map(v => "versionAsOf" -> v.toString)
    val opts = GraftScanPlanner.opts(
      new CaseInsensitiveStringMap(props.asJava))
    // Schema resolution, cheapest-truth-first:
    //   - never committed → the declared schema;
    //   - committed + declared + STRICT schema mode (the default) →
    //     the declaration IS authoritative (strict writes reject new
    //     columns), so simple-statement planning never pays an
    //     O(|partitions|) footer walk;
    //   - schemaMode=sync or no declaration (schemaless LOCATION
    //     registration) → the OBSERVABLE schema is the truth, column
    //     ORDER pinned to the declaration while the column sets agree
    //     (a partitioned read appends partition columns last, and a
    //     shifting order would re-bind later POSITIONAL INSERTs).
    // An external table whose path-side writers diverged from the
    // declaration surfaces at query time (loud AnalysisException on
    // the missing column), never as silent misbinding.
    val declared = meta.get(GraftCatalog.SchemaKey)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val committed = VersionedTable.snapshotView(rootS).isDefined
    val syncMode = meta.get("schemaMode").contains("sync")
    val schema =
      if (!committed) declared.getOrElse(throw new IllegalStateException(
        s"table dir $root has neither a commit nor a declared " +
          "schema — corrupt catalog entry"))
      else if (declared.isDefined && !syncMode) declared.get
      else {
        val obs =
          GraftScanPlanner.observable(SparkSession.active, opts).schema
        val dropped = meta.get(GraftCatalog.DroppedKey)
          .map(_.split(",").map(_.trim.toLowerCase)
            .filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty[String])
        declared match {
          case Some(d) =>
            // declaration-first union: declared columns keep their
            // declared ORDER (a shifting order would re-bind later
            // positional INSERTs) and their observable TYPE when data
            // already carries them — EXCEPT when the declaration is a
            // widening of the physical type (ALTER COLUMN TYPE): the
            // declaration then wins and reads cast up. Declared-but-
            // not-yet-written columns (ALTER ADD COLUMNS) survive with
            // their declared type (reads null-fill them); write-
            // evolved columns the declaration doesn't know yet append
            // after; DROPPED names never resurface from old files.
            val byName =
              obs.fields.map(f => f.name.toLowerCase -> f).toMap
            StructType(
              d.fields.map { f =>
                byName.get(f.name.toLowerCase) match {
                  case Some(o) if GraftCatalog.widensType(o.dataType,
                      f.dataType) => f
                  case Some(o) => o
                  case None => f
                }
              } ++
                obs.fields.filterNot(f => d.fieldNames
                  .exists(_.equalsIgnoreCase(f.name)) ||
                  dropped(f.name.toLowerCase)))
          case _ => StructType(obs.fields.filterNot(f =>
            dropped(f.name.toLowerCase)))
        }
      }
    new GraftTable(opts, schema, props)
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata addressing: `SELECT * FROM
    // cat.ns.`t$files`` (also $history/$partitions/$refs)
    val dollar = ident.name().lastIndexOf('$')
    if (dollar > 0) {
      val (base, kind) =
        (ident.name().substring(0, dollar),
          ident.name().substring(dollar + 1).toLowerCase)
      if (GraftScanPlanner.MetadataKinds(kind)) {
        val baseIdent = Identifier.of(ident.namespace(), base)
        val stub = tablePath(baseIdent)
        if (!isTableDir(stub)) throw new NoSuchTableException(baseIdent)
        val root = dataRoot(stub)
        val props = Map("path" -> root.toString,
          "metadata" -> kind,
          "__graft_name" ->
            (catalogName +: ident.namespace() :+ ident.name())
              .mkString("."))
        val opts = GraftScanPlanner.opts(
          new CaseInsensitiveStringMap(props.asJava))
        return new GraftTable(opts,
          GraftScanPlanner.metadataFrame(
            SparkSession.active, root.toString, kind).schema,
          props)
      }
      // `t$changes` = the change-data-feed as a TABLE (Iceberg's
      // changelog shape): schema is the data schema + the change
      // columns, fixed at load time; the RANGE comes from read
      // options — option("changesFrom", v) [+ changesTo], default =
      // full retained history; diff keys come from the table's
      // `keys` TBLPROPERTY.
      if (kind == "changes") {
        val baseIdent = Identifier.of(ident.namespace(), base)
        val stub = tablePath(baseIdent)
        if (!isTableDir(stub)) throw new NoSuchTableException(baseIdent)
        val root = dataRoot(stub)
        val meta = readMeta(stub)
        val keys = meta.getOrElse("keys",
          throw new IllegalArgumentException(
            s"$base has no 'keys' table property — a change feed " +
              "needs the diff key columns (TBLPROPERTIES " +
              "('keys' = '…'))"))
        // default range = everything reconstructable: from birth when
        // v1 is still retained, else from the earliest retained
        // snapshot (pruned history cannot be diffed row-level);
        // main-line only — branch staging commits are not changes
        val vs = VersionedTable.mainlineVersions(root.toString)
        val earliest =
          vs.headOption.map(h => if (h == 1L) 0L else h).getOrElse(0L)
        val props = Map("path" -> root.toString,
          "keys" -> keys,
          "changesFrom" -> earliest.toString,
          "__graft_empty_ok" -> "true",
          "__graft_name" ->
            (catalogName +: ident.namespace() :+ ident.name())
              .mkString(".")) ++
          // never-committed table: an EMPTY feed with the declared
          // schema, consistent with the catalog's emptyOk contract
          // (changesTo's default would otherwise fail on "no
          // retained versions")
          (if (vs.isEmpty) Map("changesTo" -> "0") else Map.empty)
        val opts = GraftScanPlanner.opts(
          new CaseInsensitiveStringMap(props.asJava))
        val schema =
          if (vs.nonEmpty)
            VersionedTable.readChangesEmptyFrame(
              SparkSession.active, root.toString).schema
          else StructType(
            readMeta(stub).get(GraftCatalog.SchemaKey)
              .map(j => DataType.fromJson(j).asInstanceOf[StructType])
              .getOrElse(throw new IllegalStateException(
                s"$base has neither a commit nor a declared schema"))
              .fields ++ Seq(
              org.apache.spark.sql.types.StructField(
                VersionedTable.ChangeTypeCol,
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField(
                VersionedTable.ChangeVersionCol,
                org.apache.spark.sql.types.LongType)))
        return new GraftTable(opts, schema, props)
      }
    }
    val root = tablePath(ident)
    if (!isTableDir(root)) throw new NoSuchTableException(ident)
    graftTable(ident, root, None)
  }

  /** `VERSION AS OF` — a retained commit number, or a named ref. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val stub = tablePath(ident)
    if (!isTableDir(stub)) throw new NoSuchTableException(ident)
    val root = dataRoot(stub)
    // fail loudly, like TIMESTAMP AS OF — the emptyOk contract covers
    // live reads of a declared table, never a typo'd time travel
    require(VersionedTable.versions(root.toString).nonEmpty,
      s"VERSION AS OF on ${ident.name()}: the table has no retained " +
        "commits")
    val v = version.toLongOption.getOrElse {
      VersionedTable.refs(root.toString).getOrElse(version,
        throw new IllegalArgumentException(
          s"VERSION AS OF '$version' on ${ident.name()}: not a " +
            "version number and no ref by that name — known refs: " +
            VersionedTable.refs(root.toString).keys.toSeq.sorted
              .mkString(", ")))
    }
    graftTable(ident, stub, Some(v))
  }

  /** `TIMESTAMP AS OF` (micros since epoch): newest commit whose
    * publish instant is ≤ the asked instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val stub = tablePath(ident)
    if (!isTableDir(stub)) throw new NoSuchTableException(ident)
    val tsMillis = timestamp / 1000L
    val dr = dataRoot(stub).toString
    // MAIN-LINE commits only: a branch's staging commit is not "the
    // table at time t" until fast-forwarded
    val mainline = VersionedTable.mainlineVersions(dr).toSet
    val times = VersionedTable.versionPublishTimes(dr)
      .filter(t => mainline(t._1))
    val v = times.filter(_._2 <= tsMillis).map(_._1).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"TIMESTAMP AS OF on ${ident.name()}: no retained commit " +
          s"published at or before ${java.time.Instant
            .ofEpochMilli(tsMillis)} — earliest retained is " +
          times.headOption.map { case (ver, t) =>
            s"v$ver at ${java.time.Instant.ofEpochMilli(t)}"
          }.getOrElse("<none>")))
    graftTable(ident, stub, Some(v))
  }

  /** DDL property/partition processing shared by CREATE TABLE and
    * the staged CTAS/RTAS path: identity partition columns, user
    * TBLPROPERTIES with the reserved/scan-option guards, declared
    * schema — everything but the location and the stub write.
    */
  private def ddlMeta(ident: Identifier, schema: StructType,
                      partitions: Array[Transform],
                      properties: java.util.Map[String, String])
      : Map[String, String] = {
    val partCols = partitions.map {
      case t if t.name() == "identity" &&
          t.references().length == 1 &&
          t.references()(0).fieldNames().length == 1 =>
        t.references()(0).fieldNames()(0)
      case t => throw new UnsupportedOperationException(
        s"graft tables partition by identity columns only — got $t")
    }
    val p = properties.asScala
    val user = p.filterNot { case (k, _) =>
      GraftCatalog.ReservedProps(k) }
      .map { case (k, v) =>
        (if (k.startsWith(TableCatalog.OPTION_PREFIX))
          k.substring(TableCatalog.OPTION_PREFIX.length)
         else k) -> v
      }.toMap
    user.keys.find(k => GraftCatalog.ReservedOptionKeys(k.toLowerCase)
        || k == "path" || k.startsWith("__graft_"))
      .foreach(k => throw new IllegalArgumentException(
        s"TBLPROPERTY '$k' is a per-read scan option (or catalog-" +
          "internal) — it would pin every future read; pass it as a " +
          "read option instead"))
    user ++
      (if (partCols.nonEmpty)
        Map("partitionColumns" -> partCols.mkString(","))
       else Map.empty) ++
      (if (schema.nonEmpty)
        Map(GraftCatalog.SchemaKey -> schema.json)
       else Map.empty)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String])
      : Table = {
    val root = tablePath(ident)
    if (isTableDir(root) || isViewDir(root))
      throw new TableAlreadyExistsException(ident)
    val ns = nsPath(ident.namespace())
    if (ident.namespace().nonEmpty && !Files.isDirectory(ns))
      throw new NoSuchNamespaceException(
        catalogName +: ident.namespace())
    // `LOCATION '…'` = EXTERNAL table: the stub dir holds only the
    // catalog entry; data lives (or already lives — registering an
    // existing path-based graft table is the point) at the location.
    // DROP removes the catalog entry and keeps the data; PURGE
    // removes both.
    val location = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(l => GraftCatalog.normalizePath(l).toString)
    val meta = ddlMeta(ident, schema, partitions, properties) ++
      location.map(GraftCatalog.LocationKey -> _)
    // validate BEFORE persisting the stub: a schemaless registration
    // must point at an existing committed table, or retrying with a
    // corrected LOCATION would hit TableAlreadyExists on a broken stub
    if (schema.isEmpty) {
      val dataAt = location.map(Paths.get(_)).getOrElse(root).toString
      require(VersionedTable.snapshotView(dataAt).isDefined,
        s"CREATE TABLE ${ident.name()} without a schema needs an " +
          s"existing committed graft table at $dataAt — declare " +
          "columns, or fix the LOCATION")
    }
    writeMeta(metaFile(root), meta)
    graftTable(ident, root, None)
  }

  // ---- StagingTableCatalog: atomic CTAS / RTAS -------------------------
  // CREATE TABLE AS SELECT / REPLACE TABLE AS SELECT stage the WHOLE
  // table — catalog stub + first data commit — in a hidden sibling
  // dir (`.<name>.ctas-<uuid>`, invisible to listings), and publish
  // it with an atomic directory move when the write succeeds. A
  // failed or crashed CTAS leaves NO catalog entry and no visible
  // table (the dbt CREATE TABLE AS materialization contract); RTAS
  // swaps the old table out and restores it if the swap's second
  // move fails.

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, replace = false, orCreate = false)

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stage(ident, info, replace = true, orCreate = true)

  private def stage(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo,
      replace: Boolean, orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = tablePath(ident)
    if (isViewDir(root)) throw new TableAlreadyExistsException(ident)
    if (!replace && isTableDir(root))
      throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !isTableDir(root))
      throw new NoSuchTableException(ident)
    val ns = nsPath(ident.namespace())
    if (ident.namespace().nonEmpty && !Files.isDirectory(ns))
      throw new NoSuchNamespaceException(
        catalogName +: ident.namespace())
    // opportunistic reclamation of crashed-CTAS debris: staging and
    // trash siblings are invisible to listings and no table-scoped
    // procedure covers them, so each new stage sweeps the namespace
    // for day-old leftovers (age-gated — in-flight stages are young)
    GraftCatalog.reapStaleStaging(ns)
    val meta0 =
      ddlMeta(ident, info.schema(), info.partitions(),
        info.properties())
    val staged = ns.resolve(
      s".${seg(ident.name())}.ctas-${java.util.UUID.randomUUID}")
    Option(info.properties().get(TableCatalog.PROP_LOCATION))
      .map(l => GraftCatalog.normalizePath(l)) match {
      case None =>
        writeMeta(metaFile(staged), meta0)
        val inner = graftTable(ident, staged, None)
        new GraftStagedTable(inner,
          onCommit = () => commitStaged(ident, root, staged, replace),
          onAbort = () => GraftCatalog.deleteRecursively(staged))
      case Some(loc) =>
        // EXTERNAL CTAS/RTAS (`CREATE TABLE ... LOCATION ... AS
        // SELECT`, the standard lake idiom): the DATA stages in a
        // hidden sibling of the external target — same dot-dir
        // namespace the stub staging uses, swept by the same reaper
        // — so a failed write leaves NO debris at the external path.
        val parent = Option(loc.getParent).getOrElse(
          throw new IllegalArgumentException(
            s"CTAS LOCATION '$loc' has no parent directory"))
        require(replace || !GraftCatalog.nonEmptyDir(loc),
          s"CTAS external location $loc already holds data — use " +
            "REPLACE TABLE AS SELECT, or register the existing " +
            "table with CREATE TABLE ... LOCATION")
        Files.createDirectories(parent)
        GraftCatalog.reapStaleStaging(parent)
        val stagedData = parent.resolve(
          s".${loc.getFileName}.ctas-${java.util.UUID.randomUUID}")
        // the staged stub points at the staged DATA dir; the commit
        // re-points it to the final location before publishing
        writeMeta(metaFile(staged), meta0 +
          (GraftCatalog.LocationKey -> stagedData.toString))
        val inner = graftTable(ident, staged, None)
        new GraftStagedTable(inner,
          onCommit = () => commitStagedExternal(ident, root, staged,
            loc, stagedData, replace),
          onAbort = () => {
            GraftCatalog.deleteRecursively(staged)
            GraftCatalog.deleteRecursively(stagedData)
          })
    }
  }

  /** External-LOCATION CTAS/RTAS publish: DATA first, catalog stub
    * second — every handled failure restores the external path (the
    * RTAS trash sibling rolls back exactly like the managed swap),
    * and the only crash window between the two moves leaves data at
    * the location with NO catalog entry: never a visible partial
    * table, and the data dir is a complete committed graft table
    * re-registrable with `CREATE TABLE ... LOCATION`.
    */
  private def commitStagedExternal(ident: Identifier, root: Path,
      staged: Path, loc: Path, stagedData: Path,
      replace: Boolean): Unit = {
    def cleanup(): Unit = {
      GraftCatalog.deleteRecursively(staged)
      GraftCatalog.deleteRecursively(stagedData)
    }
    if (!replace && isTableDir(root)) {
      cleanup(); throw new TableAlreadyExistsException(ident)
    }
    if (!replace && GraftCatalog.nonEmptyDir(loc)) {
      cleanup()
      throw new IllegalStateException(
        s"CTAS external location $loc gained data during the " +
          "write — nothing published")
    }
    // re-point the stub at the FINAL location before any move
    writeMeta(metaFile(staged), readMeta(staged) +
      (GraftCatalog.LocationKey -> loc.toString))
    val trashData: Option[Path] =
      if (replace && GraftCatalog.nonEmptyDir(loc)) {
        val t = loc.resolveSibling(
          s".${loc.getFileName}.replaced-${java.util.UUID.randomUUID}")
        Files.move(loc, t, StandardCopyOption.ATOMIC_MOVE)
        Some(t)
      } else None
    // A restore that cannot put the user's ORIGINAL data back at
    // `loc` (e.g. a concurrent writer recreated the path) must NOT
    // leave it in the `.replaced-` trash sibling — the staging
    // reaper deletes those after a day. Park it under `.stranded-`
    // (a name the reaper never matches) and fail naming the path.
    def parkOrKeep(t: Path, cause: Throwable): Nothing = {
      val park = loc.resolveSibling(
        s".${loc.getFileName}.stranded-${java.util.UUID.randomUUID}")
      val parked =
        try { Files.move(t, park, StandardCopyOption.ATOMIC_MOVE); park }
        catch { case _: Exception => t }
      throw new IllegalStateException(
        s"RTAS rollback could not restore $loc — the original " +
          s"external data is preserved at $parked", cause)
    }
    try {
      if (Files.exists(stagedData))
        Files.move(stagedData, loc, StandardCopyOption.ATOMIC_MOVE)
      else // zero-commit CTAS staged no data: an empty external dir
        Files.createDirectories(loc)
    } catch {
      case e: Throwable =>
        trashData.foreach { t =>
          try Files.move(t, loc, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: Exception => cleanup(); parkOrKeep(t, e) }
        }
        cleanup()
        throw e
    }
    try commitStaged(ident, root, staged, replace)
    catch {
      case e: Throwable =>
        // un-publish the data so a failed catalog swap leaves the
        // external path exactly as it was
        try {
          Files.move(loc, stagedData, StandardCopyOption.ATOMIC_MOVE)
          trashData.foreach(t =>
            Files.move(t, loc, StandardCopyOption.ATOMIC_MOVE))
          GraftCatalog.deleteRecursively(stagedData)
        } catch {
          case _: Exception =>
            trashData.filter(Files.exists(_))
              .foreach(t => parkOrKeep(t, e))
        }
        throw e
    }
    trashData.foreach(GraftCatalog.deleteRecursively)
  }

  private def commitStaged(ident: Identifier, root: Path,
                           staged: Path, replace: Boolean): Unit = {
    if (!replace && isTableDir(root)) {
      GraftCatalog.deleteRecursively(staged)
      throw new TableAlreadyExistsException(ident)
    }
    if (replace && isTableDir(root)) {
      // two atomic moves with rollback: a failure moving the staged
      // table in restores the old one, so the only non-atomic window
      // is a crash BETWEEN the moves — which loses neither data dir
      // (the old table survives in the hidden trash sibling), never
      // publishes a partial table
      val trash = root.resolveSibling(
        s".${root.getFileName}.replaced-${java.util.UUID.randomUUID}")
      Files.move(root, trash, StandardCopyOption.ATOMIC_MOVE)
      try Files.move(staged, root, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: Throwable =>
          Files.move(trash, root, StandardCopyOption.ATOMIC_MOVE)
          throw e
      }
      GraftCatalog.deleteRecursively(trash)
    } else Files.move(staged, root, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val root = tablePath(ident)
    if (!isTableDir(root)) throw new NoSuchTableException(ident)
    def guarded(k: String): String = {
      require(k != GraftCatalog.SchemaKey && k != "path" &&
        k != GraftCatalog.LocationKey && !k.startsWith("__graft_") &&
        !GraftCatalog.ReservedOptionKeys(k.toLowerCase),
        s"property '$k' is catalog-internal or a per-read scan " +
          "option (repointing a table's location is not an ALTER)")
      k
    }
    val dataRootS = dataRoot(root).toString
    def declaredOf(m: Map[String, String], what: String): StructType =
      m.get(GraftCatalog.SchemaKey)
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(throw new UnsupportedOperationException(
          s"ALTER TABLE ${ident.name()} $what: the table was " +
            "registered schemaless (LOCATION) — evolve it through " +
            "writes (schemaMode=sync)"))
    def commaSet(m: Map[String, String], k: String): Set[String] =
      m.get(k).map(_.split(",").map(_.trim.toLowerCase)
        .filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // a column a structural change may not touch: partition columns
    // (paths encode the name, types recorded in _part_schema), merge
    // keys (verbs join by name), live equality-delete keys (the mask
    // would silently detach), constraint references (the predicate
    // would stop analyzing)
    def guardStructural(m: Map[String, String], colName: String,
                        what: String): Unit = {
      val lc = colName.toLowerCase
      require(!commaSet(m, "partitionColumns").contains(lc),
        s"ALTER TABLE ${ident.name()} $what: '$colName' is a " +
          "partition column — partition paths encode it; rewrite " +
          "into a new table to change the partition spec")
      require(!commaSet(m, "keys").contains(lc),
        s"ALTER TABLE ${ident.name()} $what: '$colName' is a merge " +
          "key (TBLPROPERTIES keys) — change the keys property first")
      require(!VersionedTable.eqDeleteKeyCols(SparkSession.active,
          dataRootS).exists(_.equalsIgnoreCase(colName)),
        s"ALTER TABLE ${ident.name()} $what: '$colName' keys the " +
          "live equality-delete set — vacuum the deletes first")
      VersionedTable.constraints(dataRootS).foreach { case (n, p) =>
        val refs =
          try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseExpression(p).collect {
              case a: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute => a.name.toLowerCase
            }.toSet
          catch { case _: Throwable => Set.empty[String] }
        require(!refs.contains(lc),
          s"ALTER TABLE ${ident.name()} $what: '$colName' is " +
            s"referenced by CHECK constraint '$n' [$p] — drop the " +
            "constraint first")
      }
    }
    def widens(from: DataType, to: DataType): Boolean =
      GraftCatalog.widensType(from, to)
    // rename events recorded AFTER all validation, BEFORE the meta
    // flip (both orders have a μs inconsistency window; DDL is not
    // transactional here)
    val renameEvents =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def updatedOf(m0: Map[String, String]) = changes.foldLeft(m0) {
      case (m, c: TableChange.SetProperty) =>
        m + (guarded(c.property()) -> c.value())
      case (m, c: TableChange.RemoveProperty) =>
        // UNSET of location/__schema would orphan the data or brick
        // the entry — same guard as SET
        m - guarded(c.property())
      // ALTER TABLE … ADD COLUMNS: append-only, top-level, nullable —
      // the DDL spelling of sync schema evolution. The declared
      // schema gains the column (reads null-fill it until data
      // carries it), and the table flips to schemaMode=sync so the
      // next INSERT may actually write it.
      case (m, c: TableChange.AddColumn) =>
        require(c.fieldNames().length == 1,
          s"ALTER TABLE ${ident.name()} ADD COLUMNS: nested field " +
            s"${c.fieldNames().mkString(".")} — graft schemas are flat")
        require(c.isNullable,
          s"ALTER TABLE ${ident.name()} ADD COLUMNS " +
            s"${c.fieldNames()(0)}: added columns must be NULLable " +
            "(existing rows have no value for them)")
        require(c.position() == null,
          s"ALTER TABLE ${ident.name()} ADD COLUMNS: FIRST/AFTER " +
            "positioning is not supported — new columns append")
        val declared = declaredOf(m, "ADD COLUMNS")
        val name = c.fieldNames()(0)
        require(!declared.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"ALTER TABLE ${ident.name()}: column '$name' already exists")
        // a DROPPED name may not come back: old files still carry the
        // old values physically, and re-declaring the name would
        // silently resurrect them for historical rows
        require(!commaSet(m, GraftCatalog.DroppedKey)
            .contains(name.toLowerCase),
          s"ALTER TABLE ${ident.name()}: '$name' was previously " +
            "DROPPED — re-adding it would resurrect old values; use " +
            "a fresh name or rewrite the table")
        // and a RENAMED-AWAY name may not come back either: the
        // rename normalization would fold the new column into the
        // rename target (coalesce) and drop it from every read
        require(!VersionedTable.columnRenames(dataRootS)
            .exists(_._1.equalsIgnoreCase(name)),
          s"ALTER TABLE ${ident.name()}: '$name' was renamed away — " +
            "old files still carry it under that name and reads " +
            "would fold the new column into the rename target; use " +
            "a fresh name")
        m + (GraftCatalog.SchemaKey ->
          declared.add(org.apache.spark.sql.types.StructField(
            name, c.dataType(), nullable = true)).json) +
          ("schemaMode" -> "sync")

      // ALTER TABLE … RENAME COLUMN: METADATA-ONLY — a rename event
      // at the data root; every read normalizes old physical names to
      // the new logical name, so historical parquet stays readable
      // without rewrite. Writes bind the new name from here on.
      case (m, c: TableChange.RenameColumn) =>
        require(c.fieldNames().length == 1,
          s"ALTER TABLE ${ident.name()} RENAME COLUMN: nested field " +
            s"${c.fieldNames().mkString(".")} — graft schemas are flat")
        val from = c.fieldNames()(0)
        val to = c.newName()
        val declared = declaredOf(m, "RENAME COLUMN")
        require(declared.fieldNames.exists(_.equalsIgnoreCase(from)),
          s"ALTER TABLE ${ident.name()}: no column '$from'")
        require(!declared.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"ALTER TABLE ${ident.name()}: column '$to' already exists")
        require(!commaSet(m, GraftCatalog.DroppedKey)
            .contains(to.toLowerCase),
          s"ALTER TABLE ${ident.name()}: '$to' was previously " +
            "DROPPED — renaming onto it would resurrect old values")
        require(!VersionedTable.columnRenames(dataRootS)
            .exists(_._1.equalsIgnoreCase(to)),
          s"ALTER TABLE ${ident.name()}: '$to' was renamed away " +
            "earlier — reusing it would fold this column into the " +
            "old rename target; use a fresh name")
        guardStructural(m, from, "RENAME COLUMN")
        renameEvents += (from -> to)
        m + (GraftCatalog.SchemaKey -> StructType(declared.fields.map(
          f => if (f.name.equalsIgnoreCase(from)) f.copy(name = to)
               else f)).json)

      // ALTER TABLE … DROP COLUMN: the declared schema loses the
      // column and its name is tombstoned; the physical bytes stay
      // (reads project the declaration), and the table flips to sync
      // evolution so later INSERTs may omit it.
      case (m, c: TableChange.DeleteColumn) =>
        require(c.fieldNames().length == 1,
          s"ALTER TABLE ${ident.name()} DROP COLUMN: nested field " +
            s"${c.fieldNames().mkString(".")} — graft schemas are flat")
        val name = c.fieldNames()(0)
        val declared = declaredOf(m, "DROP COLUMN")
        if (!declared.fieldNames.exists(_.equalsIgnoreCase(name))) {
          if (c.ifExists()) m
          else throw new IllegalArgumentException(
            s"ALTER TABLE ${ident.name()}: no column '$name'")
        } else {
          require(declared.fields.length > 1,
            s"ALTER TABLE ${ident.name()}: cannot drop the only column")
          guardStructural(m, name, "DROP COLUMN")
          val dropped = (commaSet(m, GraftCatalog.DroppedKey) +
            name.toLowerCase).toSeq.sorted.mkString(",")
          m + (GraftCatalog.SchemaKey -> StructType(declared.fields
            .filterNot(_.name.equalsIgnoreCase(name))).json) +
            (GraftCatalog.DroppedKey -> dropped) +
            ("schemaMode" -> "sync")
        }

      // ALTER TABLE … ALTER COLUMN … TYPE: widening only (reads cast
      // historical narrow physical values to the declared type).
      case (m, c: TableChange.UpdateColumnType) =>
        require(c.fieldNames().length == 1,
          s"ALTER TABLE ${ident.name()} ALTER COLUMN TYPE: nested " +
            s"field ${c.fieldNames().mkString(".")} — graft schemas " +
            "are flat")
        val name = c.fieldNames()(0)
        val declared = declaredOf(m, "ALTER COLUMN TYPE")
        val field = declared.fields
          .find(_.name.equalsIgnoreCase(name))
          .getOrElse(throw new IllegalArgumentException(
            s"ALTER TABLE ${ident.name()}: no column '$name'"))
        require(widens(field.dataType, c.newDataType()),
          s"ALTER TABLE ${ident.name()}: ${field.dataType.simpleString}" +
            s" → ${c.newDataType().simpleString} is not a widening " +
            "(tinyint→smallint→int→bigint, float→double) — anything " +
            "else needs a rewrite")
        // partition columns' types are recorded in _part_schema and
        // parsed from paths — widening one silently re-keys partitions
        require(!commaSet(m, "partitionColumns")
            .contains(name.toLowerCase),
          s"ALTER TABLE ${ident.name()}: '$name' is a partition " +
            "column — its type is path-encoded; rewrite to change it")
        m + (GraftCatalog.SchemaKey -> StructType(declared.fields.map(
          f => if (f.name.equalsIgnoreCase(name))
                 f.copy(dataType = c.newDataType())
               else f)).json) +
          ("schemaMode" -> "sync")

      case (_, c) => throw new UnsupportedOperationException(
        s"ALTER TABLE ${ident.name()}: $c — graft supports " +
          "ADD COLUMNS, RENAME COLUMN, DROP COLUMN, widening ALTER " +
          "COLUMN TYPE, and table properties; other schema changes " +
          "evolve on write (tblproperty schemaMode=sync), not by DDL")
    }
    // read-validate-write under the DATA root's commit lock: two
    // concurrent ALTERs must not both build on one snapshot of the
    // meta and of `_column_renames.json` (the later write would drop
    // the earlier change)
    val dataP = Paths.get(dataRootS)
    Files.createDirectories(dataP)
    TableFs.withCommitLock(dataP) {
      val updated = updatedOf(readMeta(root))
      renameEvents.foreach { case (from, to) =>
        VersionedTable.addColumnRename(dataRootS, from, to)
      }
      writeMeta(metaFile(root), updated)
    }
    graftTable(ident, root, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    // DROP on an external (LOCATION) table removes the catalog entry
    // and KEEPS the data — PURGE removes both (Iceberg's contract)
    val stub = tablePath(ident)
    if (!isTableDir(stub)) false
    else { GraftCatalog.deleteRecursively(stub); true }
  }

  override def purgeTable(ident: Identifier): Boolean = {
    val stub = tablePath(ident)
    if (!isTableDir(stub)) return false
    val data = dataRoot(stub)
    GraftCatalog.deleteRecursively(stub)
    if (data != stub) GraftCatalog.deleteRecursively(data)
    true
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    val to = tablePath(newIdent)
    if (isTableDir(to)) throw new TableAlreadyExistsException(newIdent)
    val ns = nsPath(newIdent.namespace())
    if (newIdent.namespace().nonEmpty && !Files.isDirectory(ns))
      throw new NoSuchNamespaceException(
        catalogName +: newIdent.namespace())
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  // ---- ViewCatalog -------------------------------------------------------
  // Persisted SQL views: `warehouse/<ns…>/<view>/_graft_view.json`
  // stores the SQL text + the creation context (catalog/namespace for
  // re-anchoring bare names) + the resolved schema. Views are
  // resolved at READ by graft.plans.GraftViewSql (stock Spark 4.1 has
  // the ViewCatalog API but neither V2 view commands nor SELECT
  // resolution — the same extension seam Iceberg uses).

  private def isViewDir(p: Path): Boolean =
    Files.exists(p.resolve(GraftCatalog.ViewFile))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val dir = nsPath(ns)
    if (!Files.isDirectory(dir))
      throw new NoSuchNamespaceException(catalogName +: ns)
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
      .filter(isViewDir)
      .map(p => Identifier.of(ns, p.getFileName.toString))
      .sortBy(_.name())
      .toArray
    finally s.close()
  }

  override def viewExists(ident: Identifier): Boolean =
    isViewDir(tablePath(ident))

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    val dir = tablePath(ident)
    if (!isViewDir(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    val m = readMeta0(dir.resolve(GraftCatalog.ViewFile))
    val identName =
      (catalogName +: ident.namespace() :+ ident.name()).mkString(".")
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String = identName
      override def query(): String = m.getOrElse("sql", "")
      override def currentCatalog(): String =
        m.getOrElse("currentCatalog", catalogName)
      override def currentNamespace(): Array[String] = {
        val ns = m.getOrElse("currentNamespace", "")
        if (ns.isEmpty) Array.empty else ns.split('/')
      }
      override def schema(): StructType =
        m.get("schema").map(j =>
          DataType.fromJson(j).asInstanceOf[StructType])
          .getOrElse(new StructType())
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] =
        m.get("aliases").map(j =>
          DataType.fromJson(j).asInstanceOf[StructType]
            .fieldNames).getOrElse(Array.empty)
      override def columnComments(): Array[String] = Array.empty
      override def properties(): java.util.Map[String, String] =
        m.filter(_._1.startsWith("p:"))
          .map { case (k, v) => k.substring(2) -> v }.asJava
    }
  }

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View =
    writeViewMeta(info, replace = false)

  override def replaceView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      orCreate: Boolean)
      : org.apache.spark.sql.connector.catalog.View = {
    if (!orCreate && !viewExists(info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident())
    writeViewMeta(info, replace = true)
  }

  private def writeViewMeta(
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      replace: Boolean)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    val dir = tablePath(ident)
    if (isTableDir(dir))
      throw new TableAlreadyExistsException(ident)
    if (!replace && isViewDir(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    val ns = nsPath(ident.namespace())
    if (ident.namespace().nonEmpty && !Files.isDirectory(ns))
      throw new NoSuchNamespaceException(catalogName +: ident.namespace())
    val aliasSchema = StructType(Option(info.columnAliases())
      .getOrElse(Array.empty[String])
      .map(a => org.apache.spark.sql.types.StructField(a,
        org.apache.spark.sql.types.StringType)))
    val m: Map[String, String] = Map(
      "sql" -> info.sql(),
      "currentCatalog" -> info.currentCatalog(),
      "currentNamespace" -> info.currentNamespace().mkString("/"),
      "schema" -> info.schema().json) ++
      (if (aliasSchema.nonEmpty) Map("aliases" -> aliasSchema.json)
       else Map.empty) ++
      Option(info.properties()).map(_.asScala.toMap)
        .getOrElse(Map.empty)
        .filterNot { case (k, _) => org.apache.spark.sql.connector
          .catalog.ViewCatalog.RESERVED_PROPERTIES.contains(k) }
        .map { case (k, v) => s"p:$k" -> v }
    writeMeta(dir.resolve(GraftCatalog.ViewFile), m)
    // a new view must defeat any cached not-a-view probe result
    graft.plans.GraftViewLookups.invalidate()
    loadView(ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    val dir = tablePath(ident)
    if (!isViewDir(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(ident)
    import org.apache.spark.sql.connector.catalog.ViewChange
    val f = dir.resolve(GraftCatalog.ViewFile)
    // read-modify-write under the view dir's lock: two concurrent
    // ALTERs must each see the other's properties
    TableFs.withCommitLock(dir) {
      writeMeta(f, changes.foldLeft(readMeta0(f)) {
        case (m, c: ViewChange.SetProperty) =>
          m + (s"p:${c.property()}" -> c.value())
        case (m, c: ViewChange.RemoveProperty) =>
          m - s"p:${c.property()}"
        case (_, c) => throw new UnsupportedOperationException(
          s"ALTER VIEW ${ident.name()}: $c")
      })
    }
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    val dir = tablePath(ident)
    if (!isViewDir(dir)) false
    else {
      GraftCatalog.deleteRecursively(dir)
      graft.plans.GraftViewLookups.invalidate()
      true
    }
  }

  override def renameView(oldIdent: Identifier,
                          newIdent: Identifier): Unit = {
    val from = tablePath(oldIdent)
    if (!isViewDir(from))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent)
    val to = tablePath(newIdent)
    if (isViewDir(to) || isTableDir(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    graft.plans.GraftViewLookups.invalidate()
  }

  /** Parse a flat escaped-string-map JSON file (table meta or view
    * definition — what [[writeMeta]] publishes).
    */
  private def readMeta0(p: Path): Map[String, String] = {
    if (!Files.exists(p)) return Map.empty
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val re = """"((?:[^"\\]|\\.)+)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    re.findAllMatchIn(txt).flatMap { m =>
      try Some(VersionedTable.unescJson(m.group(1)) ->
        VersionedTable.unescJson(m.group(2)))
      catch { case _: IllegalArgumentException => None }
    }.toMap
  }

  // ---- SupportsNamespaces ----------------------------------------------

  private def childNamespaces(dir: Path): Seq[String] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) && !isTableDir(p) &&
        !isViewDir(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(_.getFileName.toString).sorted
    finally s.close()
  }

  override def listNamespaces(): Array[Array[String]] =
    childNamespaces(warehouse).map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val dir = nsPath(namespace)
    if (namespace.nonEmpty && !Files.isDirectory(dir))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    childNamespaces(dir).map(n => namespace :+ n).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (namespace.isEmpty)
      return java.util.Collections.emptyMap[String, String]()
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir) || isTableDir(dir))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    java.util.Collections.singletonMap("location", dir.toString)
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val dir = nsPath(namespace)
    if (Files.isDirectory(dir))
      throw new NamespaceAlreadyExistsException(
        catalogName +: namespace)
    Files.createDirectories(dir)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces are plain directories — no metadata to alter")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) return false
    val s = Files.list(dir)
    val empty = try !s.iterator().hasNext finally s.close()
    if (!empty && !cascade)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty — " +
          "DROP … CASCADE to remove its tables")
    GraftCatalog.deleteRecursively(dir)
    true
  }
}

private[graft] object GraftCatalog {
  /** Declared-schema + properties sidecar a catalog table carries from
    * CREATE TABLE until its first commit (and for its properties
    * thereafter).
    */
  val MetaFile = "_graft_catalog.json"
  val SchemaKey = "__schema"
  val LocationKey = "location"

  /** Persisted-view sidecar: SQL text + creation context + schema. */
  val ViewFile = "_graft_view.json"

  /** Tombstoned (DROPped) column names, comma-separated lowercase —
    * excluded from the sync-mode observable schema union (the bytes
    * stay in old files) and blocked from re-ADD.
    */
  val DroppedKey = "__graft_dropped"

  /** Widening-safe type transitions (reads cast historical narrow
    * physical values up; anything else needs a rewrite).
    */
  def widensType(from: org.apache.spark.sql.types.DataType,
                 to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    (from, to) match {
      case (FloatType, DoubleType) => true
      case (f, t) if intRank.contains(f) && intRank.contains(t) =>
        intRank(f) < intRank(t)
      case _ => false
    }
  }

  /** Planner/scan option keys a TABLE PROPERTY must never set — a
    * TBLPROPERTY flows into every read's option map, so e.g.
    * 'versionAsOf' as a property would pin all future SELECTs to one
    * snapshot and 'metadata' would turn the table into its own file
    * listing. Rejected loudly at CREATE/ALTER and stripped
    * defensively at load.
    */
  val ReservedOptionKeys: Set[String] = Set(
    "versionasof", "ref", "changesfrom", "changesto", "metadata",
    "withdeletes", "branch")

  private[sources] def normalizePath(p: String): Path =
    if (p.startsWith("file:")) Paths.get(java.net.URI.create(p))
    else Paths.get(p)

  /** Spark-managed table properties that must not leak into the
    * write-option space.
    */
  val ReservedProps: Set[String] = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_COMMENT, TableCatalog.PROP_COLLATION,
    TableCatalog.PROP_IS_MANAGED_LOCATION, TableCatalog.PROP_TABLE_TYPE)

  private[sources] def deleteRecursively(p: Path): Unit =
    VersionedTable.deleteRecursively(p)

  /** Existing file, or a directory with at least one entry. */
  private[sources] def nonEmptyDir(p: Path): Boolean =
    Files.exists(p) && (!Files.isDirectory(p) || {
      val s = Files.list(p)
      try s.iterator().hasNext finally s.close()
    })

  /** Delete `.{name}.ctas-*` / `.{name}.replaced-*` siblings older
    * than a day under a namespace dir — debris a crashed CTAS/RTAS
    * driver left behind (abort never ran). Best-effort.
    */
  private[sources] def reapStaleStaging(ns: Path,
                                        maxAgeMs: Long =
                                          24L * 3600 * 1000): Unit =
    try {
      if (!Files.isDirectory(ns)) return
      val cutoff = System.currentTimeMillis() - maxAgeMs
      val s = Files.list(ns)
      try s.iterator().asScala.toSeq
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".") &&
            (n.contains(".ctas-") || n.contains(".replaced-")) &&
            Files.isDirectory(p) &&
            Files.getLastModifiedTime(p).toMillis < cutoff
        }
        .foreach(p => try deleteRecursively(p)
          catch { case _: Exception => () })
      finally s.close()
    } catch { case _: Exception => () }
}

/** The staged CTAS/RTAS table: a normal [[GraftTable]] rooted at the
  * hidden staging dir (so the AS-SELECT write runs the full native
  * DSv2 write path — keys, partitions, sidecars), plus the
  * commit/abort hooks the atomic exec drives. Publication is the
  * catalog's atomic directory move; abort deletes the staging dir.
  */
private[sources] class GraftStagedTable(inner: GraftTable,
    onCommit: () => Unit, onAbort: () => Unit)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog
        .TableCapability] = inner.capabilities()
  override def properties(): java.util.Map[String, String] =
    inner.properties()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = onCommit()
  override def abortStagedChanges(): Unit = onAbort()
}
