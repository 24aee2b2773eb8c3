package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{array, coalesce, col, concat, explode, expr, length, lit, max, min, shiftleft, struct, substring_index, when, xxhash64}
import org.apache.spark.sql.sources.Filter
import graft.sources.{GraftFilterColumns, GraftScanAudit, GraftScanPlanner}
import TableFs.withCommitLock

/** Poor-man's commit protocol for the parquet-native upsert path —
  * closes the [[MergeWriter]] concurrency window (its dir swap gives a
  * sub-second interval in which a concurrent reader lists NO table
  * directory).
  *
  * Layout: `root/_manifest.json` names the live SNAPSHOT of a flat
  * table as an ordered list of whole, immutable version dirs — its
  * "segments" — among immutable versioned siblings:
  *
  * {{{
  *   root/_manifest.json      {"version": 7, "live": ["v00000006", "v00000007"]}
  *   root/v00000006/...       the rows committed up to v6 (carried)
  *   root/v00000007/...       only the rows v7 appended
  * }}}
  *
  * A one-segment snapshot renders `"live": "v00000007"` (the only form
  * earlier releases wrote, so their tables read unchanged). A commit
  * that only ADDS rows (append, an upsert whose key range footer
  * stats show misses every live file, a MERGE that only inserts)
  * writes a new dir holding just those rows and carries the live
  * segments forward by reference; every other commit writes
  * the whole snapshot into one new dir. Past [[MaxFlatSegments]]
  * segments an append rewrites the whole snapshot too, which bounds
  * read planning (one scan per segment). Every history entry records
  * its snapshot's segment list; [[flatSegments]] is the one parser of
  * the list and [[entryDirs]] the one reader of an entry's dirs.
  *
  * Commit = write the NEW version directory completely, then replace
  * the manifest through [[TableFs]] (the one publish primitive: every
  * table-state file and version dir goes through it). Readers resolve the
  * manifest first and read the named directories, so they always see a
  * complete, immutable snapshot: the swap window of the rename
  * protocol simply does not exist. Retention keeps every dir that a
  * retained snapshot lists: the newest `keepVersions` main-line
  * snapshots, every ref'd one and the live one. A dir carried by
  * reference therefore lives as long as the newest snapshot that
  * lists it, and a reader that resolved the previous manifest finishes
  * its scan (long-running readers at 100 TB want a real table format).
  *
  * This is deliberately the smallest useful subset of a transactional
  * table format: linear version history, atomic manifest flip,
  * snapshot-isolated reads, and (round 8) OPTIMISTIC WRITER
  * CONCURRENCY: data is written to a uniquely-named staging directory
  * in parallel, and the version assignment + manifest flip happen
  * under a short commit lock with a compare-and-set on the base
  * version — a writer whose merge was computed against a superseded
  * snapshot gets [[ConcurrentCommitException]] and the write verbs
  * ([[upsert]], [[append]], ...) re-read and re-merge, so interleaved writers
  * can never silently drop each other's rows (lost-update
  * impossibility is proven by VersionedTableSpec's interleaved-writer
  * tests). A production deployment still upgrades to Delta/Iceberg for
  * file-level stats and multi-cluster coordination; the reference
  * sidesteps all of this by upserting into Postgres,
  * transformation/clean_data.py:222-243.
  */
object VersionedTable {

  /** A flat table's live manifest: the version and its ordered
    * segment dirs (oldest first).
    */
  final case class Manifest(version: Long, segments: Seq[String])

  /** Segment count past which an append rewrites the whole snapshot
    * into one dir instead of adding a segment — the bound on scans per
    * flat read plan.
    */
  private[graft] val MaxFlatSegments = 16

  /** The live version moved past the base a writer merged against —
    * re-read and retry ([[upsert]] does this automatically).
    */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  private def stagingDir(root: Path): Path =
    root.resolve(s"_staging-${java.util.UUID.randomUUID}")

  private def manifestPath(root: Path): Path = root.resolve("_manifest.json")

  /** Parse the 2-field manifest. Tolerant of whitespace; None when the
    * table has never committed.
    */
  def readManifest(root: String): Option[Manifest] = {
    val p = manifestPath(Paths.get(root))
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val vm = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
      for (v <- vm; l <- flatSegments(s)) yield
        Manifest(v.group(1).toLong, l)
    }
  }

  /** THE parser of a flat manifest's or history entry's segment list:
    * `"live"` holds one dir name or a JSON list of them. None when the
    * body has no `"live"` field (a partitioned body).
    */
  private def flatSegments(body: String): Option[Seq[String]] =
    """"live"\s*:\s*(?:"([^"]+)"|\[([^\]]*)\])""".r
      .findFirstMatchIn(body).map { m =>
        Option(m.group(1)).map(Seq(_)).getOrElse(
          """"([^"]+)"""".r.findAllMatchIn(m.group(2))
            .map(_.group(1)).toSeq)
      }

  /** The inverse of [[flatSegments]]: one segment renders as a plain
    * string (the only form earlier releases wrote), several as a list.
    * `branch` marks a branch commit's history entry.
    */
  private def renderFlatManifest(version: Long, segments: Seq[String],
                                 branch: Option[String] = None): String = {
    require(segments.nonEmpty, s"flat snapshot v$version lists no dir")
    val live =
      if (segments.size == 1) s""""${segments.head}""""
      else segments.map(d => s""""$d"""").mkString("[", ", ", "]")
    s"""{"version": $version, "live": $live""" +
      branch.map(b => s""", "branch": "${escJson(b)}"""").getOrElse("") +
      "}"
  }

  /** The data dirs a manifest or history entry body of version `v`
    * references: a partitioned body's mapped dirs, else a flat body's
    * segments, else the conventional `vNNNNNNNN`. Every retention,
    * orphan and readability check goes through here — a reader that
    * saw only one segment would let `removeOrphans` delete live data.
    */
  private def entryDirs(body: String, v: Long): Seq[String] =
    bodyDirs(body).getOrElse(Seq(versionDirName(v)))

  private def bodyDirs(body: String): Option[Seq[String]] =
    parsePartitionedManifest(body)
      .map(_.partitions.values.toSeq.distinct.sorted)
      .orElse(flatSegments(body))

  /** The data dirs the live manifest references, either table form
    * (empty before the first commit).
    */
  private def liveDirs(rootP: Path): Set[String] = {
    val p = manifestPath(rootP)
    if (!Files.exists(p)) Set.empty
    else bodyDirs(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .map(_.toSet).getOrElse(Set.empty)
  }

  /** Hidden per-row write-sequence column: every writer of either
    * table form stamps the rows it adds with the commit version that
    * wrote them (rewrites carry old stamps forward), which is what
    * lets equality deletes use Iceberg's sequence-number rule (a
    * delete masks only rows written at-or-before it). Stripped from
    * every public read; present in the physical parquet.
    */
  private[graft] val SeqCol = "_graft_seq"

  // ------------------------------------------------------------------
  // COLUMN RENAMES (`_column_renames.json`): ALTER TABLE … RENAME
  // COLUMN is METADATA-ONLY — an ordered event list at the table root;
  // every core read normalizes superseded physical names to the
  // current logical name (old files keep their bytes; files written
  // before and after a rename meet in one frame only through
  // unionByName/mergeSchema, where the normalization coalesces them).
  // Writes always use current names, so new files need no mapping.
  // Pruning stays SOUND without translation: sidecar stats of
  // pre-rename files are keyed by the old name, a filter on the new
  // name finds no bounds, and a boundless file always scans — renamed
  // columns lose skipping for old files only, and any compaction/
  // vacuum rewrite migrates them (its read is normalized). The
  // catalog layer guards the unsafe renames (partition columns, merge
  // keys, constraint references) — see GraftCatalog.alterTable.
  // ------------------------------------------------------------------

  private def renamesPath(rootP: Path): Path =
    rootP.resolve("_column_renames.json")

  /** Ordered rename events (oldest first): Seq(from -> to). */
  def columnRenames(root: String): Seq[(String, String)] = {
    val p = renamesPath(Paths.get(root))
    if (!Files.exists(p)) return Seq.empty
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val re = """\{"from"\s*:\s*"((?:[^"\\]|\\.)+)"\s*,\s*"to"\s*:\s*"((?:[^"\\]|\\.)+)"\}""".r
    re.findAllMatchIn(txt).map(m =>
      unescJson(m.group(1)) -> unescJson(m.group(2))).toSeq
  }

  /** Append a rename event (read-modify-write: callers serialize it
    * under the table's commit lock, as GraftCatalog.alterTable does).
    */
  def addColumnRename(root: String, from: String, to: String): Unit = {
    require(from.nonEmpty && to.nonEmpty && from != to,
      s"rename $from -> $to is not a rename")
    // validate against the FULL internal-name surface, not just the
    // MoR entry keys: renaming onto the read-time address columns
    // would let normalizeRenames coalesce user data into position-
    // delete addressing (wrong rows deleted); onto _del_seq, break
    // the equality-delete mask; onto a merge temp, corrupt MERGE
    // routing. The `__graft` prefix is reserved wholesale (all
    // plan-side temps live there).
    def internal(n: String): Boolean =
      MorReservedCols(n) || n == SeqCol || n == DelSeqCol ||
        n == AddrPathCol || n == AddrPosCol || n.startsWith("__graft")
    require(!internal(to) && !internal(from),
      s"rename $from -> $to collides with internal column names")
    val events = columnRenames(root) :+ (from -> to)
    TableFs.publishFile(renamesPath(Paths.get(root)), events.map {
      case (f, t) => s"""{"from": "${escJson(f)}", "to": "${escJson(t)}"}"""
    }.mkString("[", ", ", "]"))
  }

  /** Fold superseded physical column names into their current logical
    * names, applying events in order so chains (a→b, b→c) resolve.
    * A frame carrying BOTH generations of a name (mixed-generation
    * union) coalesces old into new per row. Identity when no rename
    * was ever recorded — zero cost on the common path.
    */
  private[graft] def normalizeRenames(root: String,
                                      df: DataFrame): DataFrame = {
    val events = columnRenames(root)
    if (events.isEmpty) return df
    events.foldLeft(df) { case (d, (from, to)) =>
      val cols = d.columns
      if (!cols.contains(from)) d
      else if (!cols.contains(to)) d.withColumnRenamed(from, to)
      else d.withColumn(to, coalesce(col(s"`$to`"), col(s"`$from`")))
        .drop(from)
    }
  }

  /** Read the live snapshot, either table form (base rows: no delete
    * is applied). Fails if the table has never committed.
    */
  def readLive(spark: SparkSession, root: String): DataFrame =
    readLiveStamped(spark, root).drop(SeqCol)

  /** [[readLive]] keeping (and defaulting) the hidden write-sequence
    * column — internal: the sub-table reads that compare commit
    * stamps need it; rows from pre-stamping commits (or raw
    * [[commit]] calls) default to sequence 0.
    */
  private def readLiveStamped(spark: SparkSession, root: String): DataFrame =
    unionDirs(root, dirFrames(spark, root, liveView(root)), addressed = false)

  /** THE stamp-defaulting rule, in one place: a missing or null
    * [[SeqCol]] means sequence 0 — "masked by any delete", the
    * conservative pre-stamping behavior. The read path and the merge
    * path must agree on this or deletes mask different rows in each.
    */
  private[graft] def stampDefaulted(df: DataFrame): DataFrame =
    if (df.columns.contains(SeqCol))
      df.withColumn(SeqCol, coalesce(col(SeqCol), lit(0L)))
    else df.withColumn(SeqCol, lit(0L))

  // ------------------------------------------------------------------
  // Parquet-schema memo over version dirs. Every
  // `spark.read.parquet(...)` without a user schema launches a 1-task
  // footer-inference Spark job, and a single DML statement re-reads
  // the same immutable version dirs a dozen-plus times (snapshot
  // re-validation, address attachment, sub-table folds) — ~30 such
  // jobs per q332-style statement. Version dirs never change once
  // committed, but a table root CAN be dropped and re-created under
  // the SAME deterministic dir names (v00000001) across runs, so a
  // pure path key would serve stale schemas: the key carries a
  // listing token (digest of every child's name:size — part-file
  // names are UUIDs, so recreation always moves the token). A token
  // hit can only return what re-inference would: same files ⇒ same
  // footers ⇒ same schema. The memoized value is a session-free
  // StructType, NOT a DataFrame — plans bind to a SparkSession and a
  // stopped one would leak/fail; re-issuing the read with an explicit
  // schema skips the inference job, which is the expensive part.
  // ------------------------------------------------------------------
  private val schemaMemo = new graft.core.FingerprintMemo[
    String, org.apache.spark.sql.types.StructType](1024)

  /** Digest of the paths' current contents: per dir the sorted
    * (childName:size:mtime) list, per plain file its own
    * (name:size:mtime), "!absent" otherwise. Cheap NIO vs a Spark
    * inference job. mtime closes the size-preserving in-place-edit
    * hole: no engine path edits parquet in place (commits always
    * write new dirs), but an external writer could.
    */
  private[graft] def listingToken(paths: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def mix(s: String): Unit =
      md.update(s.getBytes(StandardCharsets.UTF_8))
    def stamp(p: Path): String = {
      val sz = try Files.size(p) catch { case _: Throwable => -1L }
      val mt = try Files.getLastModifiedTime(p).toMillis
        catch { case _: Throwable => -1L }
      sz + ":" + mt
    }
    paths.foreach { p =>
      mix(p.toString); mix("|")
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          val entries = s.iterator().asScala.map { c =>
            c.getFileName.toString + ":" + stamp(c)
          }.toArray
          scala.util.Sorting.quickSort(entries)
          entries.foreach { e => mix(e); mix(",") }
        } finally s.close()
      } else if (Files.isRegularFile(p)) {
        mix("f:" + stamp(p))
      } else mix("!absent")
    }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Session confs that change what parquet schema inference returns —
    * part of every schema-memo key so a second session with different
    * confs is never served the first session's inference.
    */
  private def inferenceConfKey(spark: SparkSession): String =
    Seq("spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp",
        "spark.sql.parquet.inferTimestampNTZ",
        "spark.sql.caseSensitive",
        "spark.sql.legacy.parquet.nanosAsLong")
      .map(k => spark.conf.getOption(k).getOrElse(""))
      .mkString(",")

  /** The inference side of [[schemaMemo]]: returns the memoized
    * schema for (kind, base, extra, inference confs, current listing
    * of paths), computing via `infer` on the first sight of this
    * exact file set.
    * Forced NULLABLE: Spark's own inference path relaxes file-source
    * schemas to nullable, but a USER schema is trusted verbatim — a
    * `required` parquet field would reach Catalyst as nullable=false
    * and let it constant-fold the null checks the MoR mask / missing-
    * column union null-fills rely on (caught by ColumnMappingSpec's
    * pending-post-image read, which returned nulls for real values).
    */
  private def memoSchema(spark: SparkSession, kind: String, base: String,
                         paths: Seq[String], extra: String = "")(
      infer: => org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    schemaMemo.getOrElseUpdate(
      kind + "|" + base + "|" + extra + "|" + inferenceConfKey(spark) +
        "|" + listingToken(paths.map(Paths.get(_))))(
      graft.core.SchemaMemoUtil.relaxNullable(infer)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Read ONE file's footer message type — driver metadata IO. */
  private def readFooterType(f: Path)
      : org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri),
      new org.apache.hadoop.conf.Configuration())
    val r = ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema
    finally r.close()
  }

  /** Driver-side single-footer inference for a file set with NO
    * partition-path segments (every file a direct child of `base`):
    * Spark's no-mergeSchema inference job reads one footer and runs
    * `ParquetToSparkSchemaConverter` on it — this is the same
    * conversion (same converter, same session confs) without the
    * 1-task Spark job. None when partition columns would apply
    * (files in subdirs — value parsing is Spark's job) or the footer
    * read fails; callers fall back to the inference job.
    */
  private def driverInferred(spark: SparkSession, base: Path,
                             files: Seq[Path])
      : Option[org.apache.spark.sql.types.StructType] =
    if (files.isEmpty || files.exists(f => f.getParent != base)) None
    else try {
      Some(org.apache.spark.sql.graft.SqlShims
        .parquetFooterSchema(spark, readFooterType(files.head)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `spark.read.parquet` over ONE immutable flat version dir with
    * schema inference memoized — see [[schemaMemo]].
    */
  private[graft] def memoFlatParquet(spark: SparkSession,
                                     dir: Path): DataFrame = {
    val d = dir.toString
    val schema = memoSchema(spark, "flat", d, Seq(d))(
      driverInferred(spark, dir, dataFilesUnder(dir))
        .getOrElse(spark.read.parquet(d).schema))
    spark.read.schema(schema).parquet(d)
  }

  /** basePath-anchored read of an immutable version dir's file SUBSET
    * with inference memoized per exact file set — the stat-pruned
    * survivor reads. See [[schemaMemo]].
    */
  private[graft] def memoFilesParquet(spark: SparkSession, base: Path,
                                      files: Seq[String]): DataFrame = {
    val b = base.toString
    val schema = memoSchema(spark, "files", b, files)(
      driverInferred(spark, base, files.map(Paths.get(_)))
        .getOrElse(
          spark.read.option("basePath", b).parquet(files: _*).schema))
    spark.read.schema(schema).option("basePath", b).parquet(files: _*)
  }

  private val footerSchemaMemo =
    new graft.core.FingerprintMemo[String, String](4096)

  /** Canonical string of ONE parquet file's footer message schema —
    * driver-side metadata read, memoized per (path, size, mtime). The
    * currency of the vacuum fold's per-file uniformity probe: Spark's
    * no-mergeSchema reads infer from a single footer, which is only
    * sound over a file set whose footers all agree; two files written
    * by the same commit always produce the same string, so a false
    * mismatch can only force a (safe) full rewrite, never a wrong copy.
    */
  private def footerSchemaKey(f: Path): String = {
    val id = f.toString + ":" +
      (try Files.size(f) catch { case _: Throwable => -1L }) + ":" +
      (try Files.getLastModifiedTime(f).toMillis
       catch { case _: Throwable => -1L })
    footerSchemaMemo.getOrElseUpdate(id)(readFooterType(f).toString)
  }

  /** Do all of `fs` share one footer schema? (Empty/singleton: yes.) */
  private def footersUniform(fs: Seq[Path]): Boolean =
    fs.size <= 1 || {
      val h = footerSchemaKey(fs.head)
      fs.tail.forall(footerSchemaKey(_) == h)
    }

  /** Driver-side inference for PARTITION-LEAF reads: data fields from
    * one footer (as [[driverInferred]]) plus the partition columns
    * parsed off the leaf paths, typed by the table's recorded
    * `_part_schema.json`. Spark's inference job does exactly this —
    * footer conversion + partition-column append in path-segment
    * order — with VALUE-based type guessing where we use the recorded
    * types instead, which is what [[readLeavesTyped]] overrides the
    * guess with anyway. None (→ Spark job fallback) whenever anything
    * is irregular: a column without a recorded type, leaves at mixed
    * depths, a partition name shadowing a data field (mid-migration
    * dirs carry the value in DATA files), files not directly under
    * their leaf.
    */
  // each bail is one DEBUG line (enable with
  // `logger.graft.name = graft.sinks.VersionedTable`,
  // `logger.graft.level = debug` in the log4j2 config)
  private val log = org.apache.logging.log4j.LogManager
    .getLogger("graft.sinks.VersionedTable")
  private def dilBail(why: String, base: Path)
      : Option[org.apache.spark.sql.types.StructType] = {
    log.debug(s"driver leaf inference bailed: $why base=$base")
    None
  }

  private def driverInferredLeaves(spark: SparkSession, base: Path,
      leaves: Seq[String],
      recorded: Map[String, org.apache.spark.sql.types.DataType])
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      import org.apache.spark.sql.types.{StructField, StructType}
      val leafPaths = leaves.map(Paths.get(_))
      // a leaf may be a partition DIRECTORY (manifest-key reads) or a
      // data FILE (the stat-pruning survivor reads): Spark's partition
      // discovery derives the columns from the dirs between basePath
      // and each file, so a file leaf's segments are its PARENT's.
      val isFile = leafPaths.map(Files.isRegularFile(_))
      val segSeqs = leafPaths.zip(isFile).map { case (lp, f) =>
        import scala.jdk.CollectionConverters._
        val rel = base.relativize(lp).iterator().asScala
          .map(_.toString).toSeq
        val dirSegs = if (f) rel.dropRight(1) else rel
        dirSegs.map { seg =>
          val i = seg.indexOf('=')
          if (i <= 0) return dilBail(s"no-eq-segment:$seg", base)
          seg.substring(0, i)
        }
      }
      val names = segSeqs.headOption.getOrElse(
        return dilBail("no-leaves", base))
      if (!segSeqs.forall(_ == names) || names.distinct != names)
        return dilBail(s"mixed-or-dup-names:$names", base)
      // empty names = a FLAT file list (files directly under base):
      // Spark appends no partition columns there — sound only when
      // every leaf is a file (a flat DIRECTORY leaf is the
      // driverInferred shape, not this one)
      if (names.isEmpty && !isFile.forall(identity))
        return dilBail("flat-dir-leaf", base)
      if (!names.forall(recorded.contains))
        return dilBail(s"unrecorded:${names.filterNot(recorded.contains)}",
          base)
      val filesByLeaf = leafPaths.zip(isFile).map { case (lp, f) =>
        if (f) lp.getParent -> Seq(lp) else lp -> dataFilesUnder(lp)
      }
      if (filesByLeaf.exists { case (lp, fs) =>
            fs.exists(_.getParent != lp) })
        return dilBail("files-below-leaf", base)
      val first = filesByLeaf.iterator.map(_._2).find(_.nonEmpty)
        .map(_.head).getOrElse(return dilBail("all-empty", base))
      val data = org.apache.spark.sql.graft.SqlShims
        .parquetFooterSchema(spark, readFooterType(first))
      if (names.exists(n => data.exists(_.name.equalsIgnoreCase(n))))
        return dilBail("shadowed-name", base)
      Some(StructType(data.fields ++
        names.map(n => StructField(n, recorded(n), nullable = true))))
    } catch { case scala.util.control.NonFatal(e) =>
      dilBail(s"exception:${e.getClass.getSimpleName}:${e.getMessage}",
        base)
    }

  // ------------------------------------------------------------------
  // Time travel (unpartitioned path). Each commit also appends an
  // IMMUTABLE per-version manifest under `root/_versions/vNNNNNNNN.json`
  // — a few bytes per commit, never rewritten, so the version history
  // survives manifest flips. A snapshot stays readable as long as its
  // data dir survives retention (`keepVersions`); reading a pruned
  // version fails loudly with the retention hint rather than returning
  // partial data. This is the reproducibility contract a training-data
  // pipeline needs: "read the exact corpus snapshot run X trained on",
  // with the honest limitation that retention bounds how far back
  // travel reaches (a real table format keeps file-level logs instead).
  // ------------------------------------------------------------------

  private[graft] def versionDirName(v: Long): String = f"v$v%08d"

  private def versionManifestPath(root: Path, v: Long): Path =
    root.resolve("_versions").resolve(s"${versionDirName(v)}.json")

  /** History entries appear ATOMICALLY ([[TableFs.publishFile]]'s
    * temp is dot-prefixed, so listings and the commit-discovery file
    * stream never see it): [[streamChanges]] subscribes to `_versions/`
    * as a file stream, and a half-written entry would make it skip
    * that commit forever.
    */
  private def writeHistoryEntry(rootP: Path, v: Long,
                                body: String): Unit =
    TableFs.publishFile(versionManifestPath(rootP, v), body)

  /** Is version `v`'s history entry a BRANCH commit (carries the
    * branch marker)? Branch commits are real, time-travelable
    * versions but are NOT on the main line: CDF walks and
    * TIMESTAMP AS OF must skip them.
    */
  private[graft] def isBranchVersion(root: String, v: Long): Boolean = {
    val p = versionManifestPath(Paths.get(root), v)
    Files.exists(p) && new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8).contains(""""branch":""")
  }

  /** [[versions]] restricted to MAIN-LINE commits — single pass over
    * the history entries (each file read once: branch marker, data
    * dirs, readability all come from the same bytes); this backs
    * TIMESTAMP AS OF and CDF default-range planning.
    */
  def mainlineVersions(root: String): Seq[Long] = {
    val rootP = Paths.get(root)
    val hist = rootP.resolve("_versions")
    if (!Files.isDirectory(hist)) return Seq.empty
    val s = Files.list(hist)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.flatMap { p =>
        """^v(\d{8})\.json$""".r
          .findFirstMatchIn(p.getFileName.toString)
          .map(_.group(1).toLong).flatMap { v =>
            val txt = new String(Files.readAllBytes(p),
              StandardCharsets.UTF_8)
            if (txt.contains(""""branch":""")) None
            else if (entryDirs(txt, v).forall(d =>
                Files.isDirectory(rootP.resolve(d)))) Some(v)
            else None
          }
      }.sorted
    } finally s.close()
  }

  /** The data dirs of the newest `k` MAIN-LINE history entries —
    * what the flat retention pass must preserve regardless of how
    * many numerically-newer BRANCH dirs exist (and a published
    * branch head's dir is referenced by a mainline entry, so sharing
    * survives too). Reads entries newest-first, stopping after `k`
    * mainline hits.
    */
  private def newestMainlineDirs(rootP: Path, k: Int): Set[String] = {
    val hist = rootP.resolve("_versions")
    if (!Files.isDirectory(hist)) return Set.empty
    val names = {
      val s = Files.list(hist)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
          .filter(_.getFileName.toString.matches("v\\d{8}\\.json"))
          .sortBy(_.getFileName.toString).reverse
      } finally s.close()
    }
    var found = 0
    val out = Set.newBuilder[String]
    val it = names.iterator
    while (found < k && it.hasNext) {
      val p = it.next()
      val txt = new String(Files.readAllBytes(p),
        StandardCharsets.UTF_8)
      if (!txt.contains(""""branch":""")) {
        found += 1
        out ++= entryDirs(txt, versionOfEntry(p))
      }
    }
    out.result()
  }

  /** The version number a `_versions/vNNNNNNNN.json` entry names. */
  private def versionOfEntry(p: Path): Long =
    p.getFileName.toString.substring(1, 9).toLong

  /** The data dirs version `v`'s history entry references (see
    * [[entryDirs]]): a flat entry's segments — normally ending in the
    * conventional `vNNNNNNNN`, but an append carries older segments
    * and a fast-forward publish references the BRANCH head's dirs
    * (dirs are immutable; sharing beats copying) — or a partitioned
    * entry's mapped dirs. The conventional dir when no entry exists.
    */
  private def versionDirs(rootP: Path, v: Long): Seq[String] = {
    val p = versionManifestPath(rootP, v)
    if (!Files.exists(p)) Seq(versionDirName(v))
    else entryDirs(new String(Files.readAllBytes(p),
      StandardCharsets.UTF_8), v)
  }

  /** Committed versions still readable (history entry AND data dir
    * both present), ascending.
    */
  def versions(root: String): Seq[Long] = {
    val rootP = Paths.get(root)
    val hist = rootP.resolve("_versions")
    if (!Files.isDirectory(hist)) Seq.empty
    else {
      val s = Files.list(hist)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
          .flatMap { p =>
            val n = p.getFileName.toString
            """^v(\d{8})\.json$""".r.findFirstMatchIn(n)
              .map(_.group(1).toLong)
          }
          .filter { v =>
            // readable = every data dir the entry references survives
            // (flat entries list their segments, shared with other
            // versions; partitioned entries reference their partition
            // map)
            versionDirs(rootP, v).forall(d =>
              Files.isDirectory(rootP.resolve(d)))
          }
          .sorted
      } finally s.close()
    }
  }

  /** (version, publishedAtEpochMillis) for every retained commit,
    * ascending. The publish instant is the history entry's mtime —
    * stamped by [[writeHistoryEntry]]'s atomic move, i.e. the moment
    * the commit became visible. Backs `TIMESTAMP AS OF` time travel:
    * the snapshot "as of t" is the newest version published ≤ t.
    */
  def versionPublishTimes(root: String): Seq[(Long, Long)] = {
    val rootP = Paths.get(root)
    versions(root).map { v =>
      v -> Files.getLastModifiedTime(versionManifestPath(rootP, v))
        .toMillis
    }
  }

  /** Read the snapshot a specific commit produced, either table form
    * (a partitioned entry records the FULL partition→dir map as of its
    * commit, so it reassembles exactly). Fails if the version was never
    * committed, or if retention already pruned a dir it lists.
    */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    // time travel presents the CURRENT logical names (the "query
    // through the current table definition" contract; per-snapshot
    // schema re-presentation would need versioned schema metadata)
    readPartitionedSnapshot(spark, root, versionView(root, version))

  /** The snapshot view committed `version` produced, either form —
    * failing loudly if the version was never committed or retention
    * pruned a dir its history entry lists.
    */
  private[graft] def versionView(root: String,
                                 version: Long): PartitionedManifest = {
    val rootP = Paths.get(root)
    val p = versionManifestPath(rootP, version)
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"version $version was never committed under $root")
    val body = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val v = parsePartitionedManifest(body)
      .getOrElse(flatView(version, entryDirs(body, version)))
    val pruned = v.partitions.values.toSeq.distinct.sorted
      .filterNot(d => Files.isDirectory(rootP.resolve(d)))
    if (pruned.nonEmpty)
      throw new IllegalStateException(
        s"version $version of $root was pruned by retention (" +
          pruned.mkString(", ") + " gone) — raise keepVersions on the " +
          "writes to travel further back")
    v
  }

  /** The immutable history entry of `version` parsed as a PARTITIONED
    * manifest — None for unpartitioned versions or never-committed
    * ones. The DSv2 planner uses it to file-prune historical
    * partitioned snapshots.
    */
  private[graft] def historyPartitionedManifest(
      root: String, version: Long): Option[PartitionedManifest] = {
    val p = versionManifestPath(Paths.get(root), version)
    if (!Files.exists(p)) None
    else parsePartitionedManifest(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  /** Keyed DIFF of two retained versions — the "what changed between
    * corpus v1 and v2" bookkeeping behind backfill audits and
    * training-data ablations. Each key is classified `added` (only in
    * v2), `removed` (only in v1), `changed` (both, any non-key column
    * differs — null-safe), or `same`; the non-key columns ride along
    * as `old_vals`/`new_vals` structs (null on the absent side).
    * Works on both table forms through [[readVersion]]. Cost: one
    * co-keyed full-outer join of the two snapshots — at scale both
    * sides shuffle once on the key.
    */
  def diffVersions(spark: SparkSession, root: String, v1: Long, v2: Long,
                   keys: Seq[String]): DataFrame = {
    val a = readVersion(spark, root, v1)
    val b = readVersion(spark, root, v2)
    // non-key columns from BOTH schemas: SyncAllColumns upserts evolve
    // the schema between versions, so a column present on only one
    // side rides as a typed null on the other (a row whose only
    // difference is the evolved column classifies `changed`, not
    // `same` or a resolution error). Types come from the side that
    // holds the column, v2 winning if both do.
    val nonKeys = (a.columns ++ b.columns).distinct
      .filterNot(keys.contains).toSeq
    val typeOf = (a.schema.fields ++ b.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    // keys-only tables still need a non-null presence marker (an
    // empty struct is not expressible): pack a constant
    def packed(df: DataFrame, as: String) = df.select(
      (keys.map(col) :+ (if (nonKeys.isEmpty) struct(lit(1).as("present"))
        else struct(nonKeys.map { c =>
          (if (df.columns.contains(c)) col(c).cast(typeOf(c))
           else lit(null).cast(typeOf(c))).as(c)
        }: _*)).as(as)): _*)
    packed(a, "old_vals")
      .join(packed(b, "new_vals"), keys, "full_outer")
      .withColumn("status",
        when(col("old_vals").isNull, "added")
          .when(col("new_vals").isNull, "removed")
          .when(!(col("old_vals") <=> col("new_vals")), "changed")
          .otherwise("same"))
      .select((keys.map(col) :+ col("status") :+ col("old_vals") :+
        col("new_vals")): _*)
  }

  // ------------------------------------------------------------------
  // Change-data-feed (Delta CDF / Iceberg changelog shape): row-level
  // (op, payload, commit version) between two retained versions,
  // computed from the version history the table already keeps. Each
  // step diffs CONSECUTIVE retained snapshots — only the leaves whose
  // dir pointer moved between the two views are read: the touched
  // partitions of a partitioned table, the segments a flat snapshot
  // does not share with its predecessor (per-step cost ∝ what the
  // commit wrote, the scale shape). Equality/position deletes are
  // merge-on-read METADATA — their row-level effect enters the feed
  // at the vacuum/rewrite commit that folds them into data files
  // (exactly when the physical rows disappear). A version pruned by
  // retention collapses its changes into the next retained version
  // (net effect preserved — the fold telescopes).
  // ------------------------------------------------------------------

  /** CDF op column: insert | delete | update_preimage |
    * update_postimage (Delta's vocabulary). */
  val ChangeTypeCol = "_change_type"

  /** CDF commit-version column. */
  val ChangeVersionCol = "_commit_version"

  /** Row-level changes between `fromVersion` (EXCLUSIVE; 0 = from the
    * table's beginning) and `toVersion` (inclusive), keyed by `keys`:
    * full payload columns (union of the step schemas) plus
    * [[ChangeTypeCol]] and [[ChangeVersionCol]]. An update emits a
    * preimage and a postimage row, both stamped with the commit that
    * changed the key. Both endpoints must be retained (history entry
    * + data dirs), else this fails with the retention hint.
    * Consuming the feed with [[graft.operators.Ivm.applyDeltas]]
    * (decompose ops into ±1/±value deltas) maintains an aggregate
    * view equal to recomputing it from the final snapshot.
    */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
                  toVersion: Long, keys: Seq[String]): DataFrame = {
    require(fromVersion >= 0 && toVersion > fromVersion,
      s"need 0 <= fromVersion < toVersion: ($fromVersion, $toVersion)")
    // MAIN-LINE only: a branch commit is not a change of the table
    // until fast-forwarded (whereupon its version joins the line)
    val vs = mainlineVersions(root)
    require(vs.contains(toVersion),
      s"version $toVersion of $root is not readable (never committed " +
        "or pruned by retention — raise keepVersions)")
    require(fromVersion == 0 || vs.contains(fromVersion),
      s"version $fromVersion of $root is not readable (never " +
        "committed or pruned by retention)")
    val steps = vs.filter(v => v > fromVersion && v <= toVersion)
    val frames = steps.map { v =>
      // the retained predecessor within range; None only at table
      // birth (fromVersion == 0 with nothing retained before v —
      // fromVersion > 0 is itself retained by the require above)
      val prior = vs.filter(x => x >= fromVersion && x < v).lastOption
      cdfStep(spark, root, prior, v, keys)
    }.flatten
    if (frames.isEmpty)
      // no retained step in range: empty feed with the live schema
      readChangesEmptyFrame(spark, root)
    else frames.reduce((a, b) =>
      a.unionByName(b, allowMissingColumns = true))
  }

  /** Zero-row CDF frame with the live snapshot's columns + op/version
    * — keeps downstream consumers schema-stable on empty ranges (the
    * DSv2 change-feed poller's steady state between commits).
    */
  private[graft] def readChangesEmptyFrame(spark: SparkSession,
                                           root: String): DataFrame = {
    readLive(spark, root).limit(0)
      .withColumn(ChangeTypeCol, lit(""))
      .withColumn(ChangeVersionCol, lit(0L))
  }

  /** Subscribe to the table's COMMITS as a Structured Streaming
    * pipeline — the Kappa loop's missing edge: a downstream consumer
    * follows a graft table the way q215/q298 follow file landings.
    * Commit discovery is a file stream over `_versions/` (each commit
    * publishes exactly one immutable history entry, atomically), so
    * exactly-once delivery rides the file source's checkpointed seen-
    * file log: after a restart only undiscovered commits replay.
    * Each discovered commit is handed to `onBatch` INDIVIDUALLY
    * (`readChanges(v-1, v)` with lo == hi == v), in version order
    * within the batch — never as a min/max range: the file source
    * can split mtime-tied commits non-contiguously across triggers
    * (v1,v3 then v2), and a range fold would re-deliver the gap
    * commit. Per-version delivery makes each commit's changes arrive
    * exactly once; cross-batch ordering follows commit mtime (ties
    * may reorder adjacent commits across triggers — additive
    * consumers like Ivm deltas commute; strict-order consumers
    * should run without maxFilesPerTrigger so AvailableNow delivers
    * one ordered batch). Retention contract: the dirs of `v-1..v`
    * must still be retained when the batch fires — size
    * keepVersions to the maximum consumer lag (the
    * stream fails loudly otherwise, never silently skips).
    * `maxFilesPerTrigger=1` gives one-commit-per-trigger pacing.
    */
  def streamChanges(spark: SparkSession, root: String, keys: Seq[String],
                    checkpointDir: String,
                    maxFilesPerTrigger: Option[Int] = None,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow())
                   (onBatch: (DataFrame, Long, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions.regexp_extract
    val hist = Paths.get(root).resolve("_versions").toString
    val reader = spark.readStream
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n))
    reader.text(hist).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // BRANCH commits are not table changes until fast-forwarded
        // (the publish writes a fresh unmarked entry): skip marked
        // entries so a WAP pipeline's staging commits never leak
        // into downstream consumers
        val vs = batch
          .filter(!col("value").contains(""""branch":"""))
          .select(regexp_extract(col("value"),
            """"version"\s*:\s*(\d+)""", 1).cast("long").as("v"))
          .filter(col("v").isNotNull && col("v") > 0)
          .distinct().collect().map(_.getLong(0)).sorted
        vs.foreach { v =>
          onBatch(readChanges(spark, root, v - 1, v, keys), v, v)
        }
      }
      .trigger(trigger)
      .start()
  }

  /** One CDF step: changes landing in version `v` relative to retained
    * predecessor `prior` (None = table birth, everything inserts).
    * None when a partitioned step touched no partitions.
    */
  private def cdfStep(spark: SparkSession, root: String,
                      prior: Option[Long], v: Long,
                      keys: Seq[String]): Option[DataFrame] = {
    // both endpoints are retained main-line versions (readChanges
    // checked), so their views resolve
    def view(ver: Long): PartitionedManifest =
      snapshotView(root, Some(ver)).get
    prior match {
      case None =>
        val b = readPartitionedSnapshot(spark, root, view(v))
        requireNoReservedColumns(b.columns, s"readChanges over $root",
          Seq(ChangeTypeCol, ChangeVersionCol))
        Some(b.withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(ChangeVersionCol, lit(v)))
      case Some(p) =>
        val (pm0, pm1) = (view(p), view(v))
        // only leaves whose dir pointer moved can differ — a segment
        // both snapshots list, or an untouched partition, is the SAME
        // immutable files (a flat step across an append reads only the
        // appended segment; across a change of form every leaf moved)
        val touched = (pm0.partitions.keySet ++ pm1.partitions.keySet)
          .filter(k => pm0.partitions.get(k) != pm1.partitions.get(k))
        if (touched.isEmpty) return None
        def restricted(m: PartitionedManifest): DataFrame = {
          val sub = m.partitions.filter(kv => touched(kv._1))
          if (sub.isEmpty)
            readPartitionedSnapshot(spark, root, m).limit(0)
          else readPartitionedSnapshot(spark, root,
            m.copy(partitions = sub))
        }
        val (a, b) = (restricted(pm0), restricted(pm1))
        requireNoReservedColumns((a.columns ++ b.columns).distinct.toSeq,
          s"readChanges over $root", Seq(ChangeTypeCol, ChangeVersionCol))
        // pack non-key columns (union of both schemas, b's type wins)
        // and diff on the keys — ONE co-keyed full-outer join per step
        val nonKeys = (b.columns ++ a.columns).distinct
          .filterNot(keys.contains).toSeq
        val typeOf = (a.schema.fields ++ b.schema.fields)
          .map(f => f.name -> f.dataType).toMap
        def packed(df: DataFrame, as: String) = df.select(
          (keys.map(col) :+ (if (nonKeys.isEmpty)
            struct(lit(1).as("present"))
          else struct(nonKeys.map { c =>
            (if (df.columns.contains(c)) col(c).cast(typeOf(c))
             else lit(null).cast(typeOf(c))).as(c)
          }: _*)).as(as)): _*)
        val d = packed(a, "__cdf_old")
          .join(packed(b, "__cdf_new"), keys, "full_outer")
          .withColumn("__cdf_status",
            when(col("__cdf_old").isNull, "added")
              .when(col("__cdf_new").isNull, "removed")
              .when(!(col("__cdf_old") <=> col("__cdf_new")), "changed")
              .otherwise("same"))
        // SINGLE pass over the join: the old two-branch union
        // (pre ∪ post) re-executed the whole full-outer subtree per
        // branch — every CDF step paid its join twice. One row
        // explodes into its 1-2 change events instead; the result
        // SET is identical (changed keys yield both images, adds/
        // removes one, sames none).
        val oldEv = struct(
          when(col("__cdf_status") === "removed", "delete")
            .otherwise("update_preimage").as(ChangeTypeCol),
          col("__cdf_old").as("__cdf_img"))
        val newEv = struct(
          when(col("__cdf_status") === "added", "insert")
            .otherwise("update_postimage").as(ChangeTypeCol),
          col("__cdf_new").as("__cdf_img"))
        Some(d.filter(col("__cdf_status") =!= "same")
          .withColumn("__cdf_ev", explode(
            when(col("__cdf_status") === "changed", array(oldEv, newEv))
              .when(col("__cdf_status") === "removed", array(oldEv))
              .otherwise(array(newEv))))
          .select((keys.map(col) ++
            nonKeys.map(c => col("__cdf_ev")("__cdf_img")(c).as(c)) :+
            col("__cdf_ev")(ChangeTypeCol).as(ChangeTypeCol) :+
            lit(v).as(ChangeVersionCol)): _*))
    }
  }

  // ------------------------------------------------------------------
  // Named refs (Iceberg-style tags): `_refs.json` maps a name to a
  // committed version, giving snapshots durable names ("the corpus
  // run X trained on") — and a ref PINS RETENTION: both prune passes
  // keep every version dir a ref'd snapshot references, so a tagged
  // snapshot stays readable however many commits land after it.
  // Ref updates serialize under the commit lock (read-modify-write of
  // one small file, atomic move).
  // ------------------------------------------------------------------

  private def refsPath(rootP: Path): Path = rootP.resolve("_refs.json")

  /** Parse `_refs.json`: name → version. Empty when absent. */
  def refs(root: String): Map[String, Long] = {
    val p = refsPath(Paths.get(root))
    if (!Files.exists(p)) return Map.empty
    val re = """"((?:[^"\\]|\\.)+)"\s*:\s*(\d+)""".r
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    re.findAllMatchIn(txt).flatMap { m =>
      try Some(unescJson(m.group(1)) -> m.group(2).toLong)
      catch { case _: IllegalArgumentException => None }
    }.toMap
  }

  private def writeRefs(rootP: Path, m: Map[String, Long]): Unit =
    TableFs.publishFile(refsPath(rootP), m.toSeq.sortBy(_._1)
      .map { case (n, v) => s""""${escJson(n)}": $v""" }
      .mkString("{", ", ", "}"))

  /** Name a committed version. Fails if the version was never
    * committed (no history entry) OR if retention already pruned any
    * of its data dirs — a tag must actually pin a readable snapshot,
    * never silently point at reclaimed storage. The named snapshot is
    * pinned against retention from this point on.
    */
  def setRef(root: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && !name.contains("\n"), s"bad ref name: $name")
    val rootP = Paths.get(root)
    withCommitLock(rootP) {
      if (!Files.exists(versionManifestPath(rootP, version)))
        throw new IllegalStateException(
          s"cannot tag $root@$version — version was never committed")
      val pruned = versionDirs(rootP, version).filterNot(d =>
        Files.isDirectory(rootP.resolve(d)))
      if (pruned.nonEmpty)
        throw new IllegalStateException(
          s"cannot tag $root@$version — retention already pruned " +
            s"$pruned; tag sooner or raise keepVersions")
      writeRefs(rootP, refs(root) + (name -> version))
    }
  }

  /** Remove a named ref; its snapshot becomes prunable again at the
    * next commit's retention pass.
    */
  def dropRef(root: String, name: String): Unit = {
    val rootP = Paths.get(root)
    // dropping a BRANCH also drops its fork-base companions
    withCommitLock(rootP) { writeRefs(rootP,
      refs(root) - name - s"$name@base" - s"$name@posbase") }
  }

  /** Read the snapshot a named ref points at, either table form. */
  def readRef(spark: SparkSession, root: String, name: String): DataFrame =
    readVersion(spark, root, refs(root).getOrElse(name,
      throw new IllegalStateException(s"no ref '$name' under $root")))

  /** Version dirs that ref'd snapshots reference — excluded from both
    * retention passes. Unpartitioned snapshots pin every segment they
    * list; partitioned snapshots pin every dir in their history
    * manifest's partition map.
    */
  private def refPinnedDirs(rootP: Path): Set[String] =
    refs(rootP.toString)
      // @posbase companions hold POS-SUB-TABLE versions, not main
      // versions — pinning main dirs by those numbers would be wrong
      .filterNot(_._1.endsWith("@posbase"))
      .values.toSet.flatMap { (v: Long) =>
        if (!Files.exists(versionManifestPath(rootP, v)))
          Set.empty[String]
        else versionDirs(rootP, v).toSet
      }

  // ------------------------------------------------------------------
  // BRANCH WRITES (write-audit-publish): a pipeline commits its batch
  // to a NAMED BRANCH — a real version dir + history entry + ref move,
  // with the MAIN manifest untouched — runs its quality gate against
  // the branch read (`option("ref", branch)` / VERSION AS OF), and
  // only then fast-forwards main to the branch head. A failed gate
  // costs nothing: main never saw the batch. Mechanics:
  //   - branch versions share the main sequence (TableFs.
  //     publishVersionDir under the commit lock) and carry a
  //     `"branch"` marker in their history entry, so CDF walks /
  //     TIMESTAMP AS OF stay on the main line while VERSION AS OF <n>
  //     can still address them;
  //   - the branch ref pins its head against retention; intermediate
  //     branch versions are prunable like any superseded snapshot;
  //   - the fork base is recorded as ref `<branch>@base`;
  //     fast-forward CAS-requires main still AT that base — a main
  //     commit during the audit makes publish fail loudly (re-run the
  //     branch pipeline against the new live), never silently clobber.
  // ------------------------------------------------------------------

  private def currentMainVersion(root: String): Long =
    snapshotView(root).map(_.version).getOrElse(0L)

  private def commitToBranch(root: String, branch: String,
                             expectedRef: Option[Long],
                             historyBody: Long => String)
                            (writeTo: String => Unit): Long = {
    require(branch.nonEmpty && !branch.contains("@") &&
      !branch.contains("\n"), s"bad branch name: $branch")
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val staging = stagingDir(rootP)
    try writeTo(staging.toString)
    catch { case e: Throwable => deleteRecursively(staging); throw e }
    writeStatsSidecar(staging)
    withCommitLock(rootP) {
      if (refs(root).get(branch) != expectedRef) {
        deleteRecursively(staging)
        throw new ConcurrentCommitException(
          s"branch '$branch' of $root moved past " +
            s"${expectedRef.getOrElse(0L)} — re-read and retry")
      }
      val next = TableFs.publishVersionDir(rootP, staging)
      writeHistoryEntry(rootP, next, historyBody(next))
      // the fork pins BOTH the main version and the pos-delete
      // sub-table version: merge-on-read DML and the DELETE fast path
      // mutate main WITHOUT a manifest bump, and a publish that
      // missed one would silently discard it (its entries stale
      // against the branch's dirs)
      val base: Map[String, Long] =
        if (expectedRef.isEmpty)
          Map(s"$branch@base" -> currentMainVersion(root),
            s"$branch@posbase" -> posVersion(root))
        else Map.empty
      writeRefs(rootP, refs(root) + (branch -> next) ++ base)
      next
    }
  }

  /** Append `batch` to branch `branch`, either table form (the form
    * and spec come from the branch's base; see [[writeSpec]]). The
    * first branch commit forks from the live observable snapshot (both
    * delete families + pending MoR post-images folded); later ones
    * extend the branch head, a raw committed snapshot (the [[readRef]]
    * contract). A flat branch commit writes its whole snapshot; a
    * partitioned one rewrites only the batch's partitions and keeps
    * the base pointers for the rest. Returns the branch's new version.
    */
  def appendToBranch(spark: SparkSession, root: String,
                     batch: DataFrame, branch: String,
                     partitionBy: Seq[String] = Nil,
                     maxRetries: Int = 10): Long = {
    requireNoReservedColumns(batch.columns,
      s"branch append into $root", Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, batch)
    val rootP = Paths.get(root)
    def once(): Long = {
      val curRef = refs(root).get(branch)
      val base = curRef match {
        case Some(v) => Some(versionView(root, v))
        case None => snapshotView(root)
      }
      val spec = writeSpec(root, base, partitionBy, evolve = false)
      val stamped =
        batch.withColumn(SeqCol, lit(TableFs.maxAllocatedVersion(rootP) + 1))
      // a live fork reads through the observable masks; a branch head
      // is a raw committed snapshot (the readRef contract); both keep
      // their rows' stamps
      def existing(m: PartitionedManifest): DataFrame =
        if (curRef.isDefined)
          unionDirs(root, dirFrames(spark, root, m), addressed = false)
        else posMaskedSnapshot(spark, root, m)
      if (spec.isEmpty) {
        val content = base.map(existing(_).unionByName(stamped))
          .getOrElse(stamped)
        return commitToBranch(root, branch, curRef, next =>
          renderFlatManifest(next, Seq(versionDirName(next)),
            Some(branch))) { dir =>
          content.write.mode(SaveMode.Overwrite).parquet(dir)
        }
      }
      requirePartitionTypesMatch(root, batch, spec)
      val merged = base match {
        case None => stamped
        case Some(m) =>
          val touched = batch.select(spec.map(batch(_)): _*)
            .distinct().collect()
          if (touched.isEmpty)
            return curRef.getOrElse(m.version) // empty batch: no-op
          existing(m).filter(touchedPredicate(spec, touched))
            .unionByName(stamped)
      }
      commitToBranch(root, branch, curRef, { next =>
        val dirName = versionDirName(next)
        val written = partitionLeafDirs(rootP.resolve(dirName),
          spec.size).map(_.toString)
        val newParts = base.map(_.partitions).getOrElse(Map.empty) ++
          written.map(_ -> dirName)
        val body = renderPartitionedManifest(
          PartitionedManifest(next, spec, newParts))
        require(body.endsWith("}"), s"unexpected manifest body: $body")
        body.dropRight(1) + s""", "branch": "${escJson(branch)}"}"""
      }) { dir =>
        merged.write.mode(SaveMode.Overwrite)
          .partitionBy(spec: _*).parquet(dir)
      }
    }
    retryThenEscalate(rootP, maxRetries)(once())
  }

  /** Iceberg's expire_snapshots: drop HISTORY ENTRIES (and any data
    * dirs only they referenced) beyond the newest `retainLast`
    * MAIN-LINE snapshots — the bound on `_versions/` growth that
    * keeps per-commit allocation/listing O(retained), not O(all
    * commits ever). Never touches: the live version, ref'd snapshots
    * (tags and branch heads pin themselves), branch entries newer
    * than the expiry cutoff, or any dir a KEPT entry references
    * (published branches share dirs). Expired versions stop
    * time-traveling with the standard never-committed error. Returns
    * (live version, entries expired).
    */
  def expireSnapshots(root: String, retainLast: Int): (Long, Int) = {
    require(retainLast >= 1, s"retainLast must be >= 1: $retainLast")
    val rootP = Paths.get(root)
    withCommitLock(rootP) {
      val hist = rootP.resolve("_versions")
      if (!Files.isDirectory(hist)) return (0L, 0)
      import scala.jdk.CollectionConverters._
      val entries: Seq[(Long, Path, String)] = {
        val s = Files.list(hist)
        try s.iterator().asScala.toSeq.flatMap { p =>
          """^v(\d{8})\.json$""".r
            .findFirstMatchIn(p.getFileName.toString)
            .map(m => (m.group(1).toLong, p,
              new String(Files.readAllBytes(p),
                StandardCharsets.UTF_8)))
        }.sortBy(_._1)
        finally s.close()
      }
      val mainline = entries
        .filterNot(_._3.contains(""""branch":""")).map(_._1)
      val cutoff: Long = mainline.takeRight(retainLast)
        .headOption.getOrElse(return (currentMainVersion(root), 0))
      val pinnedVersions: Set[Long] =
        refs(root).filterNot(_._1.endsWith("@posbase")).values.toSet +
          currentMainVersion(root)
      val (keep, expire) = entries.partition { case (v, _, _) =>
        v >= cutoff || pinnedVersions(v)
      }
      if (expire.isEmpty) return (currentMainVersion(root), 0)
      // dirs still referenced by ANY kept entry or the live manifest
      // survive; dirs only expired entries referenced are reclaimed
      val referenced: Set[String] =
        keep.flatMap { case (v, _, txt) => entryDirs(txt, v) }.toSet ++
          liveDirs(rootP)
      expire.foreach { case (v, p, txt) =>
        Files.deleteIfExists(p)
        entryDirs(txt, v).filterNot(referenced).foreach { d =>
          deleteRecursively(rootP.resolve(d))
        }
      }
      (currentMainVersion(root), expire.size)
    }
  }

  /** PUBLISH a branch: commit a FRESH main version whose manifest
    * references the branch head's data dirs (dirs are immutable and
    * self-contained — sharing them is free), iff the main line is
    * still at the branch's fork base (the WAP CAS — a main commit
    * during the audit fails the publish loudly; re-run the branch
    * pipeline against the new live). A fresh version — rather than
    * flipping to the head's own number — keeps history entries
    * IMMUTABLE (streamChanges tails `_versions/` as a file stream)
    * while making the publish a normal main-line commit for CDF and
    * TIMESTAMP AS OF. Consumes the branch refs. Returns the published
    * main version.
    */
  def fastForward(root: String, branch: String): Long = {
    val rootP = Paths.get(root)
    withCommitLock(rootP) {
      val r = refs(root)
      val head = r.getOrElse(branch, throw new IllegalStateException(
        s"no branch '$branch' under $root — known refs: " +
          r.keys.toSeq.sorted.mkString(", ")))
      val base = r.getOrElse(s"$branch@base", 0L)
      val curMain = currentMainVersion(root)
      if (curMain != base)
        throw new ConcurrentCommitException(
          s"$root main moved to v$curMain since branch '$branch' " +
            s"forked at v$base — re-run the branch pipeline against " +
            "the new base and re-audit")
      // merge-on-read mutations bump only the pos-delete sub-table —
      // a publish over them would stale (silently discard) their
      // entries against the branch's dirs
      val posBase = r.getOrElse(s"$branch@posbase", posVersion(root))
      if (posVersion(root) != posBase)
        throw new ConcurrentCommitException(
          s"$root took merge-on-read mutations (pos-delete sub-table " +
            s"moved past v$posBase) since branch '$branch' forked — " +
            "re-run the branch pipeline against the new base")
      val next = TableFs.maxAllocatedVersion(rootP) + 1
      historyPartitionedManifest(root, head) match {
        case Some(m) =>
          val published = PartitionedManifest(next,
            m.partitionColumns, m.partitions)
          writePartitionedManifest(rootP, published)
          writeHistoryEntry(rootP, next,
            renderPartitionedManifest(published))
        case None =>
          val body = renderFlatManifest(next, versionDirs(rootP, head))
          TableFs.publishFile(manifestPath(rootP), body)
          writeHistoryEntry(rootP, next, body)
      }
      writeRefs(rootP, r - branch - s"$branch@base" -
        s"$branch@posbase")
      next
    }
  }

  /** Run `writeTo(stagingDir)` (in parallel with other writers — the
    * staging name is unique), then under the commit lock assign the
    * next version, rename staging into place, and atomically flip the
    * manifest. Returns the committed version. On `writeTo` failure
    * nothing is committed and staging is removed — the live version is
    * untouched.
    *
    * `expectedBase` is the optimistic-concurrency token: pass the
    * version the written data was DERIVED FROM (0 for "table did not
    * exist") and the commit throws [[ConcurrentCommitException]] —
    * after cleaning up staging — if another writer committed in
    * between, instead of silently overwriting their rows. Omit it for
    * blind/full-replace commits, which are serialized by the lock but
    * never rejected.
    *
    * `carry` lists live segments the new snapshot keeps BY REFERENCE
    * ahead of the new dir (an add-only commit writes only its rows);
    * it must come from the manifest at `expectedBase`, which the CAS
    * then guarantees is still live.
    *
    * Retention: after the flip, only the dirs that the newest
    * `keepVersions` main-line snapshots list survive (default: live +
    * immediate predecessor, so readers that resolved the previous
    * manifest finish their scan; raise it when readers may lag more
    * than one commit), plus every dir a ref'd snapshot lists.
    */
  def commit(root: String, keepVersions: Int = 2,
             expectedBase: Option[Long] = None,
             validate: () => Unit = () => (),
             carry: Seq[String] = Nil)
            (writeTo: String => Unit): Long = {
    require(carry.isEmpty || expectedBase.isDefined,
      "a commit that carries segments must CAS its base")
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val staging = stagingDir(rootP)
    try writeTo(staging.toString)
    catch { case e: Throwable => deleteRecursively(staging); throw e }
    // footer-stats harvest OUTSIDE the commit lock (paths in the
    // sidecar are relative, so the staging→version rename keeps it)
    writeStatsSidecar(staging)
    withCommitLock(rootP) {
      // either form: a flat write pinned on a table that another writer
      // committed partitioned in between must not flip over it
      val live = currentMainVersion(root)
      expectedBase.filter(_ != live).foreach { base =>
        deleteRecursively(staging)
        throw new ConcurrentCommitException(
          s"$root moved to v$live while this writer merged against " +
            s"v$base — re-read and retry")
      }
      // commit-time conflict validation (Iceberg's rewrite-validation
      // shape): runs INSIDE the lock, so state it checks — e.g. "no
      // position delete landed since this rewrite's snapshot read" —
      // cannot change between the check and the flip. A throw aborts
      // the commit cleanly (staging reclaimed) and surfaces to the
      // caller's retry loop.
      try validate()
      catch { case e: Throwable => deleteRecursively(staging); throw e }
      // allocates past BRANCH commits too — they share the sequence
      val next = TableFs.publishVersionDir(rootP, staging)
      val dirName = versionDirName(next)
      val body = renderFlatManifest(next, carry :+ dirName)
      TableFs.publishFile(manifestPath(rootP), body)
      // immutable history entry for time travel — written AFTER the
      // flip so a version is only ever listed once fully committed
      writeHistoryEntry(rootP, next, body)
      pruneRetired(rootP, keepVersions, carry.toSet + dirName)
      next
    }
  }

  /** Retention, both table forms, run under the commit lock after a
    * flip: every dir the newest `keepVersions` MAIN-LINE snapshots
    * list survives (branch dirs never count toward K — they would
    * evict recent main data while themselves being retained), ref'd
    * snapshots (incl. branch heads) are pinned regardless of age, and
    * `keep` — the just-committed snapshot's dirs — always survives.
    */
  private def pruneRetired(rootP: Path, keepVersions: Int,
                           keep: Set[String]): Unit = {
    val kept = refPinnedDirs(rootP) ++ keep ++
      newestMainlineDirs(rootP, math.max(1, keepVersions))
    val s = Files.list(rootP)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.matches("v\\d{8}") &&
          !kept(p.getFileName.toString))
        .foreach(deleteRecursively)
    } finally s.close()
  }

  /** Orphan cleanup (Iceberg's remove_orphan_files): reclaim artifacts
    * a CRASHED writer left behind that no manifest will ever reference
    * and no retention pass will ever visit —
    *   - `_staging-*` dirs (writer died before its commit-lock move),
    *   - publish temps in the root and in `_versions/`: every name
    *     [[TableFs.isTemp]] matches ([[TableFs.publishFile]]'s hidden
    *     temps, and the per-file temp names of earlier releases for
    *     manifests, stats, refs, renames, constraints, catalog meta and
    *     stream commits),
    *   - `v????????` version dirs with NO `_versions/` history entry
    *     and not referenced by the live manifest (moved into place but
    *     the flip never happened — the only way a v-dir exists without
    *     an entry, since history is written right after each flip),
    *   - `_rw` scratch inside version dirs (defensive: the current
    *     vacuum only creates `_rw` inside staging, which the first
    *     class covers — this reaps the artifact if a future rewrite
    *     path ever leaves one in a committed dir).
    * Committed-but-old version dirs are NEVER touched — their history
    * entries exist and retention owns them. The commit lock is held
    * only to IDENTIFY and RENAME orphans into a `_trash-*` dir (O(1)
    * moves — the lock's ms-scale staleness contract survives
    * arbitrarily large debris); the actual recursive delete runs
    * AFTER the lock is released. Only items older than `olderThanMs`
    * are taken (grace period against writers that haven't locked yet —
    * Iceberg's older_than). Applies to the root and its `_deletes`/
    * `_pos_deletes` sub-tables. Returns (staging dirs, tmp files,
    * unreferenced version dirs, _rw dirs) removed.
    */
  def removeOrphans(root: String,
                    olderThanMs: Long = 24L * 3600 * 1000)
      : (Int, Int, Int, Int) = {
    val rootP = Paths.get(root)
    if (!Files.isDirectory(rootP)) return (0, 0, 0, 0)
    def oldEnough(p: Path): Boolean =
      try System.currentTimeMillis -
        Files.getLastModifiedTime(p).toMillis >= olderThanMs
      catch { case _: Throwable => false }
    // staging dirs age by the NEWEST mtime found anywhere under them:
    // the dir's own mtime is set at creation and a long-running Spark
    // write mutates only nested `_temporary/...` task files, so a
    // top-level-mtime rule would reap an in-flight writer's staging
    // mid-write after olderThanMs of honest work
    def stagingOldEnough(p: Path): Boolean =
      try {
        val s = Files.walk(p)
        val newest =
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala
              .map(f => Files.getLastModifiedTime(f).toMillis)
              .foldLeft(0L)(math.max)
          } finally s.close()
        System.currentTimeMillis - newest >= olderThanMs
      } catch { case _: Throwable => false }
    def one(tp: Path): (Int, Int, Int, Int) = {
      // phase 1 (LOCKED, O(1) renames only): identify orphans and
      // move them into a trash dir; a stale prior trash dir is taken
      // too (its delete phase crashed)
      val trash = tp.resolve(s"_trash-${java.util.UUID.randomUUID}")
      val counts = withCommitLock(tp) {
        import scala.jdk.CollectionConverters._
        def list(d: Path): Seq[Path] =
          if (!Files.isDirectory(d)) Nil
          else {
            val s = Files.list(d)
            try s.iterator().asScala.toSeq finally s.close()
          }
        val entries = list(tp)
        val (histEntries, histOther) = list(tp.resolve("_versions"))
          .partition(_.getFileName.toString.matches("v\\d{8}\\.json"))
        // every dir the live manifest or any history entry lists
        // (both forms: flat segments or partition map)
        val referenced: Set[String] = liveDirs(tp) ++
          histEntries.flatMap(p => entryDirs(new String(
            Files.readAllBytes(p), StandardCharsets.UTF_8),
            versionOfEntry(p)))
        var (nStaging, nTmp, nVdir, nRw) = (0, 0, 0, 0)
        var trashed = 0
        def toTrash(p: Path): Unit = {
          if (trashed == 0) Files.createDirectories(trash)
          Files.move(p, trash.resolve(s"$trashed-${p.getFileName}"))
          trashed += 1
        }
        val histTemps =
          histOther.filter(p => TableFs.isTemp(p.getFileName.toString))
        (entries ++ histTemps).filter(oldEnough).foreach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("_staging-") && Files.isDirectory(p)) {
            if (stagingOldEnough(p)) { toTrash(p); nStaging += 1 }
          } else if (TableFs.isTemp(n)) {
            toTrash(p); nTmp += 1
          } else if (n.matches("v\\d{8}") && Files.isDirectory(p) &&
                     !referenced(n)) {
            toTrash(p); nVdir += 1
          } else if (n.startsWith("_trash-") && Files.isDirectory(p)) {
            toTrash(p) // crashed prior cleanup — re-queue, uncounted
          }
        }
        // _rw scratch inside SURVIVING version dirs (defensive class)
        entries.filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.matches("v\\d{8}")).foreach { vd =>
          val rw = vd.resolve("_rw")
          if (Files.isDirectory(rw) && oldEnough(rw)) {
            toTrash(rw); nRw += 1
          }
        }
        (nStaging, nTmp, nVdir, nRw)
      }
      // phase 2 (UNLOCKED): the expensive recursive delete
      deleteRecursively(trash)
      counts
    }
    val roots = Seq(rootP) ++
      Seq("_deletes", "_pos_deletes").map(rootP.resolve)
        .filter(Files.isDirectory(_))
    roots.map(one).reduce((a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4))
  }

  /** Keyed upsert against the live snapshot, committed as a new
    * version, either table form — the manifest-indirected form of
    * [[MergeWriter.merge]]: same anti-join ∪ updates merge, same schema
    * policy, but a concurrent reader can never observe a missing or
    * half-swapped directory, and a CONCURRENT WRITER can never be
    * silently overwritten: the merge is pinned to the base snapshot it
    * read, the commit CAS-checks that base, and a lost race re-reads
    * the new live snapshot and re-merges (bounded retries — updates
    * are a plan, so re-executing them against the fresh base is safe
    * for deterministic inputs, the same contract MERGE INTO gives).
    * The form and spec come from the pinned snapshot ([[writeSpec]]).
    * Flat: a batch that footer stats prove matches no live row
    * ([[keysDisjoint]]) is an add-only commit through [[commitAdded]]
    * (a new segment; the live segments carry by reference), any other
    * batch rewrites the whole snapshot. Partitioned: only the touched
    * partitions rewrite ([[mergePartitioned]]). `keepVersions` sizes
    * retention ([[pruneRetired]]).
    */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
             keys: Seq[String], partitionBy: Seq[String] = Nil,
             schemaMode: MergeWriter.SchemaMode =
               MergeWriter.SchemaMode.Strict,
             keepVersions: Int = 2, maxRetries: Int = 10): Long = {
    requireNoReservedColumns(updates.columns, s"upsert into $root",
      Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, updates)
    var foldedPosVersion = 0L
    lazy val ranges = keyRanges(updates, keys) // one job, across retries
    def once(): Long = {
      val view = snapshotView(root)
      foldedPosVersion = 0L
      val spec = writeSpec(root, view, partitionBy, evolve = true)
      if (spec.nonEmpty)
        return mergePartitioned(spark, root, updates, Some(keys), spec,
          view, schemaMode, keepVersions)
      // Rows written by THIS commit carry its version as their write
      // sequence (recomputed on CAS retry); surviving rows keep the
      // sequence of the commit that last wrote them. This is what lets
      // softDelete apply Iceberg's sequence-number rule instead of
      // masking re-upserted keys forever.
      val base = view.map(_.version).getOrElse(0L)
      val updatesStamped = updates.withColumn(SeqCol, lit(base + 1))
      // the merge rewrites every data file, so pending POSITION
      // deletes must be folded into the base read and validated at
      // commit (see the position-deletes section) — else the rewrite
      // silently un-deletes them
      val pinnedPos = posVersion(root)
      val validate = requirePosVersion(root, pinnedPos, "merge")
      view match {
        case None =>
          foldedPosVersion = pinnedPos
          commit(root, keepVersions, Some(0L), validate) { dir =>
            updatesStamped.write.mode(SaveMode.Overwrite).parquet(dir)
          }
        case Some(v) =>
          val existing = posMaskedSnapshot(spark, root, v)
          val (existingAligned, updatesAligned) =
            MergeWriter.alignSchemas(existing, updatesStamped, keys,
              schemaMode)
          if (keysDisjoint(root, ranges)) {
            // add-only: no committed row is replaced; the pinned pos
            // version still guards a racing merge-on-read insert
            val (ver, folded) = commitAdded(spark, root,
              flatManifest(v), updatesAligned,
              schemaMode == MergeWriter.SchemaMode.SyncAllColumns,
              keepVersions, validate)
            foldedPosVersion = folded
            ver
          } else {
            val batchKeys = updates.select(keys.map(updates(_)): _*)
            foldedPosVersion = pinnedPos
            commit(root, keepVersions, Some(base), validate) { dir =>
              existingAligned.join(batchKeys, keys, "left_anti")
                .unionByName(updatesAligned)
                .write.mode(SaveMode.Overwrite).parquet(dir)
            }
          }
      }
    }
    val v = retryThenEscalate(Paths.get(root), maxRetries)(once())
    resetPosDeletes(spark, root, foldedPosVersion, keepVersions)
    v
  }

  /** The partition spec a write verb commits under, read from `view`
    * (the snapshot its attempt pinned, so the CAS that guards the
    * commit also guards the form): `partitionBy` = Nil means the
    * committed spec — flat before the first commit; a non-empty list
    * must equal it or, where `evolve` (the keyed merge and append),
    * extend it by appending columns ([[mergePartitioned]]'s
    * migrate-on-write). A list for a committed flat table, or any
    * other change, throws before anything is written.
    */
  private def writeSpec(root: String, view: Option[PartitionedManifest],
                        partitionBy: Seq[String],
                        evolve: Boolean): Seq[String] = view match {
    case None => partitionBy
    case Some(v) if partitionBy.isEmpty ||
        partitionBy == v.partitionColumns => v.partitionColumns
    case Some(v) =>
      def show(cs: Seq[String]) = cs.mkString("(", ",", ")")
      require(!isFlat(v),
        s"$root is a flat table — a write into it takes no partitionBy " +
          s"(got ${show(partitionBy)}); a table's form is fixed by its " +
          "first commit")
      val old = v.partitionColumns
      require(evolve && old.size < partitionBy.size &&
        partitionBy.take(old.size) == old,
        s"partition-spec change ${show(old)} → ${show(partitionBy)} on " +
          s"$root is not a prefix extension by a keyed merge or append " +
          "— only appending partition columns evolves in place; " +
          "anything else needs a full rewrite into a new table root")
      partitionBy
  }

  /** The batch's [min, max] per key column it can bound (integral,
    * date and timestamp keys); None where every batch value is null (a
    * null key matches no row). A batch that is a plain parquet scan —
    * the staged batch of a SQL or streaming write — is bounded from its
    * files' footers with no job; any other batch by one aggregate.
    */
  private def keyRanges(batch: DataFrame, keys: Seq[String])
      : Seq[(String, Option[(Any, Any)])] =
    parquetScanFiles(batch) match {
      case Some(files) =>
        val stats = files.map(footerStats).filter(_.rows > 0)
        keys.filter(k => stats.forall(_.cols.contains(k))).map { k =>
          k -> (if (stats.isEmpty) None
                else Some((stats.map(_.cols(k)._1).min,
                  stats.map(_.cols(k)._2).max)))
        }
      case None =>
        import org.apache.spark.sql.types._
        val ranged = keys.filter(k => batch.schema(k).dataType match {
          case ByteType | ShortType | IntegerType | LongType | DateType |
               TimestampType => true
          case _ => false
        })
        if (ranged.isEmpty) Nil
        else {
          val aggs = ranged.flatMap(k => Seq(min(batch(k)), max(batch(k))))
          val r = batch.agg(aggs.head, aggs.tail: _*).head()
          ranged.zipWithIndex.map { case (k, i) =>
            k -> Option(r.get(2 * i)).map(_ -> r.get(2 * i + 1))
          }
        }
    }

  /** The files of `df` when its analyzed plan is one local parquet scan. */
  private def parquetScanFiles(df: DataFrame): Option[Seq[Path]] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          scala.util.Try(fs.location.inputFiles.toSeq
            .map(f => Paths.get(java.net.URI.create(f)))).toOption
        case _ => None
      }
      case _ => None
    }
  }

  /** Footer-stats proof that no live row of flat table `root` shares a
    * key with a batch whose key ranges are `ranges`: some key column's
    * batch range overlaps no live file's bounds — the scan planner's
    * own skip rule ([[pruneDecision]]), so no job reads the table.
    * Nothing is proved while a merge-on-read sub-table exists (its
    * post-images live in no base file) or a column rename is recorded
    * (a pre-rename file's stats are keyed by its physical names). A
    * false answer only costs a whole rewrite.
    */
  private def keysDisjoint(root: String,
                           ranges: => Seq[(String, Option[(Any, Any)])])
      : Boolean =
    readManifest(posDeletesRoot(root)).isEmpty &&
      columnRenames(root).isEmpty &&
      ranges.exists {
        case (_, None) => true
        case (k, Some((lo, hi))) =>
          pruneDecision(root, Seq(
            org.apache.spark.sql.sources.GreaterThanOrEqual(k, lo),
            org.apache.spark.sql.sources.LessThanOrEqual(k, hi)))
            .filesScanned == 0
      }

  /** APPEND (no keying), either table form: new version = live
    * snapshot ∪ batch, exact duplicates preserved — the ingest shape
    * for event/log tables where rows have no natural key. Strict
    * schema unless `schemaMode` syncs. Appended rows carry the new
    * commit's write sequence, so equality-delete masks from older
    * commits never hide them. Flat: the batch becomes a new segment
    * and the live segments carry by reference, with the pending
    * deletes and post-images that address them — O(batch) writes (see
    * [[commitAdded]]). Partitioned: touched partitions become (their
    * live rows ∪ batch rows); untouched ones are never read. The form
    * and spec come from the pinned snapshot ([[writeSpec]]).
    */
  def append(spark: SparkSession, root: String, batch: DataFrame,
             partitionBy: Seq[String] = Nil,
             keepVersions: Int = 2, maxRetries: Int = 10,
             schemaMode: MergeWriter.SchemaMode =
               MergeWriter.SchemaMode.Strict): Long = {
    requireNoReservedColumns(batch.columns, s"append into $root",
      Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, batch)
    // When fresh stats exist the commit FOLDS the batch into them
    // (foldColumnStatsOnAppend) — that aggregate must see EXACTLY
    // the rows the write commits, so the batch is MATERIALIZED once
    // and both the write and the fold read the materialization: a
    // re-executed plan with nondeterministic lineage (rand()/uuid()
    // columns, a source that moved between jobs) could otherwise
    // stamp FRESH statistics describing rows that were never written.
    val foldEligible = statsFoldEligible(root)
    val b = if (foldEligible) batch.localCheckpoint() else batch
    try {
    var foldedPosVersion = 0L
    var preV = 0L // the CAS-validated predecessor, for the stats fold
    def once(): Long = {
      val view = snapshotView(root)
      preV = view.map(_.version).getOrElse(0L)
      foldedPosVersion = 0L
      val spec = writeSpec(root, view, partitionBy, evolve = true)
      if (spec.nonEmpty)
        return mergePartitioned(spark, root, b, None, spec, view,
          schemaMode, keepVersions)
      val stamped = b.withColumn(SeqCol, lit(preV + 1))
      view match {
        case None =>
          commit(root, keepVersions, expectedBase = Some(0L)) { dir =>
            stamped.write.mode(SaveMode.Overwrite).parquet(dir)
          }
        case Some(v) =>
          val (ver, folded) = commitAdded(spark, root, flatManifest(v),
            stamped,
            schemaMode == MergeWriter.SchemaMode.SyncAllColumns,
            keepVersions, () => ())
          foldedPosVersion = folded
          ver
      }
    }
    val v = retryThenEscalate(Paths.get(root), maxRetries)(once())
    resetPosDeletes(spark, root, foldedPosVersion, keepVersions)
    if (foldEligible) foldColumnStatsOnAppend(spark, root, b, preV, v)
    v
    } finally if (foldEligible)
      org.apache.spark.sql.graft.SqlShims.unpersistCheckpointed(b)
  }

  /** An add-only flat commit on live manifest `base`: `stamped` (rows
    * carrying this commit's write sequence) becomes a new segment and
    * every live segment carries by reference — pending position
    * deletes and post-images keep addressing the segments they name,
    * so nothing folds. A snapshot already at [[MaxFlatSegments]]
    * instead rewrites whole: the pos-masked snapshot plus `stamped`
    * into one dir (stamps kept), folding pending position deletes.
    * `sync` lets either side's missing columns null-fill (the ALTER
    * ADD COLUMNS / drifting-batch shape); the union is analysed on
    * both paths, so the schema rule is the same. `validate` runs
    * inside the commit lock. Returns (version, the pos version folded
    * — 0 when nothing folded, else the caller resets the set).
    */
  private def commitAdded(spark: SparkSession, root: String,
                          base: Manifest, stamped: DataFrame,
                          sync: Boolean, keepVersions: Int,
                          validate: () => Unit): (Long, Long) = {
    val pinnedPos = posVersion(root)
    val whole = posMaskedSnapshot(spark, root,
      flatView(base.version, base.segments))
      .unionByName(stamped, allowMissingColumns = sync)
    if (base.segments.size < MaxFlatSegments)
      (commit(root, keepVersions, Some(base.version), validate,
        carry = base.segments) { dir =>
        stamped.write.mode(SaveMode.Overwrite).parquet(dir)
      }, 0L)
    else
      (commit(root, keepVersions, Some(base.version), () => {
        validate(); requirePosVersion(root, pinnedPos, "append")()
      }) { dir => whole.write.mode(SaveMode.Overwrite).parquet(dir) },
        pinnedPos)
  }

  /** True when `_column_stats.json` exists and is stamped at the
    * CURRENT fingerprint — the only state an append fold can chain
    * from (see [[foldColumnStatsOnAppend]]).
    */
  private def statsFoldEligible(root: String): Boolean =
    readColumnStats(root).exists(cs =>
      (cs.version, cs.posVersion, cs.eqVersion) ==
        statsFingerprint(root))

  /** FULL REPLACE: the next version holds exactly `df` (the static
    * overwrite / CTAS-over shape), either table form — a partitioned
    * replace vacates every previous partition pointer (Spark's
    * `partitionOverwriteMode=static`; [[overwritePartitions]] is the
    * dynamic one). `partitionBy` = Nil keeps the committed spec
    * ([[writeSpec]]; a replace never changes it). Pending equality
    * deletes stay harmless by the sequence rule (replacement rows
    * out-sequence them); pending position deletes reference superseded
    * files and are ignored by the live filter, reaped at the next fold.
    */
  def replaceTable(spark: SparkSession, root: String, df: DataFrame,
                   partitionBy: Seq[String] = Nil,
                   keepVersions: Int = 2, maxRetries: Int = 10): Long = {
    requireNoReservedColumns(df.columns, s"replace of $root",
      Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, df)
    def once(): Long = {
      val view = snapshotView(root)
      val base = view.map(_.version).getOrElse(0L)
      val stamped = df.withColumn(SeqCol, lit(base + 1))
      writeSpec(root, view, partitionBy, evolve = false) match {
        case Nil =>
          commit(root, keepVersions, expectedBase = Some(base)) { dir =>
            stamped.write.mode(SaveMode.Overwrite).parquet(dir)
          }
        case spec =>
          replacePartitioned(spark, root, stamped, spec,
            covered = view.map(_.partitions.keys.toSeq).getOrElse(Nil),
            expectedBase = Some(base))
      }
    }
    retryThenEscalate(Paths.get(root), maxRetries)(once())
  }

  /** A merge whose pinned base snapshot was PRUNED by a concurrent
    * writer's retention pass fails its read with file-not-found, not
    * a CAS rejection — but it is the same conflict: the live manifest
    * never references deleted files, so an FNF under a pinned read
    * means the base moved and was reclaimed. Classified retryable
    * (re-read the fresh manifest and re-merge), the same treatment
    * real table formats give FileNotFoundException during commit
    * conflicts.
    */
  private def isPrunedSnapshotRead(t: Throwable, rootP: Path): Boolean = {
    // Only a missing file UNDER THE TABLE ROOT (incl. its _deletes
    // sub-table) is a retention-race conflict; a genuinely missing
    // input path elsewhere must fail fast instead of burning the whole
    // backoff + merge-lock escalation budget before surfacing.
    val roots = Set(rootP.toString,
      rootP.toAbsolutePath.normalize.toString)
    // Decoupled checks over the whole cause chain: the FNF/marker
    // condition and the root-path substring may live at DIFFERENT
    // levels (Spark wraps the inner path-less FileNotFoundException
    // in a FAILED_READ_FILE carrier that holds the path, or vice
    // versa) — requiring both in the same message misclassifies a
    // genuine retention race as fatal.
    var sawFnf = false
    var sawRoot = false
    var cur: Throwable = t
    var depth = 0
    while (cur != null && depth < 12) {
      val msg = Option(cur.getMessage).getOrElse("")
      if (cur.isInstanceOf[java.io.FileNotFoundException] ||
          msg.contains("FAILED_READ_FILE") ||
          msg.contains("File does not exist")) sawFnf = true
      if (roots.exists(msg.contains)) sawRoot = true
      if (sawFnf && sawRoot) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Run `once` with up to `maxRetries` optimistic CAS retries; if the
    * budget drains, escalate: serialize the whole read-merge-commit
    * under [[withMergeLock]] with a fresh budget (see its scaladoc for
    * why that converges). Pruned-snapshot reads retry like CAS
    * conflicts — see [[isPrunedSnapshotRead]].
    */
  private def retryThenEscalate[T](rootP: Path, maxRetries: Int)
                                  (once: => T): T = {
    def loop(yieldToMergeLock: Boolean): T = {
      var attempt = 0
      while (true) {
        // optimistic writers wait out an escalated writer's hold —
        // without the yield, fresh optimistic merges would keep
        // beating the lock holder's CAS and the escalation guarantee
        // would be luck, not protocol
        if (yieldToMergeLock) awaitMergeLockClear(rootP)
        try return once
        catch {
          case e: ConcurrentCommitException =>
            attempt += 1
            if (attempt > maxRetries) throw e
            retryBackoff(attempt)
          case e: Throwable if isPrunedSnapshotRead(e, rootP) =>
            attempt += 1
            if (attempt > maxRetries) throw e
            retryBackoff(attempt)
        }
      }
      throw new IllegalStateException("unreachable") // while(true)
    }
    try loop(yieldToMergeLock = true)
    catch {
      case e: Throwable
        if e.isInstanceOf[ConcurrentCommitException] ||
          isPrunedSnapshotRead(e, rootP) =>
        withMergeLock(rootP)(loop(yieldToMergeLock = false))
    }
  }

  /** The full write-conflict retry protocol (randomized backoff,
    * merge-lock escalation, pruned-snapshot FNF classified as a
    * conflict) for callers OUTSIDE this object — the row-level SQL
    * commands wrap their read-compute-commit statement in it so a
    * storm of concurrent DML settles exactly like a storm of library
    * upserts.
    */
  private[graft] def withWriteRetries[T](root: String,
      maxRetries: Int = 10, escalate: Boolean = true)(body: => T): T =
    if (escalate) retryThenEscalate(Paths.get(root), maxRetries)(body)
    else {
      // backoff-only variant for callers whose BODY itself runs verbs
      // that escalate (the row-level SQL statements): taking the
      // non-reentrant merge lock around such a body would self-block
      // the inner awaitMergeLockClear for its full timeout
      val rootP = Paths.get(root)
      var attempt = 0
      while (true) {
        try return body
        catch {
          case e: ConcurrentCommitException =>
            attempt += 1
            if (attempt > maxRetries) throw e
            retryBackoff(attempt)
          case e: Throwable if isPrunedSnapshotRead(e, rootP) =>
            attempt += 1
            if (attempt > maxRetries) throw e
            retryBackoff(attempt)
        }
      }
      throw new IllegalStateException("unreachable")
    }

  /** Randomized linear backoff between CAS retries: without it, N
    * contending writers re-merge in lockstep (each merge takes longer
    * than the inter-commit gap) and optimistic concurrency degrades
    * into livelock — the standard commit-conflict backoff every
    * optimistic table format applies.
    */
  private def retryBackoff(attempt: Int): Unit =
    Thread.sleep(20L * math.min(attempt, 10) +
      java.util.concurrent.ThreadLocalRandom.current().nextLong(150L))

  /** Pessimistic escalation: a writer that exhausts its optimistic
    * retry budget (contention so heavy that every re-merge loses the
    * CAS race) serializes its whole read-merge-commit here instead of
    * failing. Progress is guaranteed because optimistic writers YIELD
    * to a held merge lock ([[awaitMergeLockClear]] before each
    * attempt): once the lock is up, the only commits that can still
    * beat the holder's CAS are the ≤1-per-writer merges already in
    * flight at escalation time, so the post-escalation retry count is
    * bounded by the writer count, not by luck. Held across a merge
    * job — the stale window is sized for seconds-long holds, unlike
    * the ms-scale commit lock.
    */
  private def withMergeLock[T](root: Path)(body: => T): T =
    withCommitLock(root, timeoutMs = 300000, staleMs = 300000,
      name = "_merge.lock")(body)

  /** Block while another writer holds the merge lock (stale locks are
    * ignored) — the yield half of the escalation protocol.
    */
  private def awaitMergeLockClear(root: Path,
                                  timeoutMs: Long = 300000): Unit = {
    val lock = root.resolve("_merge.lock")
    val deadline = System.currentTimeMillis() + timeoutMs
    def held: Boolean =
      try Files.exists(lock) &&
        (System.currentTimeMillis() -
          Files.getLastModifiedTime(lock).toMillis) < 300000
      catch { case _: Throwable => false } // vanished mid-check
    while (held && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  // ------------------------------------------------------------------
  // Equality deletes (merge-on-read row deletes — Iceberg's equality
  // delete files, the key-scoped cousin of Delta's deletion vectors).
  // A delete writes ONLY the deleted keys, never the data: the key
  // list lives in a nested VersionedTable under `root/_deletes`, so
  // delete commits get the same CAS/atomic-flip protocol as data
  // commits for free (concurrent deleters merge, never clobber).
  // Readers subtract the delete set with a (broadcastable — deletes
  // are key-sized, data is corpus-sized) anti-join; `vacuumDeletes`
  // folds the set into a rewritten data version and empties it — the
  // merge-on-read → copy-on-write flip, run when the delete set or
  // read amplification grows past taste.
  //
  // SEQUENCE NUMBERS (Iceberg's rule): every delete entry records the
  // data table's commit version at delete time (`_del_seq`), every
  // written row of either table form records the commit version that
  // wrote it (hidden [[SeqCol]]), and the read-time mask applies a
  // delete ONLY to rows whose write sequence ≤ the delete's sequence
  // ([[applyEqMaskSequenced]]). A key re-upserted AFTER a soft delete
  // is therefore visible immediately — no vacuum needed — while the
  // delete keeps masking the pre-delete row until vacuum folds it
  // away. Rows with no stamp (pre-stamping commits, or raw [[commit]]
  // writes) default to sequence 0 = masked by any delete, the old
  // conservative behavior.
  // ------------------------------------------------------------------

  private[graft] def deletesRoot(root: String): String =
    Paths.get(root).resolve("_deletes").toString

  /** Delete-entry sequence column: the data version the delete masks
    * up to (inclusive). */
  private[graft] val DelSeqCol = "_del_seq"

  /** Soft-delete by key, either table form: commit `keys` (projected
    * to `keyCols`, deduped) into the table's delete set, stamped with
    * the data table's CURRENT version — the sequence up to which this
    * delete masks. Re-deleting a key advances its stamp (keyed
    * upsert). O(|keys|) write, zero data rewrite. On a flat and on a
    * partitioned table alike, a key upserted again after its delete is
    * visible again at once, and the key's pending merge-on-read
    * post-images die with the delete. Returns the delete-set version.
    *
    * Concurrency note: a softDelete racing an in-flight upsert of the
    * same key reads the pre-upsert version and so masks only the old
    * row — the two commits are concurrent, and this rule resolves the
    * race as reinsert-wins, matching wall-clock commit order when the
    * operations are sequential.
    */
  def softDelete(spark: SparkSession, root: String, keys: DataFrame,
                 keyCols: Seq[String], keepVersions: Int = 2,
                 maxRetries: Int = 10): Long = {
    // the snapshot view's version: a partitioned root has no flat
    // manifest, and a 0 stamp would mask nothing the table holds
    val dataVersion = snapshotView(root).map(_.version).getOrElse(0L)
    // pin the pos sub-table version BEFORE the delete commits: only
    // post-images written at-or-before this point belong to the
    // delete's snapshot (entries a RACING update appends afterwards
    // out-sequence the delete — reinsert-wins, the same race rule as
    // the equality mask itself)
    val pinnedPosV = posVersion(root)
    val keySet = keys.select(keyCols.map(keys(_)): _*).distinct()
    // keepVersions applies to the DELETE-SET sub-table: under many
    // concurrent deleters a reader's pinned delete-set dir can lag
    // several commits, so size retention to the worst expected lag
    // (same contract as data-table commits).
    // SyncAllColumns: a delete set written by the pre-sequence code
    // has no _del_seq column — Strict would reject the very first
    // post-upgrade delete and make the documented legacy fallback
    // (null stamp → mask-always) unreachable.
    val out = upsert(spark, deletesRoot(root),
      keySet.withColumn(DelSeqCol, lit(dataVersion)),
      keyCols, schemaMode = MergeWriter.SchemaMode.SyncAllColumns,
      keepVersions = keepVersions, maxRetries = maxRetries)
    // Pending MoR post-images carry sequence dataVersion+1 (they must
    // out-rank every EXISTING delete, the COW restamp contract), so
    // the equality delete above can never out-sequence them —
    // tombstone the key-matching entries directly (identical to what
    // softDeletePos does for its flavor). Ordered AFTER the equality
    // delete is durable: a crash between the two commits then leaves
    // the delete merely INCOMPLETE (post-images still visible; a
    // re-run of the same delete finishes the job), never rows dead
    // with no delete committed. No-op without pending rows. The pin
    // compares the SUB-TABLE commit stamp, NOT the main-table
    // sequence the entries carry in [[PdSeqCol]], which racing
    // updates share: entries committed at-or-before the pinned
    // sub-table version predate this delete and die; later ones
    // survive it.
    snapshotView(root).flatMap(v => liveMorAppendEntries(spark, root, v,
        committedBy = Some(pinnedPosV))).foreach { a =>
      val hits = a.join(keySet, keyCols)
        .select(col(PdPathCol), col(PdPosCol))
        .withColumn(PdDeadCol, lit(true))
      if (!hits.limit(1).isEmpty)
        upsert(spark, posDeletesRoot(root), hits,
          Seq(PdPathCol, PdPosCol),
          schemaMode = MergeWriter.SchemaMode.SyncAllColumns,
          keepVersions = keepVersions, maxRetries = maxRetries)
    }
    out
  }

  /** Live snapshot minus the delete set (merge-on-read, sequence-
    * aware), either table form: a delete entry masks a row only when
    * the row's write sequence ≤ the delete's. Identical to the plain
    * live read when no delete has ever committed.
    */
  def readLiveWithDeletes(spark: SparkSession, root: String,
                          keyCols: Seq[String]): DataFrame = {
    val v = liveView(root)
    applyEqMaskSequenced(spark, root,
      unionDirs(root, dirFrames(spark, root, v), addressed = false),
      Some(keyCols)).drop(SeqCol)
  }

  /** Fold the delete set into the data, either table form, then reset
    * the set to empty (CAS — a racing delete's entries survive).
    * Readers see the same rows before and after — only the physical
    * layout changes. The data rewrite commits FIRST; a reader
    * interleaving between the two flips sees the rewritten data plus
    * the not-yet-cleared delete set, whose masked rows are already
    * absent, so no anomaly window exists. The fold reads through the
    * position-delete fold and keeps every surviving row's stamp, so a
    * stale entry left by a lost reset race cannot re-mask a row that
    * out-sequences it. Only the segments (flat) or partitions
    * (partitioned) holding a row the sequence rule masks rewrite;
    * nothing commits when no row is masked, and an empty delete set is
    * not reset again. Returns the data version after the fold.
    */
  def vacuumDeletes(spark: SparkSession, root: String,
                    keyCols: Seq[String], keepVersions: Int = 2,
                    maxRetries: Int = 10): Long = {
    val dr = deletesRoot(root)
    // the versions each fold attempt consumed — read by the resets
    // AFTER the retried section, so a retryable failure in a reset can
    // never re-run (and re-commit) the already-committed fold
    var foldedDeletesVersion: Option[Long] = None
    def once(): Long = {
      // pin the data view (the fold's commit CAS-checks it) and the
      // delete-set version (the reset CAS-checks it, so a softDelete
      // landing BETWEEN fold and reset is never wiped) before the
      // fold reads either
      val v = liveView(root)
      foldedDeletesVersion = readManifest(dr).map(_.version)
        .filterNot(_ => readLive(spark, dr).limit(1).isEmpty)
      if (foldedDeletesVersion.isEmpty) v.version
      else foldEqDeletes(spark, root, v, keyCols, keepVersions)
    }
    val v = retryThenEscalate(Paths.get(root), maxRetries)(once())
    // the reset runs OUTSIDE the retried section: the fold is
    // committed; losing a reset (racing delete's CAS win, or its own
    // pinned read pruned) only leaves already-folded entries behind,
    // which the sequence stamps keep harmless — never worth re-folding
    // for. Position entries of rewritten segments or partitions go
    // stale with their dirs and are reaped at the next pos fold.
    foldedDeletesVersion.foreach { dv =>
      try {
        val empty = readLive(spark, dr).limit(0)
        commit(dr, keepVersions, expectedBase = Some(dv)) { dir =>
          empty.write.mode(SaveMode.Overwrite).parquet(dir)
        }
      } catch {
        case _: ConcurrentCommitException => () // racing delete wins
        case e: Throwable if isPrunedSnapshotRead(e, Paths.get(dr)) => ()
      }
    }
    v
  }

  /** [[vacuumDeletes]]' fold, either table form: only the segments
    * (flat) or partitions (partitioned) holding a row the sequence rule
    * masks rewrite, through the position-delete fold of exactly those
    * leaves (a restricted view restricts the pending post-images too);
    * every other leaf keeps its dir — a flat commit carries the
    * untouched segments by reference. Returns the view's version when
    * nothing is masked (a key upserted again after its delete rewrites
    * nothing).
    */
  private def foldEqDeletes(spark: SparkSession, root: String,
                            m: PartitionedManifest,
                            keyCols: Seq[String],
                            keepVersions: Int): Long = {
    val pinnedPos = posVersion(root)
    val validate = requirePosVersion(root, pinnedPos, "vacuum")
    if (isFlat(m)) {
      // each row tagged with the segment whose fold carries it
      val segs = m.partitions.values.toSeq.sorted
      val tagged = segs.map(d =>
        posMaskedSnapshot(spark, root,
          m.copy(partitions = m.partitions.filter(_._2 == d)))
          .withColumn(SegCol, lit(d)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val judged = withDelSeq(spark, root, tagged, Some(keyCols))
        .getOrElse(return m.version)
      val touched = judged.filter(eqMasked).select(SegCol).distinct()
        .collect().map(_.getString(0)).toSet
      if (touched.isEmpty) return m.version
      val folded = judged
        .filter(col(SegCol).isin(touched.toSeq: _*) && !eqMasked)
        .drop(DelSeqCol, SegCol)
      return commit(root, keepVersions, Some(m.version), validate,
        carry = segs.filterNot(touched)) { dir =>
        folded.write.mode(SaveMode.Overwrite).parquet(dir)
      }
    }
    // fold through the pos-delete mask too: this rewrite supersedes
    // the touched partitions' files
    val base = posMaskedSnapshot(spark, root, m)
    val judged = withDelSeq(spark, root, base, Some(keyCols))
      .getOrElse(return m.version)
    val touched = judged.filter(eqMasked)
      .select(m.partitionColumns.map(col): _*).distinct().collect()
    if (touched.isEmpty) return m.version
    // covered keys rendered by Spark's OWN dynamic-partition writer
    // (not a hand escapePathName over String.valueOf, which diverges
    // for null — Spark writes __HIVE_DEFAULT_PARTITION__ — and for
    // timestamp values), so fully-emptied partitions resolve to
    // byte-identical manifest keys they must vacate
    val coveredRel = renderPartitionKeys(spark,
      base.select(m.partitionColumns.map(col): _*).schema, touched)
    val folded = judged
      .filter(touchedPredicate(m.partitionColumns, touched) && !eqMasked)
      .drop(DelSeqCol)
    replacePartitioned(spark, root, folded, m.partitionColumns,
      covered = coveredRel, expectedBase = Some(m.version),
      validate = validate)
  }

  /** The segment tag of [[foldEqDeletes]]' flat judgement. */
  private val SegCol = "__graft_segment"

  // ------------------------------------------------------------------
  // POSITION deletes (Iceberg v2's second delete flavor): entries are
  // (data file, row position) pairs, so a delete can target exact
  // physical rows with NO key column at all — the natural output of a
  // quality scan ("drop rows 17 and 93 of file X") and the cheap path
  // when the matched rows are already known. MoR read = anti-join on
  // (path, pos) against `_pos_deletes`, O(|deletes|), zero rewrite.
  //
  // Positions bind to PHYSICAL files, so any operation that rewrites
  // data files must carry the masks along or they silently un-delete.
  // The protocol (same one Iceberg's RewriteFiles validation uses):
  //   - rewrites (upsert / compact*) pin the pos-delete set version
  //     BEFORE their snapshot read, FOLD live entries into the rows
  //     they rewrite, and VALIDATE inside the commit lock that the
  //     set version is unchanged — a delete landing mid-rewrite forces
  //     a retry that folds it, never a lost mask;
  //   - softDeletePos re-checks the snapshot view after committing its
  //     entries and redoes the identification if a rewrite interleaved
  //     — whichever side commits second detects the other;
  //   - readers apply only entries that address a LIVE version dir of
  //     the view; entries left behind by a lost reset race are
  //     stale by construction (their files were rewritten WITH the
  //     fold, or re-resolved by the deleter's redo) and are reaped at
  //     the next fold's reset.
  // ------------------------------------------------------------------

  private[graft] def posDeletesRoot(root: String): String =
    Paths.get(root).resolve("_pos_deletes").toString

  private[graft] val PdPathCol = "_pd_path"
  private[graft] val PdPosCol = "_pd_pos"

  // ------------------------------------------------------------------
  // Merge-on-read ROW MUTATIONS (the Iceberg MoR UPDATE/MERGE shape):
  // one keyed commit into the SAME `_pos_deletes` sub-table carries
  // both halves of a row mutation — position-delete entries for the
  // pre-images and APPEND entries holding the post-image data columns
  // under synthetic paths `<qualifier>/_append_<uuid>` — so the
  // statement is atomic (single sub-table commit), rewrites ZERO data
  // files, and every piece of existing machinery extends for free:
  //   - every rewrite verb already reads through the pos-masked
  //     snapshot (now append-extended) and CAS-validates the
  //     sub-table version at commit, so appends can never be dropped
  //     by a concurrent rewrite;
  //   - append entries are path-qualified by the snapshot they were
  //     computed against (flat: the live version dir; partitioned:
  //     `<dir>/<partitionKey>`), so a base rewrite auto-stales them
  //     exactly like delete entries — the rewrite FOLDED them first;
  //   - vacuum folds pending appends into real data files and the
  //     CAS'd reset reaps the entries.
  // Append entries add data columns to the sub-table (schema-synced
  // upsert); `_pd_seq` carries the logical write sequence for the
  // equality-delete rule and `_pd_dead` tombstones an append that a
  // later DELETE removed (entries are keyed, so "remove" = replace
  // with a dead row). Like position deletes, pending appends are
  // live-read semantics only: time travel and CDF see them once
  // folded, never before.
  // ------------------------------------------------------------------

  private[graft] val PdSeqCol = "_pd_seq"
  private[graft] val PdDeadCol = "_pd_dead"
  private[graft] val MorMarker = "_append_"
  private[graft] val MorKeyPathCol = "__graft_mor_key_path"
  private[graft] val MorKeyPosCol = "__graft_mor_key_pos"

  /** Is this `_pd_path` a merge-on-read APPEND entry? (Its last
    * segment wears the marker — no real data file ever does: Spark
    * writers name files "part-…"/staged UUIDs, and the catalog
    * rejects path separators in identifiers.)
    */
  private def isMorAppendPath: Column =
    expr(s"substring_index($PdPathCol, '/', -1)").startsWith(MorMarker)

  private def notDead(df: DataFrame): Column =
    if (df.columns.contains(PdDeadCol))
      !coalesce(col(PdDeadCol), lit(false))
    else lit(true)

  /** Names every MoR verb must keep out of user schemas (the entry
    * keys double as data columns in the sub-table).
    */
  private[graft] val MorReservedCols: Set[String] =
    Set(PdPathCol, PdPosCol, PdSeqCol, PdDeadCol,
      MorKeyPathCol, MorKeyPosCol)

  // ------------------------------------------------------------------
  // The SNAPSHOT VIEW: every position-delete and merge-on-read verb
  // reads the table through one shape, a [[PartitionedManifest]]. A
  // partitioned table is its manifest; a flat table is a view with no
  // partition columns and one leaf per segment, keyed by the segment
  // dir's own name — a read-side view, nothing on disk changes.
  // `partitionColumns.isEmpty` is the only test of table form. Both
  // forms carry the write-sequence stamp and share ONE equality-delete
  // rule ([[applyEqMaskSequenced]]) and one entry-liveness rule: a
  // delete entry is live while its first path segment is a dir the
  // view maps, a post-image while its qualifier is a leaf of the view
  // ([[viewLeaf]]). The rules that really differ between the forms are
  // each chosen in ONE place below:
  //   - the parquet read ([[readDir]]: flat goes through the schema
  //     memo; partitioned reads typed leaves);
  //   - the leaf path ([[viewLeaf]]: the segment dir itself, or
  //     `dir/key`);
  //   - the post-image qualifier ([[postImageQualifier]]).
  // ------------------------------------------------------------------

  /** The snapshot view of `root`: live, or as of `version` (time
    * travel, validated loudly by [[versionView]]). None when the
    * table has never committed.
    */
  private[graft] def snapshotView(root: String,
                                  version: Option[Long] = None)
      : Option[PartitionedManifest] =
    version match {
      case None =>
        readPartitionedManifest(root).orElse(readManifest(root).map(m =>
          flatView(m.version, m.segments)))
      case Some(v) => Some(versionView(root, v))
    }

  /** A flat snapshot as a view: one leaf per segment, keyed by the
    * segment dir's name.
    */
  private def flatView(version: Long,
                       segments: Seq[String]): PartitionedManifest =
    PartitionedManifest(version, Nil, segments.map(d => d -> d).toMap)

  /** A flat view as its manifest: segment dir names sort in commit
    * order.
    */
  private def flatManifest(v: PartitionedManifest): Manifest =
    Manifest(v.version, v.partitions.values.toSeq.sorted)

  private def liveView(root: String): PartitionedManifest =
    snapshotView(root).getOrElse(throw new IllegalStateException(
      s"no _manifest.json under $root — table has never committed"))

  private def isFlat(v: PartitionedManifest): Boolean =
    v.partitionColumns.isEmpty

  /** The root-relative path of the view's leaf `key` mapped to `dir`:
    * a flat segment is its whole dir, a partition `dir/key`.
    */
  private[graft] def viewLeaf(v: PartitionedManifest, key: String,
                              dir: String): String =
    if (isFlat(v)) dir else s"$dir/$key"

  /** The path minus its last segment — a sub-table entry's qualifier. */
  private[graft] def dirOf(path: Column): Column =
    path.substr(lit(1), length(path) -
      length(substring_index(path, "/", -1)) - lit(1))

  /** One version dir of the view as a raw parquet frame (`_metadata`
    * still attachable): the whole dir, or the `files` a pruned scan
    * kept. Flat reads go through the schema memo; partitioned reads
    * fix the recorded partition-value types.
    */
  private[graft] def readDir(spark: SparkSession, root: String,
                             v: PartitionedManifest, dirName: String,
                             files: Option[Seq[Path]]): DataFrame = {
    val dir = Paths.get(root).resolve(dirName)
    files match {
      case Some(fs) if isFlat(v) =>
        memoFilesParquet(spark, dir, fs.map(_.toString))
      case None if isFlat(v) => memoFlatParquet(spark, dir)
      case _ =>
        readLeavesTyped(spark, root, dir.toString,
          files.map(_.map(_.toString)).getOrElse(
            v.partitions.toSeq.filter(_._2 == dirName).map(_._1).sorted
              .map(k => s"$dir/$k")))
    }
  }

  /** Every version dir the view maps, read whole, dirs sorted — at
    * most [[MaxFlatSegments]] on a flat view.
    */
  private[graft] def dirFrames(spark: SparkSession, root: String,
                               v: PartitionedManifest)
      : Seq[(String, DataFrame)] =
    v.partitions.values.toSeq.distinct.sorted
      .map(d => d -> readDir(spark, root, v, d, None))

  /** `df`, a raw read of version dir `dirName`, with each row's
    * physical address attached: [[AddrPathCol]] = `dirName/<path under
    * it>` (version-dir-qualified, so an entry can never match a file of
    * another version) and [[AddrPosCol]] = the parquet row index
    * (Spark's `_metadata.row_index` — stable for an immutable file).
    * Per dir, BEFORE any union: metadata columns do not survive one.
    */
  private def withAddress(root: String, dirName: String,
                          df: DataFrame): DataFrame = {
    requireNoReservedColumns(df.columns, s"table $root",
      Seq(AddrPathCol, AddrPosCol))
    df.select(col("*"),
      concat(lit(dirName + "/"),
        expr(s"substring_index(_metadata.file_path, '/$dirName/', -1)"))
        .as(AddrPathCol),
      col("_metadata.row_index").as(AddrPosCol))
  }

  /** Per-dir frames as ONE snapshot frame: addresses attached first
    * when `addressed`, then the union, the stamp default and rename
    * normalization. No mergeSchema: every file under one version dir
    * was written by ONE commit, so footer-merging is pure planning
    * cost — cross-COMMIT schema drift is reconciled by the
    * allowMissingColumns union, the only place it can appear.
    */
  private[graft] def unionDirs(root: String,
                               groups: Seq[(String, DataFrame)],
                               addressed: Boolean): DataFrame =
    normalizeRenames(root, stampDefaulted(groups.map { case (d, df) =>
      if (addressed) withAddress(root, d, df) else df
    }.reduce(_.unionByName(_, allowMissingColumns = true))))

  /** Live MoR-append entries of the view: entry keys
    * ([[PdPathCol]]/[[PdPosCol]]), the post-image's write sequence as
    * [[SeqCol]] and its data columns. An append is live while its
    * qualifier is still a leaf of the view: a flat segment the
    * snapshot lists, or a partition key the manifest STILL maps to the
    * qualifying version dir (a rewrite of that segment or partition
    * folded and staled it). `committedBy` keeps only entries the sub-table
    * committed at-or-before that sub-table version. None when the
    * sub-table is absent or carries no data columns (pure position
    * deletes). The MAIN table's column renames normalize the data
    * columns (entry keys are reserved names, never renamed).
    */
  private def liveMorAppendEntries(spark: SparkSession, root: String,
                                   v: PartitionedManifest,
                                   committedBy: Option[Long] = None)
      : Option[DataFrame] =
    readManifest(posDeletesRoot(root)).flatMap { _ =>
      // stamped with the SUB-TABLE commit version, for `committedBy`
      val stamped =
        normalizeRenames(root, readLiveStamped(spark, posDeletesRoot(root)))
      val all = committedBy.fold(stamped)(p => stamped.filter(col(SeqCol) <= p))
      val dataCols = all.columns
        .filterNot(c => MorReservedCols.contains(c) || c == SeqCol).toSeq
      if (dataCols.isEmpty) None
      else Some {
        import spark.implicits._
        // live qualifiers come straight from the view (driver-side,
        // |leaves|-bounded, broadcast into the join)
        val liveQuals = v.partitions.toSeq.sorted
          .map { case (k, d) => viewLeaf(v, k, d) }.toDF("__graft_mor_qual")
        val live = all.filter(isMorAppendPath)
          .withColumn("__graft_mor_qual", dirOf(col(PdPathCol)))
          .join(org.apache.spark.sql.functions.broadcast(liveQuals),
            Seq("__graft_mor_qual"))
        val seq =
          if (all.columns.contains(PdSeqCol)) coalesce(col(PdSeqCol), lit(0L))
          else lit(0L)
        live.filter(notDead(all)).select((Seq(col(PdPathCol), col(PdPosCol),
          seq.as(SeqCol)) ++ dataCols.map(col)): _*)
      }
    }

  /** Pending append post-images ONLY, fully masked — what a pruned
    * scan whose every base file was skipped must still return (append
    * rows live in no file, so file-level skipping never covers them).
    */
  private[graft] def liveMorAppendsMasked(spark: SparkSession,
                                          root: String,
                                          v: PartitionedManifest)
      : Option[DataFrame] =
    liveMorAppendEntries(spark, root, v).map(a => applyEqMaskSequenced(
      spark, root, a.drop(PdPathCol, PdPosCol)).drop(SeqCol))

  /** Qualifier of a MoR post-image: on a flat view the NEWEST
    * segment, whatever row it replaces (never "the address minus its
    * file" — a flat version dir may hold Hive-style subdirs — and
    * defined for inserted rows, which have no address); on a
    * partitioned one the source address minus its file segment
    * (`<dir>/<partitionKey>`), where the source row lives.
    */
  private[graft] def postImageQualifier(v: PartitionedManifest,
                                        addrPath: Column): Column =
    if (isFlat(v)) lit(v.partitions.values.max) else dirOf(addrPath)

  /** The OBSERVABLE live snapshot with every row's merge-on-read
    * address attached — the identification read a MoR UPDATE/MERGE
    * starts from:
    *   - base-file rows carry ([[AddrPathCol]], [[AddrPosCol]]) and
    *     null entry keys;
    *   - pending append rows carry their sub-table entry keys
    *     ([[MorKeyPathCol]], [[MorKeyPosCol]]) and null addresses.
    * Both delete families are applied (the frame matches what SELECT
    * sees). None when the table never committed; the view is returned
    * alongside for the statement's qualifiers and staleness check.
    */
  private[graft] def morAddressed(spark: SparkSession, root: String)
      : Option[(PartitionedManifest, DataFrame)] =
    snapshotView(root).map { v =>
      val base0 =
        unionDirs(root, dirFrames(spark, root, v), addressed = true)
      val posMasked = livePosDeleteEntries(spark, root, v) match {
        case Some(d) =>
          base0.join(d, Seq(AddrPathCol, AddrPosCol), "left_anti")
        case None => base0
      }
      val baseSide = posMasked
        .withColumn(MorKeyPathCol, lit(null).cast("string"))
        .withColumn(MorKeyPosCol, lit(null).cast("long"))
      val both = liveMorAppendEntries(spark, root, v) match {
        case Some(a) =>
          baseSide.unionByName(
            a.withColumnRenamed(PdPathCol, MorKeyPathCol)
              .withColumnRenamed(PdPosCol, MorKeyPosCol)
              .withColumn(AddrPathCol, lit(null).cast("string"))
              .withColumn(AddrPosCol, lit(null).cast("long")),
            allowMissingColumns = true)
        case None => baseSide
      }
      (v, applyEqMaskSequenced(spark, root, both).drop(SeqCol))
    }

  /** Commit a merge-on-read mutation batch (delete entries + append
    * post-images + in-place append replacements/tombstones, unioned
    * by the caller) into the sub-table — ONE keyed commit, zero data
    * files touched.
    *
    * Serialization contract (why row mutations can never partially
    * apply or double-apply):
    *   - the MAIN table's commit lock is held across {snapshot
    *     re-validation + the sub-table commit}, so a base rewrite —
    *     which flips its manifest under that same lock — either
    *     happened before (we SEE it and abort having committed
    *     NOTHING → the caller re-identifies) or happens after (its
    *     own pos-version validation fires against our bump and it
    *     re-folds WITH our entries);
    *   - racing MoR statements serialize on the sub-table CAS
    *     (`expectedPosVersion` pinned before the identification
    *     read), so two concurrent `SET v = v + 1` compose to +2,
    *     never to duplicated post-images.
    * Lock-hold cost is the sub-table merge write — O(pending
    * entries), never O(table). Returns None on either conflict (the
    * caller re-runs identification against the fresh snapshot).
    */
  private[graft] def morCommitEntries(spark: SparkSession, root: String,
                                      batch: DataFrame,
                                      expectedPosVersion: Long,
                                      snapshotStillCurrent: () => Boolean)
      : Option[Long] = {
    // the MAIN table's CHECK constraints apply to the post-image rows
    // this commit makes visible (delete entries/tombstones carry null
    // data and are exactly the rows a null-fails predicate would
    // spuriously reject — exclude them, they remove visibility)
    enforceConstraints(root,
      batch.filter(col(PdSeqCol).isNotNull &&
          !coalesce(col(PdDeadCol), lit(false)))
        .drop(PdPathCol, PdPosCol, PdSeqCol, PdDeadCol))
    val dr = posDeletesRoot(root)
    val keys = Seq(PdPathCol, PdPosCol)
    try {
      withCommitLock(Paths.get(root)) {
        if (!snapshotStillCurrent()) return None
        val next = expectedPosVersion + 1
        val stamped = batch.withColumn(SeqCol, lit(next))
        Some(commit(dr, keepVersions = 2,
            expectedBase = Some(expectedPosVersion)) { dir =>
          val content = readManifest(dr) match {
            case None => stamped
            case Some(_) =>
              val existing = readLiveStamped(spark, dr)
              val (ea, ua) = MergeWriter.alignSchemas(existing,
                stamped, keys, MergeWriter.SchemaMode.SyncAllColumns)
              ea.join(batch.select(keys.map(batch(_)): _*), keys,
                  "left_anti")
                .unionByName(ua)
          }
          content.write.mode(SaveMode.Overwrite).parquet(dir)
        })
      }
    } catch {
      case _: ConcurrentCommitException => None // racing MoR statement
    }
  }

  // Read-time ADDRESS columns attached by [[withAddress]] are named
  // differently from the `_pos_deletes` table's own stored key columns
  // (PdPathCol/PdPosCol): the delete table itself is committed through
  // `upsert`, whose existing-snapshot read goes through the same
  // position-delete fold — identical names made drop(PdPathCol,
  // PdPosCol) remove the table's REAL keys, null-padding prior entries
  // and resurrecting deleted rows on the second softDeletePos.
  private[graft] val AddrPathCol = "__graft_addr_path"
  private[graft] val AddrPosCol = "__graft_addr_pos"

  private def posVersion(root: String): Long =
    readManifest(posDeletesRoot(root)).map(_.version).getOrElse(0L)

  /** Commit-time check for a rewrite that folded the position deletes
    * pinned at `pinned`: entries landing mid-rewrite would address
    * superseded files after the flip (un-delete), so the commit aborts
    * and the caller's retry re-folds.
    */
  private def requirePosVersion(root: String, pinned: Long,
                                what: String): () => Unit = () =>
    if (posVersion(root) != pinned)
      throw new ConcurrentCommitException(
        s"position deletes landed under $root during the $what — " +
          "re-fold and retry")

  /** [[requirePosVersion]] plus the equality-delete guard of a rewrite
    * that restamps every row (see [[eqDeleteVersion]]).
    */
  private def requireDeleteVersions(root: String, pos: Long,
                                    eq: Long): () => Unit = () => {
    requirePosVersion(root, pos, "row-level rewrite")()
    if (eqDeleteVersion(root) != eq)
      throw new ConcurrentCommitException(
        s"equality deletes landed under $root during the row-level " +
          "rewrite — restamped rows would out-sequence them " +
          "(un-delete); re-read and retry")
  }

  /** Loud failure instead of silent column loss: internal plumbing
    * attaches/derives columns with these names, so a user schema that
    * collides would be dropped or overwritten mid-operation.
    */
  private def requireNoReservedColumns(cols: Seq[String], what: String,
                                       reserved: Seq[String]): Unit = {
    val clash = cols.filter(reserved.contains)
    require(clash.isEmpty,
      s"$what uses reserved internal column name(s) ${clash.mkString(", ")}" +
        " — rename them before writing through VersionedTable")
  }

  /** Pos-delete entries that can address a file of the view, as
    * address columns: the entry's first path segment is a dir the view
    * still maps (a flat segment, or a partitioned manifest's dir).
    * None when no delete ever committed.
    */
  private def livePosDeleteEntries(spark: SparkSession, root: String,
                                   v: PartitionedManifest)
      : Option[DataFrame] =
    readManifest(posDeletesRoot(root)).map { _ =>
      readLive(spark, posDeletesRoot(root))
        .filter(expr(s"substring_index($PdPathCol, '/', 1)")
          .isin(v.partitions.values.toSeq.distinct: _*))
        .select(col(PdPathCol).as(AddrPathCol), col(PdPosCol).as(AddrPosCol))
    }

  /** Per-dir frames of the view minus live position deletes, plus the
    * view's pending merge-on-read post-images — addresses attach only
    * when a pos-delete sub-table exists (zero extra cost on tables
    * that never used one). Rows keep the write-sequence stamp.
    */
  private def posMasked(spark: SparkSession, root: String,
                        v: PartitionedManifest,
                        groups: Seq[(String, DataFrame)]): DataFrame = {
    val dels = livePosDeleteEntries(spark, root, v)
    val base = unionDirs(root, groups, addressed = dels.isDefined)
    val masked = dels match {
      case Some(d) =>
        base.join(d, Seq(AddrPathCol, AddrPosCol), "left_anti")
          .drop(AddrPathCol, AddrPosCol)
      case None => base
    }
    // pending post-images (data columns and [[SeqCol]]);
    // `allowMissingColumns` both ways: the table may have
    // evolved past an old append (reads null-fill) or an append may
    // carry a column the pruned base projection lacks
    liveMorAppendEntries(spark, root, v).fold(masked)(a =>
      masked.unionByName(a.drop(PdPathCol, PdPosCol),
        allowMissingColumns = true))
  }

  /** The snapshot `v` describes through the position-delete fold —
    * the read EVERY rewrite (upsert/append/vacuum/compaction/row-level
    * rewrites) goes through, so pending post-images fold with it and
    * the rewrite's pinned pos-version CAS guards the race. A
    * restricted view restricts the appends too, so targeted folds fold
    * exactly their own partitions' pending rows.
    */
  private def posMaskedSnapshot(spark: SparkSession, root: String,
                                v: PartitionedManifest): DataFrame =
    posMasked(spark, root, v, dirFrames(spark, root, v))

  /** Live snapshot minus position deletes (merge-on-read), either
    * table form. Identical to the plain live read when no position
    * delete has ever committed. Composes with equality deletes only
    * additively (apply whichever read matches the delete flavor in
    * use — mixing both on one table works but each read applies its
    * own flavor).
    */
  def readLiveWithPosDeletes(spark: SparkSession, root: String): DataFrame =
    posMaskedSnapshot(spark, root, liveView(root)).drop(SeqCol)

  // ------------------------------------------------------------------
  // DSv2 bridge (graft.sources.GraftDataSource): the scan planner
  // prunes FILES itself (sidecar + partition bounds routed from pushed
  // filters) over the same snapshot view, then applies the same
  // merge-on-read masking the library reads do — on per-dir reads of
  // a SUBSET of the view's files. Key columns are derived from the
  // delete sub-table's own schema, so the DSv2 surface needs no
  // keyCols option.
  // ------------------------------------------------------------------

  /** Apply BOTH delete flavors to per-dir raw parquet reads of (a
    * subset of) the view's files. `groups` are (version dir name,
    * unprojected parquet frame): addresses attach per dir, before the
    * union. Position deletes use the address anti-join, pending
    * post-images union in (ALL live ones — file pruning is
    * file-stats-based and appends live in no file; every pushed
    * filter is also residual, so extra rows are re-filtered above the
    * scan), then the form's equality-delete rule applies — each only
    * if its sub-table exists. Internal columns are dropped.
    */
  private[graft] def maskDeletes(spark: SparkSession, root: String,
                                 v: PartitionedManifest,
                                 groups: Seq[(String, DataFrame)])
      : DataFrame =
    // appends union BEFORE the equality mask: a later eq delete must
    // mask a pending post-image by the same rule as any row
    applyEqMaskSequenced(spark, root, posMasked(spark, root, v, groups))
      .drop(SeqCol)

  /** `df`, a [[SeqCol]]-stamped frame, left-joined with each key's
    * delete sequence as [[DelSeqCol]] (legacy entries without one mask
    * unconditionally). Keys default to the delete set's own columns.
    * None when no equality delete ever committed.
    */
  private def withDelSeq(spark: SparkSession, root: String, df: DataFrame,
                         keyCols: Option[Seq[String]]): Option[DataFrame] =
    readManifest(deletesRoot(root)).map { _ =>
      val dels = readLive(spark, deletesRoot(root))
      val keys =
        keyCols.getOrElse(dels.columns.filterNot(_ == DelSeqCol).toSeq)
      val delsSeq =
        (if (dels.columns.contains(DelSeqCol))
           dels.withColumn(DelSeqCol,
             coalesce(col(DelSeqCol), lit(Long.MaxValue)))
         else dels.withColumn(DelSeqCol, lit(Long.MaxValue)))
          .select((keys.map(col) :+ col(DelSeqCol)): _*)
      df.join(delsSeq, keys, "left")
    }

  /** THE equality-delete SEQUENCE rule over a [[withDelSeq]] frame: a
    * delete masks only rows written at-or-before it.
    */
  private def eqMasked: Column =
    col(DelSeqCol).isNotNull && col(DelSeqCol) >= col(SeqCol)

  /** [[eqMasked]] applied to any [[SeqCol]]-stamped frame, either
    * table form, the stamp kept — identity when no equality delete
    * ever committed.
    */
  private def applyEqMaskSequenced(spark: SparkSession, root: String,
                                   df: DataFrame,
                                   keyCols: Option[Seq[String]] = None)
      : DataFrame =
    withDelSeq(spark, root, df, keyCols)
      .fold(df)(_.filter(!eqMasked).drop(DelSeqCol))

  /** Delete the live rows matching `predicate` BY POSITION, either
    * table form: identify (file, row-index) pairs with one
    * metadata-column scan, commit them into `_pos_deletes` (keyed
    * upsert — re-deleting a position is a no-op), zero data rewrite.
    * If a rewrite interleaves, the freshly-committed entries may
    * reference replaced files — detected by the post-commit view
    * re-check and redone against the new snapshot (the rewrite side's
    * commit-lock validation covers the opposite interleaving, see the
    * section comment). Returns the delete-set version.
    */
  def softDeletePos(spark: SparkSession, root: String, predicate: Column,
                    keepVersions: Int = 2, maxRetries: Int = 10): Long = {
    var attempt = 0
    while (true) {
      val v = liveView(root)
      try {
        val baseHits =
          unionDirs(root, dirFrames(spark, root, v), addressed = true)
          .filter(predicate)
          .select(col(AddrPathCol).as(PdPathCol),
            col(AddrPosCol).as(PdPosCol)).distinct()
        // pending merge-on-read post-images live in no data file —
        // a DELETE must tombstone the matching entries too (keyed
        // replace with _pd_dead) or the rows it "deleted" stay visible
        val hits = liveMorAppendEntries(spark, root, v) match {
          case Some(a) => baseHits.unionByName(
            a.filter(predicate)
              .select(col(PdPathCol), col(PdPosCol))
              .withColumn(PdDeadCol, lit(true)),
            allowMissingColumns = true)
          case None => baseHits
        }
        val ver = upsert(spark, posDeletesRoot(root), hits,
          Seq(PdPathCol, PdPosCol),
          schemaMode = MergeWriter.SchemaMode.SyncAllColumns,
          keepVersions = keepVersions, maxRetries = maxRetries)
        // entries are live only if the view we addressed is still the
        // live one (a flat version never moves without its dir);
        // otherwise a rewrite interleaved and we must re-identify (our
        // stale entries stay harmlessly ignored until the next fold's
        // reset reaps them). Checked under the commit lock: a rewrite
        // that validated the pos version before our entries landed
        // flips its manifest under that lock, so we see its flip
        if (withCommitLock(Paths.get(root))(snapshotView(root).contains(v)))
          return ver
      } catch {
        // the identification scan read a snapshot that retention
        // pruned mid-read — same conflict, same retry
        case e: Throwable if isPrunedSnapshotRead(e, Paths.get(root)) => ()
      }
      attempt += 1
      if (attempt > maxRetries) throw new ConcurrentCommitException(
        s"softDeletePos lost $attempt identification races under $root")
    }
    0L // unreachable
  }

  /** (live entries, stale entries) in the pos-delete set — the audit
    * surface: stale entries reference non-live version dirs and are
    * ignored by every reader.
    */
  def posDeleteEntryCounts(spark: SparkSession, root: String): (Long, Long) =
    readManifest(posDeletesRoot(root)) match {
      case None => (0L, 0L)
      case Some(_) =>
        // liveness by the view's form: flat = the entry's first
        // segment is a listed segment (a flat dir may hold Hive-style
        // subdirs); partitioned = its "<dir>/<partitionKey>" qualifier
        // still mapped
        val isLive: Column = snapshotView(root) match {
          case Some(v) if !isFlat(v) =>
            dirOf(col(PdPathCol)).isin(
              v.partitions.toSeq.map { case (k, d) => viewLeaf(v, k, d) }: _*)
          case v =>
            expr(s"substring_index($PdPathCol, '/', 1)").isin(
              v.toSeq.flatMap(_.partitions.values): _*)
        }
        val all = readLive(spark, posDeletesRoot(root))
        val r = all.agg(
          org.apache.spark.sql.functions.sum(
            when(isLive, 1L).otherwise(0L)).as("l"),
          org.apache.spark.sql.functions.count(lit(1)).as("n")).collect()(0)
        val l = if (r.isNullAt(0)) 0L else r.getLong(0)
        (l, r.getLong(1) - l)
    }

  /** Shared rewrite protocol for operations that replace the live
    * data files (compaction, clustering): pin the pos-delete set, fold
    * its live entries into the snapshot, commit the new layout with
    * commit-lock validation that no delete landed mid-rewrite, then
    * reset the folded set (CAS'd — a racing delete's entries survive).
    * `layout` re-arranges rows only; it must not change their content.
    */
  private def rewriteFoldingPosDeletes(spark: SparkSession, root: String,
                                       what: String,
                                       keepVersions: Int, maxRetries: Int)
                                      (layout: DataFrame => DataFrame): Long = {
    var foldedPosVersion = 0L
    def once(): Long = {
      val v = liveView(root)
      require(isFlat(v),
        s"$what rewrites flat tables; $root is partitioned by " +
          v.partitionColumns.mkString("(", ",", ")") + " — use " +
          "compactPartitions or compactPartitionsSorted")
      foldedPosVersion = posVersion(root)
      val snap = posMaskedSnapshot(spark, root, v)
      commit(root, keepVersions, expectedBase = Some(v.version),
        validate = requirePosVersion(root, foldedPosVersion,
          "rewrite")) { dir =>
        layout(snap).write.mode(SaveMode.Overwrite).parquet(dir)
      }
    }
    val v = retryThenEscalate(Paths.get(root), maxRetries)(once())
    resetPosDeletes(spark, root, foldedPosVersion, keepVersions)
    v
  }

  /** CAS-reset of the pos-delete set after a fold: losing the race to
    * a mid-air softDeletePos keeps its fresh entries (plus our folded
    * ones, now stale-by-path and reader-invisible).
    */
  private def resetPosDeletes(spark: SparkSession, root: String,
                              foldedVersion: Long,
                              keepVersions: Int): Unit =
    if (foldedVersion > 0L) {
      val dr = posDeletesRoot(root)
      try {
        readManifest(dr).foreach { _ =>
          val empty = readLive(spark, dr).limit(0)
          commit(dr, keepVersions, expectedBase = Some(foldedVersion)) {
            dir => empty.write.mode(SaveMode.Overwrite).parquet(dir)
          }
        }
      } catch {
        case _: ConcurrentCommitException => () // racing delete wins
        case e: Throwable if isPrunedSnapshotRead(e, Paths.get(dr)) => ()
      }
    }

  /** Fold the pos-delete set into the data, either table form, then
    * reset the set (CAS — a racing delete's entries survive). The two
    * folds really differ: a FLAT table copies untouched files
    * byte-identical into a new version dir (a real format would
    * re-reference them in the manifest; self-contained version dirs
    * trade that for simplicity) and re-reads only the delete-carrying
    * files minus their masked positions; a PARTITIONED table rewrites
    * only the partitions whose current pointer holds a delete-carrying
    * file, every other partition keeps its pinned dir. Returns (new
    * data version, files — flat — or partitions — partitioned —
    * rewritten): the rewrite decision is the audit surface.
    */
  def vacuumPosDeletes(spark: SparkSession, root: String,
                       keepVersions: Int = 2,
                       maxRetries: Int = 10): (Long, Int) = {
    var foldedPosVersion = 0L
    var rewritten = 0
    def once(): Long = {
      val v = liveView(root)
      foldedPosVersion = posVersion(root)
      val (version, n) =
        if (isFlat(v))
          foldFlatPosDeletes(spark, root, v, foldedPosVersion,
            keepVersions)
        else foldPartitionPosDeletes(spark, root, v, foldedPosVersion)
      rewritten = n
      version
    }
    val v = retryThenEscalate(Paths.get(root), maxRetries)(once())
    resetPosDeletes(spark, root, foldedPosVersion, keepVersions)
    (v, rewritten)
  }

  /** [[vacuumPosDeletes]]' flat fold: the whole snapshot — every
    * segment — into one new version dir, untouched files byte-copied
    * while the dir stays schema-uniform. Returns (new version, files
    * rewritten).
    */
  private def foldFlatPosDeletes(spark: SparkSession, root: String,
                                 v: PartitionedManifest,
                                 foldedPosVersion: Long,
                                 keepVersions: Int): (Long, Int) = {
    val rootP = Paths.get(root)
    val segs = v.partitions.values.toSeq.sorted
    // distinct delete-carrying paths: bounded by live file count —
    // the same O(|files|) metadata the manifest itself is. Append
    // entries (synthetic `_append_` paths) address no file — they
    // fold by being WRITTEN below, not by rewriting anything.
    val touched: Set[String] =
      livePosDeleteEntries(spark, root, v) match {
        case None => Set.empty
        case Some(dels) => dels
          .filter(!expr(s"substring_index($AddrPathCol, '/', -1)")
            .startsWith(MorMarker))
          .select(AddrPathCol).distinct()
          .collect().map(_.getString(0)).toSet
      }
    val pendingAppends = liveMorAppendEntries(spark, root, v)
    // (segment, file) for every live data file; a file's address is
    // its segment-qualified path
    val allPre: Seq[(String, Path)] = segs.flatMap(seg =>
      dataFilesUnder(rootP.resolve(seg)).map(seg -> _))
    def qualify(seg: String, f: Path): String =
      seg + "/" + rootP.resolve(seg).relativize(f).toString
        .replace('\\', '/')
    // a partitionBy layout can't mix dir-encoded and column-encoded
    // partition values in one version dir, so a selective rewrite
    // (flat survivor files beside untouched partition dirs) would
    // break partition discovery — fall back to rewriting everything
    // (partition values survive as data columns via the basePath
    // read); flat layouts get the real only-touched-files rewrite
    val flatLayout = allPre.forall { case (seg, f) =>
      f.getParent == rootP.resolve(seg) }
    // Byte-copies are sound only while the new dir stays SCHEMA-
    // UNIFORM: reads infer from ONE footer (no mergeSchema), so a
    // copied file whose physical columns differ from the rewritten
    // survivors' / materialized post-images' (a rename event, a
    // SeqCol-less legacy file, prior ADD COLUMNS, a segment appended
    // with a drifting schema) would have a whole generation's columns
    // silently null out after the fold (ColumnMappingSpec's
    // vacuum-after-RENAME read caught this). Probe PER-FILE footers
    // for intra-set uniformity first (a single-footer set inference
    // over a mixed set would itself miss the heterogeneity — a
    // raw-committed legacy dir or a mergeSchema-era fold can mix
    // generations INSIDE one dir), then the untouched set's (name,
    // type) set against what the rewrites will write; any mismatch ⇒
    // rewrite everything.
    val (touchedPre, untouchedPre) =
      allPre.partition { case (seg, f) => touched(qualify(seg, f)) }
    // one frame over (segment, files) pairs: a read per segment
    def read(files: Seq[(String, Path)],
             mixed: Boolean): DataFrame =
      files.groupBy(_._1).toSeq.sortBy(_._1).map { case (seg, fs) =>
        val dirP = rootP.resolve(seg)
        val paths = fs.map(_._2.toString)
        if (!mixed) memoFilesParquet(spark, dirP, paths)
        else spark.read.option("mergeSchema", "true")
          .option("basePath", dirP.toString).parquet(paths: _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    val uniformCopies = flatLayout && {
      untouchedPre.isEmpty || {
        footersUniform(untouchedPre.map(_._2)) &&
          footersUniform(touchedPre.map(_._2)) && {
          def names(s: org.apache.spark.sql.types.StructType) =
            s.filterNot(_.name == SeqCol)
              .map(f => (f.name, f.dataType)).toSet
          // a uniform set's schema is any one member's
          val untouchedSchema = read(untouchedPre.take(1), false).schema
          val rawNames = names(untouchedSchema)
          val survivorsOk = touchedPre.isEmpty ||
            names(normalizeRenames(root, stampDefaulted(
              read(touchedPre.take(1), false))).schema) == rawNames
          val morOk = pendingAppends.forall(a =>
            names(a.drop(PdPathCol, PdPosCol).schema) == rawNames)
          // SeqCol exemption (a missing/null sequence reads as 0 by
          // the stamp-defaulting rule) is sound only when every
          // stamp the rewrites will write is 0: the folded dir then
          // mixes SeqCol-less copies with stamped files, a
          // SeqCol-less footer may win inference, and a NONZERO
          // stamp collapsing to 0 would let the equality-delete
          // rule (DelSeqCol < SeqCol) mask post-images the fold
          // explicitly preserves. Untouched files that carry SeqCol
          // themselves need no exemption (every written file is
          // stamped, so the dir stays SeqCol-carrying).
          def maxStampZero(df: DataFrame): Boolean = {
            val c = if (df.columns.contains(SeqCol))
              coalesce(col(SeqCol), lit(0L)) else lit(0L)
            val r = df.agg(org.apache.spark.sql.functions.max(c)).head
            r.isNullAt(0) || r.getLong(0) <= 0L // null = empty set
          }
          val seqOk =
            untouchedSchema.exists(_.name == SeqCol) || {
              val touchedZero = touchedPre.isEmpty || maxStampZero(
                stampDefaulted(read(touchedPre, false)))
              val morZero = pendingAppends.forall(a =>
                a.limit(1).isEmpty || maxStampZero(a))
              touchedZero && morZero
            }
          survivorsOk && morOk && seqOk
        }
      }
    }
    // The rewrite read below infers from one footer per segment too:
    // over an internally MIXED set it must merge every footer instead
    // (once-per-fold planning cost on a rare shape), or a whole
    // generation's columns would silently null out of the rewrite.
    val toRewrite = if (uniformCopies) touchedPre else allPre
    val mixedRewriteRead = toRewrite.groupBy(_._1).values
      .exists(fs => !footersUniform(fs.map(_._2)))
    val version = commit(root, keepVersions,
      expectedBase = Some(v.version),
      validate = requirePosVersion(root, foldedPosVersion, "vacuum")) { dir =>
      val out = Paths.get(dir)
      Files.createDirectories(out)
      if (uniformCopies) untouchedPre.foreach { case (_, f) =>
        Files.copy(f, out.resolve(f.getFileName.toString))
      }
      if (toRewrite.nonEmpty) {
        val masked = unionDirs(root,
          toRewrite.groupBy(_._1).toSeq.sortBy(_._1).map { case (seg, fs) =>
            seg -> read(fs, mixedRewriteRead)
          }, addressed = true)
        // None only on a uniformity-forced full rewrite with no
        // sub-table at all — nothing to mask then
        val survivors = livePosDeleteEntries(spark, root, v) match {
          case Some(dels) => masked
            .join(dels, Seq(AddrPathCol, AddrPosCol), "left_anti")
            .drop(AddrPathCol, AddrPosCol)
          case None => masked.drop(AddrPathCol, AddrPosCol)
        }
        val rw = out.resolve("_rw")
        survivors.write.mode(SaveMode.Overwrite).parquet(rw.toString)
        dataFilesUnder(rw).foreach { f =>
          Files.move(f, out.resolve(f.getFileName.toString))
        }
        deleteRecursively(rw)
      }
      // pending merge-on-read post-images materialize as NEW files
      // (their sequence stamp survives the fold for the
      // equality-delete rule); the CAS'd reset below reaps entries
      pendingAppends.filter(!_.limit(1).isEmpty).foreach { apps =>
        val rw = out.resolve("_rw_mor")
        apps.drop(PdPathCol, PdPosCol)
          .write.mode(SaveMode.Overwrite).parquet(rw.toString)
        dataFilesUnder(rw).zipWithIndex.foreach { case (f, i) =>
          Files.move(f, out.resolve(s"mor-$i-${f.getFileName}"))
        }
        deleteRecursively(rw)
      }
    }
    (version, toRewrite.size)
  }

  // ------------------------------------------------------------------
  // Partitioned mode: the manifest maps each partition (its Spark
  // `col=value[/...]` relative path) to the version directory holding
  // its live data. A commit writes ONLY the touched partitions into a
  // fresh version dir and flips their manifest pointers — untouched
  // partitions keep pointing at older dirs, giving per-partition
  // incremental rewrites WITH the atomic-manifest read guarantee:
  //
  //   root/_manifest.json  {"version": 9, "partitionColumns": ["dt"],
  //                         "partitions": {"dt=2024-01-01": "v00000004",
  //                                        "dt=2024-01-02": "v00000009"}}
  //   root/v00000004/dt=2024-01-01/...
  //   root/v00000009/dt=2024-01-02/...
  //
  // Same CONTRACT as MergeWriter's partitioned mode: every partition
  // column must be a function of the merge keys, or a key moving
  // between partition values leaves its old row behind.
  // ------------------------------------------------------------------

  final case class PartitionedManifest(version: Long,
                                       partitionColumns: Seq[String],
                                       partitions: Map[String, String])

  /** Parse the partitioned manifest (flat JSON, written by us; Spark's
    * partition-dir escaping keeps keys free of quotes/backslashes).
    */
  def readPartitionedManifest(root: String): Option[PartitionedManifest] = {
    val p = manifestPath(Paths.get(root))
    if (!Files.exists(p)) None
    else parsePartitionedManifest(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  /** Parse one partitioned-manifest JSON line (the format
    * [[renderPartitionedManifest]] writes) — public so composite
    * structures (e.g. NearDupIndex's cross-table snapshot) can embed
    * and re-read table manifests.
    */
  def parsePartitionedManifest(s: String): Option[PartitionedManifest] = {
    val vm = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
    val cm = """"partitionColumns"\s*:\s*\[([^\]]*)\]""".r
      .findFirstMatchIn(s)
    val pm = """"partitions"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(s)
    for (v <- vm; c <- cm; pp <- pm) yield {
      val cols = """"([^"]+)"""".r.findAllMatchIn(c.group(1))
        .map(_.group(1)).toSeq
      val parts = """"([^"]+)"\s*:\s*"([^"]+)"""".r
        .findAllMatchIn(pp.group(1))
        .map(m => m.group(1) -> m.group(2)).toMap
      PartitionedManifest(v.group(1).toLong, cols, parts)
    }
  }

  /** One-line JSON for a partitioned manifest (inverse of
    * [[parsePartitionedManifest]]). */
  def renderPartitionedManifest(m: PartitionedManifest): String = {
    val parts = m.partitions.toSeq.sorted
      .map { case (k, v) => s""""$k": "$v"""" }.mkString(", ")
    val cols = m.partitionColumns.map(c => s""""$c"""").mkString(", ")
    s"""{"version": ${m.version}, "partitionColumns": [$cols], """ +
      s""""partitions": {$parts}}"""
  }

  private def writePartitionedManifest(root: Path,
                                       m: PartitionedManifest): Unit =
    TableFs.publishFile(manifestPath(root), renderPartitionedManifest(m))

  /** The snapshot a SPECIFIC manifest describes (base rows, the
    * hidden write sequence dropped) — lets composite readers (the
    * NearDupIndex cross-table snapshot) read a pinned older pair of
    * tables consistently, and backs time travel and CDF.
    */
  def readPartitionedSnapshot(spark: SparkSession, root: String,
                              m: PartitionedManifest): DataFrame =
    unionDirs(root, dirFrames(spark, root, m), addressed = false)
      .drop(SeqCol)

  /** basePath read with partition-column types FIXED to the recorded
    * `_part_schema.json`: path type inference reinterprets lossy
    * values (string "07" → int 7); an explicit schema makes Spark
    * parse the raw path string under the recorded type instead.
    * No-op (single read) when inference already agrees or no schema
    * is recorded (legacy tables keep their old behavior).
    */
  private[graft] def readLeavesTyped(spark: SparkSession, root: String,
                              base: String,
                              leaves: Seq[String]): DataFrame = {
    // schema memoized per exact leaf file set (the partition-column
    // types inference sees depend on WHICH leaf values are present,
    // so the subset is part of the identity); the recorded override
    // map is part of the key because a spec migration can change it
    // without touching already-committed leaves
    val recorded = partitionColumnTypes(root)
    val schema = memoSchema(spark, "leaves", base, leaves,
      extra = recorded.toSeq.sortBy(_._1)
        .map { case (k, v) => k + "=" + v.catalogString }
        .mkString(";")) {
      driverInferredLeaves(spark, Paths.get(base), leaves, recorded)
        .getOrElse {
          val inferred = spark.read.option("basePath", base)
            .parquet(leaves: _*).schema
          if (recorded.isEmpty) inferred
          else org.apache.spark.sql.types.StructType(
            inferred.map(f => recorded.get(f.name)
              .map(t => f.copy(dataType = t)).getOrElse(f)))
        }
    }
    spark.read.schema(schema).option("basePath", base)
      .parquet(leaves: _*)
  }

  /** Balanced OR over per-partition equality conjunctions: a left
    * fold gives a LINEAR-depth expression tree, and Catalyst's
    * recursive visitors stack-overflow past ~10k touched partitions
    * — a perfectly legal wide backfill. log-depth by halving.
    */
  private[graft] def touchedPredicate(cols: Seq[String],
                               rows: Array[org.apache.spark.sql.Row])
      : Column = {
    require(rows.nonEmpty, "touchedPredicate needs at least one row")
    def or(cs: IndexedSeq[Column]): Column =
      if (cs.size == 1) cs.head
      else {
        val (l, r) = cs.splitAt(cs.size / 2)
        or(l) || or(r)
      }
    or(rows.toIndexedSeq.map(r => cols.zipWithIndex
      .map { case (c, i) =>
        // === / isNull, not <=>: semantically identical per branch
        // (the value is a literal), but EqualTo + IsNull push into
        // the scan pruning — EqualNullSafe would read every partition
        if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
      }
      .reduce(_ && _)))
  }

  /** One attempt of the partitioned keyed merge (`keys` given) or
    * append (None) under `spec`, pinned on `prev` (the snapshot the
    * caller's attempt read; None = first commit): merge the touched
    * partitions' live data with the batch, write ONLY those partitions
    * into a fresh version dir, flip their manifest pointers atomically.
    * Untouched partitions are never read or rewritten; concurrent
    * readers see the old manifest (complete old snapshot) or the new
    * one (complete new snapshot), never a half-swapped mix — the
    * property MergeWriter's per-dir swap loses. Same CONTRACT as
    * MergeWriter's partitioned mode: every partition column must be a
    * function of the merge keys, or a key moving between partition
    * values leaves its old row behind. Conflicts throw
    * [[ConcurrentCommitException]] for the caller's retry loop.
    */
  private def mergePartitioned(spark: SparkSession, root: String,
                               updates: DataFrame,
                               keys: Option[Seq[String]],
                               partitionColumns: Seq[String],
                               prev: Option[PartitionedManifest],
                               schemaMode: MergeWriter.SchemaMode,
                               keepVersions: Int): Long = {
    // a batch whose partition-column TYPE drifted from the recorded
    // `_part_schema.json` must fail loudly here: union coercion would
    // write correct data but the type mismatch means the caller's
    // mental model of the partition key space is wrong (int 7 vs
    // string "07" address DIFFERENT partitions after path escaping)
    requirePartitionTypesMatch(root, updates, partitionColumns)
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val pinnedPosVersion = posVersion(root)
    // the batch carries this commit's write sequence (recomputed on
    // CAS retry); kept rows keep theirs, as the flat upsert does
    val stamped = updates.withColumn(SeqCol,
      lit(prev.map(_.version).getOrElse(0L) + 1))
    // PARTITION-SPEC EVOLUTION (migrate-on-write): a commit may use
    // a partition-column list that EXTENDS the table's current spec
    // (old cols a strict prefix, e.g. day → day,type; [[writeSpec]]
    // admits nothing else). The touched set is then computed on the
    // OLD prefix columns, so every parent partition the batch lands in
    // is lifted WHOLE, merged, and rewritten under the new spec; its
    // parent pointer is dropped from the manifest and its children
    // take over. Untouched partitions keep their old-spec dirs
    // (readable — mixed key depths reassemble per dir, the new column
    // coming from DATA files in old dirs and from the PATH in new
    // ones), and migrate whenever a later commit touches them.
    val evolvesFrom: Option[Seq[String]] =
      prev.map(_.partitionColumns).filter(_ != partitionColumns)
    // mid-migration tables hold UNMIGRATED parent keys (fewer path
    // segments than the current spec); every commit on such a table
    // computes its touched set at the SHALLOWEST retained depth so a
    // parent partition is always lifted whole — a child-granular
    // merge would leave the parent pointer (and its stale rows)
    // beside the new child
    val minDepth = prev
      .flatMap(_.partitions.keySet.map(_.count(_ == '/') + 1)
        .minOption)
      .getOrElse(partitionColumns.size)
    val predCols = partitionColumns.take(
      math.min(minDepth,
        evolvesFrom.map(_.size).getOrElse(partitionColumns.size)))
    var liftedKeys: Set[String] = Set.empty
    val merged = prev match {
      case None => stamped
      case Some(m) =>
        val touched = updates
          .select(predCols.map(updates(_)): _*).distinct().collect()
        if (touched.isEmpty) return m.version
        val touchedPred = touchedPredicate(predCols, touched)
        if (predCols.size < partitionColumns.size) {
          // keys this commit supersedes: the touched parents AND any
          // manifest key UNDER them (a twice-evolved table holds
          // intermediate-depth pointers like day=A/type=*, which the
          // prefix merge lifts wholesale — leaving them beside the
          // deeper children written below would double their rows).
          // Rendered by Spark's own writer so escaping matches.
          val prefixSchema = org.apache.spark.sql.types.StructType(
            predCols.map(c => updates.schema(c)))
          val parents = renderPartitionKeys(spark, prefixSchema,
            touched).toSet
          liftedKeys = m.partitions.keySet.filter(k =>
            parents.exists(p => k == p || k.startsWith(p + "/")))
        }
        // read through the pos-delete fold: the merge rewrites the
        // touched partitions' files, and carrying a masked row into
        // new addresses would resurrect it (entries go stale with
        // the old files). Identity when no pos sub-table exists.
        val existing = posMaskedSnapshot(spark, root, m)
          .filter(touchedPred)
        keys match {
          case Some(ks) =>
            val (existingAligned, updatesAligned) =
              MergeWriter.alignSchemas(existing, stamped, ks, schemaMode)
            existingAligned.join(
                updates.select(ks.map(updates(_)): _*), ks, "left_anti")
              .unionByName(updatesAligned)
          case None => existing.unionByName(stamped,
            allowMissingColumns =
              schemaMode == MergeWriter.SchemaMode.SyncAllColumns)
        }
    }
    val staging = stagingDir(rootP)
    try merged.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionColumns: _*).parquet(staging.toString)
    catch { case e: Throwable => deleteRecursively(staging); throw e }
    writeStatsSidecar(staging)
    withCommitLock(rootP) {
      // either form: a first partitioned commit must not flip over a
      // flat table another writer created in between
      val live = currentMainVersion(root)
      val base = prev.map(_.version).getOrElse(0L)
      if (live != base) {
        deleteRecursively(staging)
        throw new ConcurrentCommitException(
          s"$root moved to v$live while this writer merged against " +
            s"v$base — retrying")
      }
      if (posVersion(root) != pinnedPosVersion) {
        deleteRecursively(staging)
        throw new ConcurrentCommitException(
          s"position deletes landed under $root during the " +
            "merge — re-fold and retry")
      }
      val next = TableFs.publishVersionDir(rootP, staging)
      val dirName = versionDirName(next)
      // the partitions actually written are the touched set, keyed
      // by their Spark-escaped relative paths; under spec
      // evolution the lifted parents' pointers are dropped — their
      // rows now live in the children written under the new spec
      val written = partitionLeafDirs(rootP.resolve(dirName),
        partitionColumns.size).map(_.toString)
      val newParts =
        (prev.map(_.partitions).getOrElse(Map.empty) -- liftedKeys) ++
          written.map(_ -> dirName)
      // partition-level bounds BEFORE the manifest flip: a crash
      // between the two leaves stats.version > manifest.version,
      // which readers reject (scan-all fallback, sound); stats
      // lagging the manifest is equally rejected.
      // Types come from MERGED — the dataframe actually written —
      // not the raw batch: alignSchemas/unionByName may have
      // coerced the batch's partition-column types to the table's,
      // and recording the batch's type would make readLeavesTyped
      // parse every dir's path values under the wrong type.
      writePartSchema(rootP, partitionColumns.map(c =>
        c -> merged.schema(c).dataType))
      writePartStats(rootP, next, newParts, prev)
      val published = PartitionedManifest(next, partitionColumns, newParts)
      writePartitionedManifest(rootP, published)
      // immutable history entry (after the flip, like the flat
      // path) — feeds retention below
      writeHistoryEntry(rootP, next, renderPartitionedManifest(published))
      pruneRetired(rootP, keepVersions, newParts.values.toSet)
      next
    }
  }

  // ------------------------------------------------------------------
  // Position deletes on a PARTITIONED table: the same `_pos_deletes`
  // sub-table and the same snapshot-view verbs as the flat form,
  // addresses version-dir-qualified (`vNNNN/day=x/part-...`), so an
  // entry can never match a file of a superseded dir. An entry is LIVE
  // only while the manifest still maps its partition key to its
  // version dir — a rewrite of that partition makes it stale
  // (harmless: new files have new addresses), which is why EVERY
  // partitioned rewrite path folds pending entries of the partitions
  // it touches into its read ([[posMaskedSnapshot]] over a restricted
  // view) and CAS-validates the pos-delete version at commit.
  // ------------------------------------------------------------------

  /** [[vacuumPosDeletes]]' partitioned fold: only partitions whose
    * current pointer holds a delete-carrying file (or a pending
    * post-image) rewrite; everything else keeps its pinned dir.
    * Returns (version, partitions rewritten).
    */
  private def foldPartitionPosDeletes(spark: SparkSession, root: String,
                                      m: PartitionedManifest,
                                      foldedPosVersion: Long)
      : (Long, Int) = {
    val entries = livePosDeleteEntries(spark, root, m)
      .getOrElse(return (m.version, 0))
    // delete-carrying (dir, partition-key) pairs, LIVE only when
    // the manifest still maps that key to that dir
    val touchedKeys = entries.select(AddrPathCol).distinct()
      .collect().map(_.getString(0)).flatMap { p =>
        val segs = p.split('/')
        val dir = segs.head
        val key = segs.slice(1, segs.length - 1).mkString("/")
        if (m.partitions.get(key).contains(dir)) Some(key) else None
      }.toSet
    if (touchedKeys.isEmpty) return (m.version, 0) // stale-only entries
    val sub = m.copy(partitions =
      m.partitions.filter(kv => touchedKeys(kv._1)))
    val folded = posMaskedSnapshot(spark, root, sub)
    (replacePartitioned(spark, root, folded, m.partitionColumns,
      covered = touchedKeys.toSeq, expectedBase = Some(m.version),
      validate = requirePosVersion(root, foldedPosVersion, "vacuum")),
      touchedKeys.size)
  }

  /** REPLACE the partitions `df` covers with exactly its rows (the
    * partition-scoped overwrite a keyed merge cannot express —
    * its keyed merge never removes a row): write df partitioned,
    * flip ONLY the written partitions' manifest pointers, leave the
    * rest untouched. `expectedBase` CAS-protects against concurrent
    * commits like every other write. The vacuum fold builds on this.
    */
  // ------------------------------------------------------------------
  // Write-time CHECK constraints (Delta's table constraints): named
  // SQL predicates stored in `_constraints.json`; every row-adding
  // write (upsert / append / overwriteWhere / ...) validates its
  // BATCH in one aggregate pass and rejects the whole commit when any
  // constraint is violated — the table can never transition into a
  // state that violates its contract. Cost is one batch-sized job per
  // write on constrained tables, zero on unconstrained ones.
  // ------------------------------------------------------------------

  final class ConstraintViolationException(
      val violations: Map[String, Long], msg: String)
    extends RuntimeException(msg)

  private def constraintsPath(rootP: Path): Path =
    rootP.resolve("_constraints.json")

  /** Parse `_constraints.json`: name → SQL predicate. */
  def constraints(root: String): Map[String, String] = {
    val p = constraintsPath(Paths.get(root))
    if (!Files.exists(p)) return Map.empty
    val re = """"((?:[^"\\]|\\.)+)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    re.findAllMatchIn(txt).flatMap { m =>
      try Some(unescJson(m.group(1)) -> unescJson(m.group(2)))
      catch { case _: IllegalArgumentException => None }
    }.toMap
  }

  private def writeConstraints(rootP: Path,
                               m: Map[String, String]): Unit =
    TableFs.publishFile(constraintsPath(rootP), m.toSeq.sortBy(_._1)
      .map { case (n, p) => s""""${escJson(n)}": "${escJson(p)}"""" }
      .mkString("{", ", ", "}"))

  /** Register a named CHECK constraint (a SQL boolean expression over
    * the table's columns). Applies to every subsequent row-adding
    * write; existing data is NOT retro-validated (Delta's contract —
    * validate existing rows first if that matters).
    */
  def addConstraint(root: String, name: String,
                    predicateSql: String): Unit = {
    require(name.nonEmpty && predicateSql.nonEmpty,
      "constraint name and predicate must be non-empty")
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    withCommitLock(rootP) {
      writeConstraints(rootP, constraints(root) + (name -> predicateSql))
    }
  }

  /** Drop a named constraint. */
  def dropConstraint(root: String, name: String): Unit = {
    val rootP = Paths.get(root)
    withCommitLock(rootP) {
      writeConstraints(rootP, constraints(root) - name)
    }
  }

  /** Validate a write batch against the table's constraints in ONE
    * aggregate pass; throws [[ConstraintViolationException]] with
    * per-constraint violation counts when any row fails (a NULL
    * predicate counts as a violation — unknown is not proof of
    * conformance).
    *
    * CONTRACT: validation is BATCH-scoped — the raw update batch is
    * checked, not the merged data as written (Delta checks the
    * latter). Two visible consequences: (1) a constrained column
    * legitimately ABSENT from a SyncAllColumns batch (null-padded
    * later in the merge) fails here with a missing-column diagnosis
    * rather than writing nulls past the constraint; (2) pre-existing
    * rows rewritten by a merge are never re-validated (addConstraint
    * documents that existing data is not retro-checked).
    *
    * A predicate that fails ANALYSIS (missing column, typo'd SQL) is
    * rethrown as IllegalArgumentException naming the constraint and
    * whether the cause is a column the batch lacks vs a malformed
    * predicate — not a raw AnalysisException from deep in the agg.
    */
  private def enforceConstraints(root: String, batch: DataFrame): Unit = {
    val cs = constraints(root)
    if (cs.isEmpty) return
    val aggs = cs.toSeq.sortBy(_._1).map { case (n, p) =>
      org.apache.spark.sql.functions.sum(
        when(!coalesce(expr(p), lit(false)), 1L).otherwise(0L)).as(n)
    }
    val row =
      try batch.agg(aggs.head, aggs.tail: _*).collect()(0)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          // diagnose per constraint: which predicate fails analysis,
          // and is it a column the batch lacks or a bad expression?
          val batchCols = batch.columns.toSet
          val broken = cs.toSeq.sortBy(_._1).flatMap { case (n, p) =>
            val bad =
              try { batch.select(expr(p)).queryExecution.analyzed; false }
              catch { case _: Throwable => true }
            if (!bad) None
            else {
              val missing =
                try org.apache.spark.sql.catalyst.parser
                  .CatalystSqlParser.parseExpression(p)
                  .collect {
                    case a: org.apache.spark.sql.catalyst.analysis
                        .UnresolvedAttribute if !batchCols(a.name) =>
                      a.name
                  }
                catch { case _: Throwable => Seq.empty }
              val hint =
                if (missing.nonEmpty)
                  s"references ${missing.mkString(", ")} absent from " +
                    "this batch (SyncAllColumns null-padding happens " +
                    "AFTER validation — include the column explicitly)"
                else "predicate fails analysis (malformed SQL or type " +
                  "error)"
              Some(s"$n [$p]: $hint")
            }
          }
          throw new IllegalArgumentException(
            s"constraint validation on $root could not analyze: " +
              (if (broken.nonEmpty) broken.mkString("; ")
               else e.getMessage), e)
      }
    val bad = cs.keys.toSeq.sorted.zipWithIndex.flatMap { case (n, i) =>
      val v = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (v > 0) Some(n -> v) else None
    }.toMap
    if (bad.nonEmpty)
      throw new ConstraintViolationException(bad,
        s"write into $root rejected — constraint violations: " +
          bad.map { case (n, v) => s"$n ($v rows)" }.mkString(", "))
  }

  /** Dynamic partition overwrite (Spark's `partitionOverwriteMode=
    * dynamic` on the versioned store): every partition PRESENT in
    * `df` is replaced wholesale by its rows; absent partitions are
    * untouched. The backfill write shape — "recompute these days" —
    * CAS-committed with only the touched pointers flipped. The spec
    * comes from the pinned snapshot ([[writeSpec]]); a flat table is
    * one partition and is replaced whole (Spark's rule for an
    * unpartitioned target). Returns the new version.
    */
  def overwritePartitions(spark: SparkSession, root: String,
                          df: DataFrame, partitionBy: Seq[String] = Nil,
                          maxRetries: Int = 10): Long = {
    requireNoReservedColumns(df.columns, s"overwrite of $root",
      Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, df)
    def once(): Long = {
      val view = snapshotView(root)
      val base = view.map(_.version).getOrElse(0L)
      val stamped = df.withColumn(SeqCol, lit(base + 1))
      writeSpec(root, view, partitionBy, evolve = false) match {
        case Nil =>
          commit(root, expectedBase = Some(base)) { dir =>
            stamped.write.mode(SaveMode.Overwrite).parquet(dir)
          }
        // covered = exactly the written set: dynamic semantics never
        // vacate a partition the replacement doesn't mention
        case spec =>
          replacePartitioned(spark, root, stamped, spec,
            covered = Seq.empty, expectedBase = Some(base))
      }
    }
    retryThenEscalate(Paths.get(root), maxRetries)(once())
  }

  /** Predicate backfill on the PARTITIONED store (replaceWhere at
    * partition granularity): every live partition whose KEY satisfies
    * `keyMatches` is vacated, `replacement`'s rows take their place,
    * one CAS-committed swap with only the touched pointers flipped.
    * The caller owns the contract that `keyMatches` is the EXACT
    * truth value of its predicate on every row of the partition
    * (i.e. the predicate addresses partition columns only) — this
    * method replaces whole partitions, never rows. Backs the DSv2
    * `INSERT OVERWRITE … PARTITION (…)` surface. Returns the new
    * version.
    */
  def overwritePartitionsWhere(spark: SparkSession, root: String,
                               keyMatches: String => Boolean,
                               replacement: DataFrame,
                               maxRetries: Int = 10): Long = {
    requireNoReservedColumns(replacement.columns, s"overwrite of $root",
      Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, replacement)
    val rootP = Paths.get(root)
    def once(): Long = {
      val m = readPartitionedManifest(root).getOrElse(
        throw new IllegalStateException(
          s"no partitioned _manifest.json under $root — " +
            "overwritePartitionsWhere needs an existing partitioned " +
            "table"))
      val covered = m.partitions.keys.filter(keyMatches).toSeq
      replacePartitioned(spark, root,
        replacement.withColumn(SeqCol, lit(m.version + 1)),
        m.partitionColumns, covered = covered,
        expectedBase = Some(m.version))
    }
    retryThenEscalate(rootP, maxRetries)(once())
  }

  /** Predicate backfill on the unpartitioned store (Delta's
    * replaceWhere): rows matching `predicate` are dropped from the
    * live snapshot and `replacement` rows take their place, as one
    * CAS-committed rewrite that folds pending position deletes like
    * every rewrite. Rows where the predicate evaluates to NULL are
    * KEPT (only a definite match is replaced). Replacement rows carry
    * the new commit's write sequence, so equality-delete masks from
    * older commits never hide them.
    */
  def overwriteWhere(spark: SparkSession, root: String,
                     predicate: Column, replacement: DataFrame,
                     keepVersions: Int = 2, maxRetries: Int = 10): Long = {
    requireNoReservedColumns(replacement.columns,
      s"overwriteWhere into $root", Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, replacement)
    var foldedPosVersion = 0L
    def once(): Long = {
      val base = readManifest(root).getOrElse(
        throw new IllegalStateException(
          s"no _manifest.json under $root — nothing to overwrite"))
      val next = base.version + 1
      foldedPosVersion = posVersion(root)
      val kept = posMaskedSnapshot(spark, root, liveView(root))
        .filter(!coalesce(predicate, lit(false)))
      val replStamped = replacement.withColumn(SeqCol, lit(next))
      commit(root, keepVersions, expectedBase = Some(base.version),
        validate = requirePosVersion(root, foldedPosVersion,
          "overwrite")) { dir =>
        kept.unionByName(replStamped)
          .write.mode(SaveMode.Overwrite).parquet(dir)
      }
    }
    val v = retryThenEscalate(Paths.get(root), maxRetries)(once())
    resetPosDeletes(spark, root, foldedPosVersion, keepVersions)
    v
  }

  // ------------------------------------------------------------------
  // Row-level COW rewrites — the execution layer for SQL UPDATE /
  // MERGE INTO / DELETE-with-subquery (graft.plans.GraftSqlRules).
  // The caller computes the new content as a PLAN over the observable
  // snapshot (both delete families masked) plus its own transforms,
  // pins the (manifest, pos-delete) versions it read, and commits
  // here; any drift between pin and flip is a ConcurrentCommit-
  // Exception the caller answers by recomputing everything (its
  // content is a plan over the live table, so a re-run re-reads the
  // fresh snapshot — the same deterministic re-merge contract upsert
  // gives). Because the content is fully masked, restamping every
  // row with the new commit's sequence is sound: pending equality
  // deletes were already applied to the rewritten rows, and the
  // fresh sequence out-ranks the entries for everything kept.
  // ------------------------------------------------------------------

  /** The position-delete sub-table's current version — what a
    * row-level rewrite pins before reading, and [[rewriteLive]] /
    * [[rewritePartitionsCovered]] CAS-check at the flip.
    */
  def posDeleteVersion(root: String): Long = posVersion(root)

  /** The EQUALITY-delete sub-table's current version — a row-level
    * rewrite must pin this too: it restamps every surviving row with
    * the new commit's sequence, so an equality delete landing between
    * its observable read and its flip (no main-manifest or pos-version
    * bump to CAS on) would be out-sequenced and silently un-deleted.
    */
  def eqDeleteVersion(root: String): Long =
    readManifest(deletesRoot(root)).map(_.version).getOrElse(0L)

  /** The equality-delete sub-table's key columns (empty when none
    * exists) — the catalog's rename guard consults this: renaming a
    * live delete key would silently detach its mask.
    */
  def eqDeleteKeyCols(spark: SparkSession, root: String): Seq[String] =
    readManifest(deletesRoot(root)) match {
      case Some(_) => readLive(spark, deletesRoot(root)).columns
        .filterNot(_ == DelSeqCol).toSeq
      case None => Seq.empty
    }

  /** Row-level COW rewrite, FLAT form: the next version holds exactly
    * `content` (computed by the caller from the observable snapshot
    * pinned at `expectedVersion`). One attempt — conflicts throw.
    */
  def rewriteLive(spark: SparkSession, root: String,
                  content: DataFrame, expectedVersion: Long,
                  expectedPosVersion: Long, expectedEqVersion: Long,
                  keepVersions: Int = 2): Long = {
    requireNoReservedColumns(content.columns,
      s"row-level rewrite of $root",
      Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, content)
    val v = commit(root, keepVersions,
      expectedBase = Some(expectedVersion),
      validate = requireDeleteVersions(root, expectedPosVersion,
        expectedEqVersion)) { dir =>
      content.withColumn(SeqCol, lit(expectedVersion + 1))
        .write.mode(SaveMode.Overwrite).parquet(dir)
    }
    resetPosDeletes(spark, root, expectedPosVersion, keepVersions)
    v
  }

  /** Row-level ADD-ONLY commit, FLAT form (a MERGE whose only effect
    * is inserts): `rows` become a new segment stamped like
    * [[rewriteLive]]'s, every live row stays where it is (see
    * [[commitAdded]]). CAS'd on the same three versions as
    * [[rewriteLive]]. One attempt — conflicts throw.
    */
  def appendLive(spark: SparkSession, root: String, rows: DataFrame,
                 expectedVersion: Long, expectedPosVersion: Long,
                 expectedEqVersion: Long, keepVersions: Int = 2): Long = {
    requireNoReservedColumns(rows.columns,
      s"row-level insert into $root", Seq(SeqCol, AddrPathCol, AddrPosCol))
    enforceConstraints(root, rows)
    val m = readManifest(root).filter(_.version == expectedVersion)
      .getOrElse(throw new ConcurrentCommitException(
        s"$root moved past v$expectedVersion — re-read and retry"))
    val (v, folded) = commitAdded(spark, root, m,
      rows.withColumn(SeqCol, lit(expectedVersion + 1)), sync = false,
      keepVersions, requireDeleteVersions(root, expectedPosVersion,
        expectedEqVersion))
    resetPosDeletes(spark, root, folded, keepVersions)
    v
  }

  /** Row-level COW rewrite, PARTITIONED form: the partitions named in
    * `covered` are vacated and `replacement` (their full new content,
    * written at the manifest's spec depth, restamped like
    * [[rewriteLive]]'s) takes their place; untouched partition
    * pointers survive as-is — per-statement work scales with the
    * TOUCHED partitions, never the table. One attempt — conflicts
    * throw.
    */
  def rewritePartitionsCovered(spark: SparkSession, root: String,
                               replacement: DataFrame,
                               covered: Seq[String],
                               expectedVersion: Long,
                               expectedPosVersion: Long,
                               expectedEqVersion: Long): Long = {
    val m = readPartitionedManifest(root).getOrElse(
      throw new IllegalStateException(
        s"no partitioned _manifest.json under $root — nothing to " +
          "rewrite"))
    requireNoReservedColumns(replacement.columns,
      s"row-level rewrite of $root",
      Seq(SeqCol, AddrPathCol, AddrPosCol))
    requirePartitionTypesMatch(root, replacement, m.partitionColumns)
    enforceConstraints(root, replacement)
    replacePartitioned(spark, root,
      replacement.withColumn(SeqCol, lit(expectedVersion + 1)),
      m.partitionColumns, covered = covered,
      expectedBase = Some(expectedVersion),
      validate = requireDeleteVersions(root, expectedPosVersion,
        expectedEqVersion))
  }

  /** The touched-partition cover of partitioned snapshot `m` (the one
    * the statement pinned) for a row-level rewrite: given a
    * frame of AFFECTED rows (pre-images being removed plus post-images
    * being written), the predicate that selects their partitions and
    * the manifest keys those partitions own. Computed at the
    * SHALLOWEST retained key depth so a mid-migration
    * (spec-evolution) parent partition is always lifted whole — the
    * same rule every partitioned merge applies. None = no affected
    * rows (the statement is a no-op; commit nothing).
    */
  def touchedCover(spark: SparkSession, m: PartitionedManifest,
                   affected: DataFrame)
      : Option[(Column, Seq[String])] = {
    val minDepth = m.partitions.keySet.map(_.count(_ == '/') + 1)
      .minOption.getOrElse(m.partitionColumns.size)
    val predCols = m.partitionColumns.take(
      math.min(minDepth, m.partitionColumns.size))
    val touched = affected
      .select(predCols.map(affected(_)): _*).distinct().collect()
    if (touched.isEmpty) None
    else {
      val pred = touchedPredicate(predCols, touched)
      val prefixSchema = org.apache.spark.sql.types.StructType(
        predCols.map(c => affected.schema(c)))
      val parents = renderPartitionKeys(spark, prefixSchema,
        touched).toSet
      val covered = m.partitions.keySet.filter(k =>
        parents.exists(p => k == p || k.startsWith(p + "/"))).toSeq
      Some((pred, covered))
    }
  }

  // ------------------------------------------------------------------
  // Partition-column TYPES (`_part_schema.json`): partitionBy strips
  // partition columns from the data files, so reading them back goes
  // through Spark's path type inference — which REINTERPRETS lossy
  // values (a string partition "07" infers as int 7). Every
  // partitioned write records the true types from its input schema;
  // rewrite paths (compaction) re-attach partition values as LITERALS
  // decoded from the manifest key and cast to the recorded type, so a
  // rewrite can never rename a partition key or change a value.
  // ------------------------------------------------------------------

  private def partSchemaPath(rootP: Path): Path =
    rootP.resolve("_part_schema.json")

  /** Reject a write batch whose partition-column types disagree with
    * the table's recorded `_part_schema.json` — the drift would be
    * union-coerced into correct DATA but a corrupted partition KEY
    * space (the lossy-value class `_part_schema.json` exists to
    * prevent). Columns with no recorded type (first commit, legacy
    * table, spec evolution adding a column) pass.
    */
  private def requirePartitionTypesMatch(root: String, batch: DataFrame,
                                         partitionColumns: Seq[String])
      : Unit = {
    val recorded = partitionColumnTypes(root)
    val drift = partitionColumns.flatMap { c =>
      for {
        rec <- recorded.get(c)
        got <- batch.schema.find(_.name == c).map(_.dataType)
        if rec != got
      } yield s"$c: table has ${rec.simpleString}, batch has " +
        got.simpleString
    }
    require(drift.isEmpty,
      s"partition-column type drift writing into $root — " +
        drift.mkString("; ") + " (cast the batch to the recorded " +
        "types; path-encoded partition values are parsed under the " +
        "recorded type, so a type flip silently re-addresses keys)")
  }

  /** Record the partition-column types. A failure propagates and
    * aborts the commit before its manifest flip (the published dir is
    * left as an unreferenced orphan for [[removeOrphans]]): missing or
    * stale types would make later reads re-infer lossy values.
    */
  private def writePartSchema(rootP: Path,
      schema: Seq[(String, org.apache.spark.sql.types.DataType)]): Unit =
    TableFs.publishFile(partSchemaPath(rootP), schema
      .map { case (n, t) => s""""${escJson(n)}": "${escJson(t.json)}"""" }
      .mkString("{", ", ", "}"))

  /** Recorded partition-column types; empty for legacy tables (their
    * rewrites fall back to inference types — the pre-recording
    * behavior).
    */
  def partitionColumnTypes(root: String)
      : Map[String, org.apache.spark.sql.types.DataType] = {
    val p = partSchemaPath(Paths.get(root))
    if (!Files.exists(p)) return Map.empty
    val re = """"((?:[^"\\]|\\.)+)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    re.findAllMatchIn(txt).flatMap { m =>
      try Some(unescJson(m.group(1)) ->
        org.apache.spark.sql.types.DataType.fromJson(unescJson(m.group(2))))
      catch { case _: Throwable => None }
    }.toMap
  }

  /** Compact FRAGMENTED partitions of a partitioned table — those
    * holding at least `minFiles` data files (the accretion shape
    * per-batch streaming ingest produces) — into ONE file each, as a
    * CAS-protected commit that flips only their pointers; healthy
    * partitions are never read or rewritten. Rows are re-clustered by
    * a hash repartition on the partition columns, so each partition's
    * rows land in one task and the dynamic-partition writer emits one
    * file per partition. Returns (version, partitions rewritten) —
    * (current version, 0) when nothing is fragmented. Old version
    * dirs are pruned by the next upsert's or append's retention pass,
    * same as the partitioned [[vacuumDeletes]].
    */
  def compactPartitions(spark: SparkSession, root: String,
                        minFiles: Int = 2,
                        maxRetries: Int = 10): (Long, Int) = {
    require(minFiles >= 2, s"minFiles must be >= 2: $minFiles")
    val rootP = Paths.get(root)
    var rewritten = 0
    def once(): Long = {
      val m = readPartitionedManifest(root).getOrElse(
        throw new IllegalStateException(
          s"no partitioned _manifest.json under $root"))
      val frag = m.partitions.filter { case (k, dn) =>
        dataFilesUnder(rootP.resolve(dn).resolve(k)).size >= minFiles
      }
      rewritten = frag.size
      if (frag.isEmpty) return m.version
      val pinnedPos = posVersion(root)
      // posMaskedSnapshot reads through readLeavesTyped
      // (recorded partition-value types survive the rewrite) AND the
      // pos-delete fold (this rewrite supersedes the touched files)
      val df = posMaskedSnapshot(spark, root,
          m.copy(partitions = frag))
        .repartition(m.partitionColumns.map(col): _*)
      replacePartitioned(spark, root, df, m.partitionColumns,
        covered = frag.keys.toSeq, expectedBase = Some(m.version),
        validate = requirePosVersion(root, pinnedPos, "rewrite"))
    }
    val v = retryThenEscalate(rootP, maxRetries)(once())
    (v, rewritten)
  }

  /** Sort-clustered rewrite of EVERY partition: range-repartition on
    * (partition columns ++ sortCols) — partition values are the major
    * key, so each output bucket holds a contiguous slice of ONE
    * partition's sort range — then sort within, giving each partition
    * ~`bucketsPerPartition` files with DISJOINT sortCol ranges. After
    * this, an interval on a column UNCORRELATED with the partitioning
    * (where partition bounds can't prune) still collapses to a few
    * files per partition via the footer sidecars — the layout that
    * makes two-level pruning pay on secondary columns. Committed via
    * the same CAS'd replace as compaction. Returns the new version.
    */
  def compactPartitionsSorted(spark: SparkSession, root: String,
                              sortCols: Seq[String],
                              bucketsPerPartition: Int = 4,
                              maxRetries: Int = 10): Long = {
    require(sortCols.nonEmpty, "compactPartitionsSorted needs sort columns")
    val rootP = Paths.get(root)
    def once(): Long = {
      val m = readPartitionedManifest(root).getOrElse(
        throw new IllegalStateException(
          s"no partitioned _manifest.json under $root"))
      val keys = (m.partitionColumns ++ sortCols).map(col)
      val n = math.max(1, bucketsPerPartition * m.partitions.size)
      val pinnedPos = posVersion(root)
      // typed partition values (readLeavesTyped) + the pos-delete
      // fold, like every partitioned rewrite
      val df = posMaskedSnapshot(spark, root, m)
        .repartitionByRange(n, keys: _*)
        .sortWithinPartitions(keys: _*)
      replacePartitioned(spark, root, df, m.partitionColumns,
        covered = m.partitions.keys.toSeq,
        expectedBase = Some(m.version),
        validate = requirePosVersion(root, pinnedPos, "rewrite"))
    }
    retryThenEscalate(rootP, maxRetries)(once())
  }

  private def replacePartitioned(spark: SparkSession, root: String,
                                 df: DataFrame,
                                 partitionColumns: Seq[String],
                                 covered: Seq[String],
                                 expectedBase: Option[Long],
                                 validate: () => Unit = () => ())
      : Long = {
    val rootP = Paths.get(root)
    Files.createDirectories(rootP)
    val staging = stagingDir(rootP)
    try df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionColumns: _*).parquet(staging.toString)
    catch { case e: Throwable => deleteRecursively(staging); throw e }
    writeStatsSidecar(staging)
    withCommitLock(rootP) {
      val prev = readPartitionedManifest(root)
      // a PARTIAL replace under a DIFFERENT partition-column list
      // would silently flip the manifest's spec and merge a mixed key
      // space (`day=...` pointers beside `other=...`) — fail loudly;
      // spec evolution is the prefix extension of a keyed merge or
      // append (or a FULL replace: covered ⊇ every previous key, the
      // old key space is vacated wholesale)
      prev.filter(m => m.partitionColumns != partitionColumns &&
          (m.partitions.keySet -- covered.toSet).nonEmpty)
        .foreach { m =>
          deleteRecursively(staging)
          throw new IllegalArgumentException(
            s"replace into $root with partition columns " +
              s"${partitionColumns.mkString("(", ",", ")")} but the " +
              s"table is partitioned by " +
              s"${m.partitionColumns.mkString("(", ",", ")")} — a " +
              "partial replace/overwrite never changes the partition " +
              "spec (evolve through upsert or append with a " +
              "prefix-extending partitionBy)")
        }
      val live = currentMainVersion(root)
      expectedBase.filter(_ != live).foreach { base =>
        deleteRecursively(staging)
        throw new ConcurrentCommitException(
          s"$root moved to v$live while this writer replaced against " +
            s"v$base — re-read and retry")
      }
      // rewrites that folded deletes into their read abort if NEW
      // entries landed mid-rewrite, or the flip would resurrect
      // freshly-deleted rows (the r12 un-delete class)
      try validate()
      catch { case e: Throwable => deleteRecursively(staging); throw e }
      val next = TableFs.publishVersionDir(rootP, staging)
      val dirName = versionDirName(next)
      val written = partitionLeafDirs(rootP.resolve(dirName),
        partitionColumns.size).map(_.toString)
      // a covered partition with NO written rows (every row replaced
      // away) must lose its pointer, or its old rows would resurface
      val newParts = (prev.map(_.partitions).getOrElse(Map.empty) ++
        written.map(_ -> dirName)) -- (covered.toSet -- written.toSet)
      // mixed-depth safety: a written child beside a surviving
      // UNMIGRATED parent pointer would double its rows — dynamic
      // overwrite cannot migrate a parent (it only covers the keys it
      // writes); migrate via a partitioned upsert/compactPartitions first
      val keySet = newParts.keySet
      val clash = keySet.filter { k =>
        val segs = k.split('/')
        (1 until segs.length)
          .exists(i => keySet.contains(segs.take(i).mkString("/")))
      }
      if (clash.nonEmpty) {
        deleteRecursively(rootP.resolve(dirName))
        throw new IllegalArgumentException(
          s"replace into $root would leave child partition(s) " +
            s"${clash.toSeq.sorted.mkString(", ")} beside their " +
            "unmigrated parent pointer (rows would double) — migrate " +
            "the parent first (any partitioned upsert touching it, or " +
            "compactPartitions)")
      }
      // keep partition-level bounds current across replace commits
      // too, or interval pruning would degrade to scan-all (sound but
      // ineffective) after every vacuum/compaction
      writePartSchema(rootP, partitionColumns.map(c =>
        c -> df.schema(c).dataType))
      writePartStats(rootP, next, newParts, prev)
      writePartitionedManifest(rootP,
        PartitionedManifest(next, partitionColumns, newParts))
      writeHistoryEntry(rootP, next,
        renderPartitionedManifest(
          PartitionedManifest(next, partitionColumns, newParts)))
      next
    }
  }

  // ------------------------------------------------------------------
  // Iceberg-style per-file column statistics. Every commit harvests
  // row count + min/max per integer-typed column from the parquet
  // FOOTERS of the files it just wrote (metadata only — no data read)
  // into a `_stats.json` sidecar INSIDE the version dir, immutable
  // alongside the data it describes. Selective readers consult it via
  // [[readLivePruned]] to open only files whose [min,max] range
  // overlaps the predicate — the file-skipping a real table format's
  // manifest stats buy, which at 100 TB is the difference between
  // listing 50 files and scanning 50,000. Stats are an OPTIMIZATION:
  // a file without an entry (legacy commit, unsupported type) is
  // always scanned, so pruning is sound by construction.
  // ------------------------------------------------------------------

  /** One data file's footer stats: row count, per-column inclusive
    * [min,max] for INT32/INT64 columns (the analytics-key types), and
    * per-column [lower,upper] BOUNDS for UTF8 string columns —
    * Iceberg-style truncated (lower = ≤16-codepoint prefix of the
    * true min, upper = prefix of the true max with its last
    * incrementable code point bumped), so arbitrarily long text never
    * bloats the sidecar while the bounds stay sound. Other types
    * simply have no entry and never prune.
    */
  final case class FileStats(path: String, rows: Long,
                             cols: Map[String, (Long, Long)],
                             strs: Map[String, (String, String)] =
                               Map.empty,
                             dbls: Map[String, (Double, Double)] =
                               Map.empty)

  /** Unsigned UTF-8 byte comparison — parquet's SortOrder for UTF8
    * statistics and DuckDB's string collation; Java's UTF-16
    * `compareTo` diverges for supplementary characters, so bound
    * checks must NOT use it.
    */
  private[graft] def u8cmp(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  private val StatsTruncLen = 16

  /** Lower string bound: a ≤16-codepoint prefix — a prefix is ≤ the
    * original in unsigned byte order, so it stays a valid lower bound.
    */
  private def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= StatsTruncLen) s
    else s.substring(0, s.offsetByCodePoints(0, StatsTruncLen))

  /** Upper string bound: the 16-codepoint prefix with its LAST
    * incrementable code point bumped (UTF-8 byte order equals code-
    * point order, so the bump keeps it ≥ every string sharing the
    * prefix). None when no code point can be bumped (all U+10FFFF) —
    * the column then carries no bound and never upper-prunes.
    */
  private def truncUpper(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= StatsTruncLen) return Some(s)
    val prefix = s.substring(0, s.offsetByCodePoints(0, StatsTruncLen))
    val cps = prefix.codePoints.toArray
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

  private[graft] def dataFilesUnder(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && n.endsWith(".parquet") &&
            !n.startsWith("_") && !n.startsWith(".")
        }
        .toSeq.sortBy(_.toString)
    } finally s.close()
  }

  /** Footer-only stats harvest for one parquet file: min/max across
    * its row groups per INT32/INT64 column. Columns where any row
    * group lacks usable statistics (or holds only nulls) are dropped —
    * absent stats mean "always scan", never a wrong skip.
    */
  private def footerStats(f: Path): FileStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri),
      new org.apache.hadoop.conf.Configuration())
    val r = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val acc = scala.collection.mutable.HashMap[String, (Long, Long)]()
      val sacc = scala.collection.mutable.HashMap[String, (String, String)]()
      val dacc = scala.collection.mutable.HashMap[String, (Double, Double)]()
      val dead = scala.collection.mutable.HashSet[String]()
      def isUtf8(pt: org.apache.parquet.schema.PrimitiveType): Boolean =
        pt.getLogicalTypeAnnotation match {
          case _: org.apache.parquet.schema.LogicalTypeAnnotation
                .StringLogicalTypeAnnotation => true
          case _ => false
        }
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString
        val tn = c.getPrimitiveType.getPrimitiveTypeName
        // DECIMAL-annotated INT32/INT64 store UNSCALED values: their
        // footer bounds live in a different domain than the scaled
        // values every read-path predicate compares, so recording
        // them would let an interval read skip files that hold
        // matching rows — no stats, always scan (sound)
        val isDecimal = c.getPrimitiveType.getLogicalTypeAnnotation
          .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation
            .DecimalLogicalTypeAnnotation]
        val numeric = (tn == INT64 || tn == INT32) && !isDecimal
        val floaty = tn == DOUBLE || tn == FLOAT
        val stringy = tn == BINARY && isUtf8(c.getPrimitiveType)
        if ((numeric || floaty || stringy) && !dead(name)) {
          val st = c.getStatistics
          if (st == null || st.isEmpty || !st.hasNonNullValue) {
            // a block with no usable stats poisons the whole column:
            // its rows could fall anywhere. For FLOAT/DOUBLE this is
            // also the NaN guard — parquet-mr omits chunk statistics
            // when a NaN was written (min/max ordering is unreliable
            // under NaN), so a NaN-poisoned file lands here and keeps
            // NO bounds: it always scans, never wrongly skips.
            if (st == null || st.isEmpty ||
                st.getNumNulls != b.getRowCount) {
              dead += name; acc.remove(name); sacc.remove(name)
              dacc.remove(name); ()
            } // else: all-null block constrains nothing, keep going
          } else if (floaty) {
            val mn = st.genericGetMin match {
              case d: java.lang.Double => d.doubleValue()
              case f: java.lang.Float  => f.doubleValue()
            }
            val mx = st.genericGetMax match {
              case d: java.lang.Double => d.doubleValue()
              case f: java.lang.Float  => f.doubleValue()
            }
            // a NaN bound (legacy writers) proves nothing — kill the
            // column's stats for this file rather than trust ordering
            if (mn.isNaN || mx.isNaN) {
              dead += name; dacc.remove(name); ()
            } else {
              val cur = dacc.get(name)
              dacc(name) = cur match {
                case Some((a, z)) => (math.min(a, mn), math.max(z, mx))
                case None         => (mn, mx)
              }
            }
          } else if (numeric) {
            val mn = st.genericGetMin match {
              case l: java.lang.Long => l.longValue()
              case i: java.lang.Integer => i.longValue()
            }
            val mx = st.genericGetMax match {
              case l: java.lang.Long => l.longValue()
              case i: java.lang.Integer => i.longValue()
            }
            val cur = acc.get(name)
            acc(name) = cur match {
              case Some((a, z)) => (math.min(a, mn), math.max(z, mx))
              case None         => (mn, mx)
            }
          } else {
            // parquet-mr's own binary-stats truncation (when enabled)
            // already keeps min-≤/max-≥ semantics, so the footer
            // values are valid bounds verbatim
            val mn = st.genericGetMin
              .asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8
            val mx = st.genericGetMax
              .asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8
            val cur = sacc.get(name)
            sacc(name) = cur match {
              case Some((a, z)) =>
                (if (u8cmp(mn, a) < 0) mn else a,
                 if (u8cmp(mx, z) > 0) mx else z)
              case None => (mn, mx)
            }
          }
        }
      }
      // truncate string bounds AFTER the cross-block fold (truncating
      // per block then folding could compare bumped uppers, which is
      // still sound but looser)
      val strs = sacc.toMap.flatMap { case (c, (mn, mx)) =>
        truncUpper(mx).map(up => c -> (truncLower(mn), up))
      }
      FileStats(f.toString, rows, acc.toMap, strs, dacc.toMap)
    } finally r.close()
  }

  private def statsPath(versionDir: Path): Path =
    versionDir.resolve("_stats.json")

  /** Harvest and write the `_stats.json` sidecar for every data file
    * under `versionDir` (recursive — partitionBy layouts included),
    * one JSON object per line, paths relative to the dir. Best-effort:
    * a harvest failure leaves no sidecar and readers fall back to
    * scanning everything.
    */
  /** JSON string escape for the sidecar: backslash, quote, and the
    * control characters that would break the line-per-file format.
    */
  private[graft] def escJson(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => b.append("\\\\")
        case '"'  => b.append("\\\"")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c    => b.append(c)
      }
      i += 1
    }
    b.toString
  }

  /** JSON string unescape. THROWS on a malformed escape (lone trailing
    * backslash, truncated or non-hex \uXXXX): the sidecar parsers drop
    * the whole line on failure, so a corrupt/truncated sidecar entry
    * degrades to "no stats → must scan" (sound) instead of silently
    * garbling into incorrect bounds that would prune wrongly.
    */
  private[graft] def unescJson(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') {
        if (i + 1 >= s.length)
          throw new IllegalArgumentException(
            s"malformed JSON escape: lone trailing backslash in '$s'")
        s.charAt(i + 1) match {
          case 'n'  => b.append('\n'); i += 2
          case 'r'  => b.append('\r'); i += 2
          case 't'  => b.append('\t'); i += 2
          case 'u' =>
            if (i + 6 > s.length)
              throw new IllegalArgumentException(
                s"malformed JSON escape: truncated \\u in '$s'")
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16)
              .toChar); i += 6 // parseInt throws on non-hex — intended
          case o    => b.append(o); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def writeStatsSidecar(versionDir: Path): Unit =
    try {
      def esc(s: String) = escJson(s)
      val files = dataFilesUnder(versionDir)
      // harvest footers in parallel: a partitioned commit writes
      // hundreds of small files and the per-file footer read is
      // IO-latency-bound — sequential harvest was a visible fraction
      // of every commit
      val statsByFile: Map[Path, FileStats] =
        if (files.size <= 4) files.map(f => f -> footerStats(f)).toMap
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(8, files.size))
          try {
            val futures = files.map { f =>
              f -> pool.submit(new java.util.concurrent.Callable[FileStats] {
                override def call(): FileStats = footerStats(f)
              })
            }
            futures.map { case (f, fut) => f -> fut.get() }.toMap
          } finally pool.shutdown()
        }
      val lines = files.map { f =>
        val st = statsByFile(f)
        val rel = versionDir.relativize(f).toString.replace('\\', '/')
        val cols = st.cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s""""${esc(c)}": {"min": $mn, "max": $mx}"""
        }.mkString(", ")
        val strs = st.strs.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s""""${esc(c)}": {"min": "${esc(mn)}", "max": "${esc(mx)}"}"""
        }.mkString(", ")
        // Double.toString ALWAYS contains '.' (also in sci notation),
        // keeping the dbls grammar disjoint from the integer cols one;
        // ±Infinity render as bare words the reader's regex accepts
        val dbls = st.dbls.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s""""${esc(c)}": {"min": $mn, "max": $mx}"""
        }.mkString(", ")
        s"""{"path": "${esc(rel)}", "rows": ${st.rows}, """ +
          s""""cols": {$cols}, "strs": {$strs}, "dbls": {$dbls}}"""
      }
      Files.write(statsPath(versionDir),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      ()
    } catch { case _: Throwable => () } // stats are optional metadata

  /** Parsed-sidecar memo: a sidecar is written once into its version
    * dir and never edited, so (path, size, mtime) is its exact
    * identity — the regex parse is pure driver CPU repeated by every
    * pruned read / decision probe over the same immutable file.
    */
  private val statsSidecarMemo = new graft.core.FingerprintMemo[
    (String, Long, Long), Map[String, FileStats]](2048)

  /** Parse the sidecar: relative path → stats. Empty when absent. */
  def readStatsSidecar(versionDir: Path): Map[String, FileStats] = {
    val p = statsPath(versionDir)
    if (!Files.exists(p)) return Map.empty
    val key = try {
      (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    } catch { case _: Throwable => (p.toString, -1L, -1L) }
    statsSidecarMemo.getOrElseUpdate(key)(readStatsSidecar0(p))
  }

  private def readStatsSidecar0(p: Path): Map[String, FileStats] = {
    val pathRe = """"path"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val rowsRe = """"rows"\s*:\s*(\d+)""".r
    val colRe =
      """"((?:[^"\\]|\\.)+)"\s*:\s*\{"min"\s*:\s*(-?\d+),\s*"max"\s*:\s*(-?\d+)\}""".r
    val strRe =
      (""""((?:[^"\\]|\\.)+)"\s*:\s*\{"min"\s*:\s*"((?:[^"\\]|\\.)*)",\s*""" +
        """"max"\s*:\s*"((?:[^"\\]|\\.)*)"\}""").r
    // floating bounds: Double.toString output (always contains '.')
    // or ±Infinity — disjoint from colRe's bare-integer grammar, so
    // neither regex can claim the other's entries
    val dblNum = """-?(?:\d+\.\d+(?:[eE][+-]?\d+)?|Infinity)"""
    val dblRe =
      (""""((?:[^"\\]|\\.)+)"\s*:\s*\{"min"\s*:\s*(""" + dblNum +
        """),\s*"max"\s*:\s*(""" + dblNum + """)\}""").r
    def unesc(s: String) = unescJson(s)
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).flatMap { line =>
        // a malformed line (truncated write, bad escape) drops out:
        // its file then has no stats entry and always scans — sound
        try for {
          pm <- pathRe.findFirstMatchIn(line)
          rm <- rowsRe.findFirstMatchIn(line)
        } yield {
          val cols = colRe.findAllMatchIn(line).map(m =>
            unesc(m.group(1)) -> (m.group(2).toLong, m.group(3).toLong))
            .toMap - "path" // the path field also matches colRe's shape
          val strs = strRe.findAllMatchIn(line).map(m =>
            unesc(m.group(1)) -> (unesc(m.group(2)), unesc(m.group(3))))
            .toMap
          val dbls = dblRe.findAllMatchIn(line).map(m =>
            unesc(m.group(1)) -> (m.group(2).toDouble, m.group(3).toDouble))
            .toMap
          val rel = unesc(pm.group(1))
          rel -> FileStats(rel, rm.group(1).toLong, cols, strs, dbls)
        } catch { case _: IllegalArgumentException => None }
      }.toMap
  }

  /** The pruning decision a live base-row read under `filters` takes:
    * partitions and files scanned of those in the snapshot, from the
    * manifest, the version-checked partition bounds and the
    * footer-stats and bloom sidecars — the metadata step of the DSv2
    * scan ([[graft.sources.GraftScanPlanner.decide]]), so library and
    * format reads share one skip policy. Launches no Spark job and
    * leaves [[graft.sources.GraftScanAudit.last]] untouched. Delete
    * masks are not consulted.
    */
  def pruneDecision(root: String,
                    filters: Seq[Filter]): GraftScanAudit.Decision =
    GraftScanPlanner.decide(baseRowOpts(root), filters)._1

  /** [[readLive]] (either table form) restricted to the conjunction of
    * `filters`, opening only the files [[pruneDecision]] keeps. The
    * row filter still applies — file skipping is planning, never
    * semantics — so the result equals the plain filtered read exactly.
    */
  def readLivePruned(spark: SparkSession, root: String,
                     filters: Seq[Filter]): DataFrame = {
    val o = baseRowOpts(root)
    val df = GraftScanPlanner.assemble(spark, o,
      GraftScanPlanner.decide(o, filters)._2)
    filters.map(f => GraftFilterColumns.translate(f).getOrElse(
        throw new IllegalArgumentException(
          s"readLivePruned: filter $f has no row-level translation")))
      .reduceOption(_ && _).fold(df)(df.filter)
  }

  private def baseRowOpts(root: String): GraftScanPlanner.Opts =
    GraftScanPlanner.Opts(root, None, withDeletes = false)

  /** Does ANY merge-on-read delete sub-table exist? (A metadata count
    * of base rows would then over-count the observable snapshot.)
    */
  private[graft] def hasAnyDeletes(root: String): Boolean =
    readManifest(deletesRoot(root)).isDefined ||
      readManifest(posDeletesRoot(root)).isDefined

  /** Sidecar stats of EVERY live file, either table form — None when
    * any live file lacks an entry (legacy commit, harvest failure):
    * partial metadata must never masquerade as a complete answer.
    * Backs the DSv2 metadata COUNT/MIN/MAX pushdown.
    */
  private[graft] def liveFileStatsAll(root: String)
      : Option[Seq[FileStats]] = {
    val rootP = Paths.get(root)
    val out = Seq.newBuilder[FileStats]
    val m = snapshotView(root).getOrElse(return None)
    m.partitions.groupBy(_._2).foreach { case (dn, parts) =>
      val verDir = rootP.resolve(dn)
      val stats = readStatsSidecar(verDir)
      parts.keys.foreach { k =>
        dataFilesUnder(rootP.resolve(viewLeaf(m, k, dn))).foreach { f =>
          val rel = verDir.relativize(f).toString.replace('\\', '/')
          stats.get(rel) match {
            case Some(st) => out += st
            case None     => return None
          }
        }
      }
    }
    Some(out.result())
  }

  /** Metadata-only COUNT(*) of the live snapshot, either table form —
    * the sum of the sidecars' per-file row counts, no data read (the
    * manifest-stats answer a real table format gives; at 100 TB this
    * is microseconds against a full-scan count job). None when the
    * table never committed or any live file lacks a sidecar entry
    * (legacy commit, harvest failure) — the caller falls back to
    * counting. Counts BASE rows: delete masks are not applied,
    * matching [[readLive]].
    */
  def countLive(root: String): Option[Long] =
    liveFileStatsAll(root).map(_.map(_.rows).sum)

  // ------------------------------------------------------------------
  // PARTITION-level column bounds (`_part_stats.json`) — the Iceberg
  // manifest-entry bounds: each partitioned upsert commit folds the
  // per-file footer stats of every live partition into one
  // (rows, per-column [min,max]) entry per partition, version-stamped
  // with the manifest version it describes. An interval predicate on a
  // layout-correlated DATA column (ingest-monotone ids in a
  // time-partitioned table, the classic case) then skips whole
  // partitions from ONE metadata file — no per-partition sidecar
  // reads, no listing. Soundness: a reader trusts the sidecar only if
  // its version equals the live manifest's (a racing/failed commit
  // degrades to scan-all-partitions), and a partition with incomplete
  // file stats gets NO bounds (always scans).
  // ------------------------------------------------------------------

  final case class PartitionStats(rows: Long,
                                  cols: Map[String, (Long, Long)],
                                  dbls: Map[String, (Double, Double)] =
                                    Map.empty)

  private def partStatsPath(rootP: Path): Path =
    rootP.resolve("_part_stats.json")

  /** Fold one partition's per-file stats into partition bounds; None
    * unless EVERY data file under the partition has a sidecar entry
    * (partial knowledge must not masquerade as bounds). A column's
    * bound requires stats in every file of the partition.
    */
  private def foldPartitionStats(verDir: Path, key: String,
                                 sidecar: Map[String, FileStats])
      : Option[PartitionStats] = {
    val files = dataFilesUnder(verDir.resolve(key))
    val rels = files.map(f =>
      verDir.relativize(f).toString.replace('\\', '/'))
    if (rels.isEmpty || !rels.forall(sidecar.contains)) None
    else {
      val fs = rels.map(sidecar)
      val common = fs.map(_.cols.keySet).reduce(_ intersect _)
      // a column's floating bound needs dbls in EVERY file of the
      // partition — one NaN-poisoned (bound-less) file strips the
      // whole partition's bound for that column, so partition-level
      // skipping can never hide the file that must scan
      val commonD = fs.map(_.dbls.keySet).reduce(_ intersect _)
      Some(PartitionStats(fs.map(_.rows).sum,
        common.map(c => c -> (fs.map(_.cols(c)._1).min,
          fs.map(_.cols(c)._2).max)).toMap,
        commonD.map(c => c -> (fs.map(_.dbls(c)._1).min,
          fs.map(_.dbls(c)._2).max)).toMap))
    }
  }

  /** Write `_part_stats.json` for the manifest state (version,
    * partitions) INCREMENTALLY: entries for partitions whose dir
    * mapping is unchanged since `prev` are carried over from the
    * previous sidecar (trusted only when its version matches prev's),
    * and only touched/new partitions re-fold from their version dir's
    * sidecar — a one-partition commit pays one-partition metadata
    * work, not table-wide IO under the commit lock.
    */
  private def writePartStats(rootP: Path, version: Long,
                             partitions: Map[String, String],
                             prev: Option[PartitionedManifest]): Unit =
    try {
      val prevParts = prev.map(_.partitions).getOrElse(Map.empty)
      val trusted: Map[String, PartitionStats] = prev.flatMap { pm =>
        readPartStats(rootP.toString)
          .filter(_._1 == pm.version).map(_._2)
      }.getOrElse(Map.empty)
      def carried(k: String, dn: String): Boolean =
        prevParts.get(k).contains(dn) && trusted.contains(k)
      val needFold = partitions.filterNot { case (k, dn) => carried(k, dn) }
      val sidecars = needFold.values.toSeq.distinct
        .map(dn => dn -> readStatsSidecar(rootP.resolve(dn))).toMap
      val lines = Seq(s"""{"version": $version}""") ++
        partitions.toSeq.sortBy(_._1).flatMap { case (k, dn) =>
          val ps =
            if (carried(k, dn)) Some(trusted(k))
            else foldPartitionStats(rootP.resolve(dn), k, sidecars(dn))
          ps.map { st =>
            val cols = st.cols.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
              s""""${escJson(c)}": {"min": $mn, "max": $mx}"""
            }.mkString(", ")
            val dbls = st.dbls.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
              s""""${escJson(c)}": {"min": $mn, "max": $mx}"""
            }.mkString(", ")
            s"""{"part": "${escJson(k)}", "rows": ${st.rows}, """ +
              s""""cols": {$cols}, "dbls": {$dbls}}"""
          }
        }
      TableFs.publishFile(partStatsPath(rootP), lines.mkString("\n"))
    } catch {
      // partition bounds are optional metadata: readers reject stats
      // whose version differs from the manifest's and scan everything,
      // so a failed write costs pruning, never correctness
      case scala.util.control.NonFatal(e) =>
        log.warn(s"partition stats not written under $rootP: $e")
    }

  /** Parse `_part_stats.json`: (version it describes, partition key →
    * bounds). None when absent; malformed lines drop out (their
    * partitions always scan — sound).
    */
  private val partStatsMemo = new graft.core.FingerprintMemo[
    (String, Long, Long), Option[(Long, Map[String, PartitionStats])]](512)

  def readPartStats(root: String)
      : Option[(Long, Map[String, PartitionStats])] = {
    val p = partStatsPath(Paths.get(root))
    if (!Files.exists(p)) return None
    // _part_stats.json IS atomically replaced per commit — (size,
    // mtime) identity. A same-millisecond same-size replace could
    // serve a stale parse, whose recorded version then mismatches the
    // live manifest and the bounds are ignored (scan-all — sound).
    val key = try {
      (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    } catch { case _: Throwable => (p.toString, -1L, -1L) }
    partStatsMemo.getOrElseUpdate(key)(readPartStats0(p))
  }

  private def readPartStats0(p: Path)
      : Option[(Long, Map[String, PartitionStats])] = {
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val lines = txt.split("\n").filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val vRe = """"version"\s*:\s*(\d+)""".r
    val version = vRe.findFirstMatchIn(lines.head)
      .map(_.group(1).toLong).getOrElse(return None)
    val partRe = """"part"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    val rowsRe = """"rows"\s*:\s*(\d+)""".r
    val colRe =
      """"((?:[^"\\]|\\.)+)"\s*:\s*\{"min"\s*:\s*(-?\d+),\s*"max"\s*:\s*(-?\d+)\}""".r
    val dblNum = """-?(?:\d+\.\d+(?:[eE][+-]?\d+)?|Infinity)"""
    val dblRe =
      (""""((?:[^"\\]|\\.)+)"\s*:\s*\{"min"\s*:\s*(""" + dblNum +
        """),\s*"max"\s*:\s*(""" + dblNum + """)\}""").r
    val entries = lines.tail.flatMap { line =>
      try for {
        pm <- partRe.findFirstMatchIn(line)
        rm <- rowsRe.findFirstMatchIn(line)
      } yield {
        val cols = colRe.findAllMatchIn(line).map(m =>
          unescJson(m.group(1)) -> (m.group(2).toLong, m.group(3).toLong))
          .toMap - "part"
        val dbls = dblRe.findAllMatchIn(line).map(m =>
          unescJson(m.group(1)) ->
            (m.group(2).toDouble, m.group(3).toDouble)).toMap
        unescJson(pm.group(1)) ->
          PartitionStats(rm.group(1).toLong, cols, dbls)
      } catch { case _: IllegalArgumentException => None }
    }.toMap
    Some((version, entries))
  }

  // ------------------------------------------------------------------
  // Bloom-filter file skipping. Min/max zone maps prune NOTHING for
  // an equality probe on a high-cardinality unclustered column (every
  // file's [min,max] spans the domain). Real formats answer this with
  // per-file bloom filters (Parquet bloom pages, Iceberg Puffin
  // blobs): ~1 KB of bits per file turns `key = v` into a few-file
  // scan with false positives only — a bloom miss is PROOF the file
  // cannot hold the value, so skipping is sound by construction.
  //
  // Built as ONE Spark job: scan with `_metadata.file_path`, group by
  // file, aggregate `graft_bloom(xxhash64(col), bits)` — a mergeable
  // TypedImperativeAggregate, so executors ship one fixed-size buffer
  // per (partition, file) partial and the driver collects exactly one
  // row per live file (the same O(|files|) metadata it already holds).
  // ------------------------------------------------------------------

  private def bloomPath(versionDir: Path): Path =
    versionDir.resolve("_bloom.json")

  /** Build the `_bloom.json` sidecars for `columns` over the live
    * snapshot, either table form: one bloom per live data file per
    * column, `bits` bits each, one sidecar per version dir the view
    * maps (a flat segment, or the dir holding live partitions). Each
    * sidecar lives INSIDE its immutable version dir, so it can never
    * describe different data than the files beside it and is reclaimed
    * with the version. Size `bits` ≈ 10× the expected rows/file for
    * ~1 % fpp. Values are hashed with SQL `xxhash64`; driver-side
    * probes reproduce it via [[graft.functions.Bloom]]. One
    * grouped-aggregate Spark job per dir.
    */
  def addBloomSidecar(spark: SparkSession, root: String,
                      columns: Seq[String], bits: Int = 1 << 16): Unit = {
    require(columns.nonEmpty, "addBloomSidecar needs at least one column")
    val v = liveView(root)
    val rootP = Paths.get(root)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    v.partitions.groupBy(_._2).toSeq.sortBy(_._1).foreach {
      case (dn, leaves) =>
        val dirP = rootP.resolve(dn)
        val files = leaves.keys.toSeq.sorted.flatMap(k =>
          dataFilesUnder(rootP.resolve(viewLeaf(v, k, dn))))
        if (files.nonEmpty) {
          // relativize inside the job (the withAddress idiom):
          // _metadata.file_path is a URI string, and driver-side
          // java.net.URI parsing throws on legal roots containing
          // spaces or other URI-illegal characters
          val src = spark.read.option("basePath", dirP.toString)
            .parquet(files.map(_.toString): _*)
            .select(
              expr(s"substring_index(_metadata.file_path, '/$dn/', -1)")
                .as("_graft_file") +:
              columns.map(c => xxhash64(col(c)).as(s"_graft_h_$c")): _*)
          val aggs = columns.map(c =>
            expr(s"graft_bloom(`_graft_h_$c`, $bits)").as(s"_graft_b_$c"))
          val rows = src.groupBy(col("_graft_file"))
            .agg(aggs.head, aggs.tail: _*).collect() // one row per file
          Files.write(bloomPath(dirP),
            renderBloomLines(rows, columns)
              .mkString("\n").getBytes(StandardCharsets.UTF_8))
        }
    }
  }

  /** Render collected (file, bloom…) aggregate rows into the
    * `_bloom.json` line format.
    */
  private def renderBloomLines(rows: Array[org.apache.spark.sql.Row],
                               columns: Seq[String]): Seq[String] = {
    val enc = java.util.Base64.getEncoder
    rows.toSeq.flatMap { r =>
      val rel = r.getString(0)
      columns.zipWithIndex.map { case (c, i) =>
        val sketch = r.getSeq[Long](i + 1).toArray
        val words = sketch.drop(graft.functions.Bloom.HeaderLen)
        val bb = java.nio.ByteBuffer.allocate(words.length * 8)
        bb.asLongBuffer().put(words)
        s"""{"path": "${escJson(rel)}", "column": "${escJson(c)}", """ +
          s""""bits": ${sketch(0)}, "k": ${sketch(1)}, """ +
          s""""words": "${enc.encodeToString(bb.array())}"}"""
      }
    }
  }

  private val bloomSidecarMemo = new graft.core.FingerprintMemo[
    (String, Long, Long), Map[(String, String), Array[Long]]](512)

  /** Parse `_bloom.json`: (relative path, column) → HEADERED sketch
    * (as [[graft.functions.Bloom.mightContain]] expects). Empty when
    * absent. Memoized per (path, size, mtime): base64-decoding the
    * sketches is pure driver CPU over a file that is atomically
    * replaced, never edited.
    */
  def readBloomSidecar(versionDir: Path): Map[(String, String), Array[Long]] = {
    val p = bloomPath(versionDir)
    if (!Files.exists(p)) return Map.empty
    val key = try {
      (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    } catch { case _: Throwable => (p.toString, -1L, -1L) }
    bloomSidecarMemo.getOrElseUpdate(key)(readBloomSidecar0(p))
  }

  private def readBloomSidecar0(p: Path)
      : Map[(String, String), Array[Long]] = {
    val re = (""""path"\s*:\s*"((?:[^"\\]|\\.)*)",\s*""" +
      """"column"\s*:\s*"((?:[^"\\]|\\.)*)",\s*""" +
      """"bits"\s*:\s*(\d+),\s*"k"\s*:\s*(\d+),\s*""" +
      """"words"\s*:\s*"([A-Za-z0-9+/=]*)"""").r
    val dec = java.util.Base64.getDecoder
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).flatMap { line =>
        // drop malformed lines (bad escape / base64): the file loses
        // its bloom entry and always scans — sound
        try re.findFirstMatchIn(line).map { mm =>
          val bytes = dec.decode(mm.group(5))
          val words = new Array[Long](bytes.length / 8)
          java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(words)
          val sketch = new Array[Long](
            graft.functions.Bloom.HeaderLen + words.length)
          sketch(0) = mm.group(3).toLong
          sketch(1) = mm.group(4).toLong
          System.arraycopy(words, 0, sketch,
            graft.functions.Bloom.HeaderLen, words.length)
          (unescJson(mm.group(1)), unescJson(mm.group(2))) -> sketch
        } catch { case _: IllegalArgumentException => None }
      }.toMap
  }

  /** Packaged exactly-once-effect streaming sink: the foreachBatch
    * function q215/q298 hand-roll — each micro-batch lands as a keyed
    * [[upsert]] (`partitionBy` as there), so at-least-once redelivery
    * collapses on the merge key and commits stay reader-atomic.
    * Usage: `stream.writeStream.foreachBatch(
    * VersionedTable.streamUpsertWriter(spark, root, keys)).start()`.
    */
  def streamUpsertWriter(spark: SparkSession, root: String,
                         keys: Seq[String],
                         partitionBy: Seq[String] = Nil)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      if (!batch.isEmpty) upsert(spark, root, batch, keys, partitionBy)
      ()
    }

  // ------------------------------------------------------------------
  // Table maintenance: compaction. Streaming ingest and per-batch
  // upserts accrete SMALL files; at 100 TB the resulting task-per-
  // tiny-file scan overhead (and footer-stats entries that span the
  // whole key domain) dominate read cost. Compaction rewrites the
  // live snapshot into few well-sized files as a NEW commit — same
  // CAS + retry-or-escalate protocol as upsert, so a concurrent
  // writer's rows are never lost: a lost race simply re-reads the
  // fresh snapshot and re-packs it. Rows keep their original write-
  // sequence stamps, so delete masks in the `_deletes` sub-table keep
  // applying to exactly the rows they applied to before (rewriting
  // data files must never change MoR visibility — the Iceberg
  // rewrite-files rule).
  // ------------------------------------------------------------------

  /** Round-robin bin-pack of the live snapshot into exactly
    * `numFiles` files (rows ≥ numFiles), committed as a new version.
    * Folds any pending position deletes (the rewrite replaces their
    * target files — [[rewriteFoldingPosDeletes]]); equality deletes
    * keep applying unchanged because rows keep their sequence stamps.
    * Returns the new version number.
    */
  def compact(spark: SparkSession, root: String, numFiles: Int,
              keepVersions: Int = 2, maxRetries: Int = 10): Long = {
    require(numFiles > 0, "numFiles must be positive")
    rewriteFoldingPosDeletes(spark, root, "compact", keepVersions,
      maxRetries)(_.repartition(numFiles))
  }

  /** Sort-clustered compaction (the z-order-lite a single sort key
    * needs): range-repartition the live snapshot on `sortCols` into
    * `numFiles` files and sort within each, so each file covers a
    * DISJOINT key range and the footer-stats sidecar turns a narrow
    * predicate into a one-or-two-file scan ([[readLivePruned]] /
    * [[pruneDecision]]). Range boundaries come from Spark's sampling
    * range partitioner — the idiomatic cluster-scale mechanism; file
    * count is ≤ numFiles (empty ranges write nothing). Folds pending
    * position deletes like [[compact]].
    */
  def compactSorted(spark: SparkSession, root: String,
                    sortCols: Seq[String], numFiles: Int,
                    keepVersions: Int = 2, maxRetries: Int = 10): Long = {
    require(sortCols.nonEmpty, "compactSorted needs at least one sort column")
    rewriteFoldingPosDeletes(spark, root, "compactSorted", keepVersions,
      maxRetries) { snap =>
      snap.repartitionByRange(numFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    }
  }

  /** TWO-dimensional z-order clustering — delegates to the N-ary
    * [[compactZOrderN]] (bit-for-bit the same Morton value for two
    * columns: colA at even bit positions, colB at odd).
    */
  def compactZOrder(spark: SparkSession, root: String,
                    colA: String, colB: String, numFiles: Int,
                    keepVersions: Int = 2, maxRetries: Int = 10): Long =
    compactZOrderN(spark, root, Seq(colA, colB), numFiles,
      keepVersions, maxRetries)

  /** N-dimensional z-order clustering: interleave the bits of every
    * column's min-max-normalized lane (lane width = min(16, 62/N)
    * bits, so the Morton value always fits a positive long) into one
    * Morton value, range-repartition + sort on it — each file then
    * covers a compact N-dimensional BOX of the domain and footer
    * stats prune narrow intervals on ANY of the columns
    * ([[readLivePruned]] reads the conjunction). Normalization
    * uses double arithmetic: lane precision only shapes layout
    * QUALITY; pruning soundness always comes from the per-file footer
    * stats on the original columns. Folds pending position deletes
    * like [[compact]]. The interleave is a fixed fan of codegen'd
    * shift/and/or ops (laneBits × N terms) — no UDF, no shuffle
    * beyond the one range-repartition.
    */
  def compactZOrderN(spark: SparkSession, root: String,
                     cols: Seq[String], numFiles: Int,
                     keepVersions: Int = 2, maxRetries: Int = 10): Long = {
    import org.apache.spark.sql.functions.{floor, least, shiftright, max => smax, min => smin}
    require(cols.size >= 2 && cols.size <= 31,
      s"z-order needs 2..31 columns (each gets >= 2 Morton bits): $cols")
    val n = cols.size
    val laneBits = math.min(16, 62 / n)
    val laneMax = (1L << laneBits) - 1
    rewriteFoldingPosDeletes(spark, root, "compactZOrder", keepVersions,
      maxRetries) { snap =>
      requireNoReservedColumns(snap.columns,
        s"compactZOrder over $root", Seq("_graft_z"))
      val aggs = cols.flatMap(c => Seq(smin(col(c)).cast("double"),
        smax(col(c)).cast("double")))
      val r = snap.agg(aggs.head, aggs.tail: _*).collect()(0)
      // bounds read INSIDE the null guard: an empty snapshot aggs to
      // null min/max and an eager getDouble would NPE before the
      // degenerate-lane fallback could fire
      def lane(c: String, i: Int): Column =
        if (r.anyNull) lit(0L)
        else {
          val (lo, hi) = (r.getDouble(2 * i), r.getDouble(2 * i + 1))
          if (hi <= lo) lit(0L)
          else least(
            floor((col(c).cast("double") - lit(lo)) / lit(hi - lo)
              * lit((laneMax + 1).toDouble)).cast("long"), lit(laneMax))
        }
      val z = cols.zipWithIndex.map { case (c, i) =>
        val v = lane(c, i)
        // bit j of lane i lands at position j*n + i
        (0 until laneBits).map(j =>
          shiftleft(shiftright(v, j).bitwiseAND(lit(1L)), j * n + i))
          .reduce(_ bitwiseOR _)
      }.reduce(_ bitwiseOR _)
      snap.withColumn("_graft_z", z)
        .repartitionByRange(numFiles, col("_graft_z"))
        .sortWithinPartitions(col("_graft_z"))
        .drop("_graft_z")
    }
  }

  /** Tuple → rendered-key MAPPING as a DataFrame (partition columns
    * + `__graft_pkey`), same Spark-writes-the-dirs fidelity as
    * [[renderPartitionKeys]] but keeping the correspondence: the
    * tuples are written through Spark's dynamic-partition writer and
    * read BACK under the given schema (no path type re-inference),
    * each row's key recovered from its own `_metadata.file_path`.
    * |tuples| is partition-count-bounded, so callers broadcast the
    * result into data-sized joins (merge-on-read MERGE qualifies its
    * inserted rows this way).
    */
  private[graft] def partitionKeyFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      tuples: Array[org.apache.spark.sql.Row]): DataFrame = {
    // DRIVER-side render (the writer-fidelity Cast +
    // getPartitionPathString pair [[renderPartitionKeys]] already
    // spec-pins byte-identical against Spark's dynamic-partition
    // writer) — the old form physically wrote the tuples through the
    // writer into a temp dir and read the keys back off
    // `_metadata.file_path`: two Spark jobs per MoR statement to
    // render a partition-count-bounded handful of strings. The frame
    // carries the ORIGINAL tuple values (what the `<=>` join back to
    // the data rows needs), never roundtripped ones.
    val keys = renderPartitionKeys(spark, schema, tuples)
    val rows = tuples.zip(keys).map { case (r, k) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ k)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(schema.fields :+
        org.apache.spark.sql.types.StructField("__graft_pkey",
          org.apache.spark.sql.types.StringType)))
  }

  /** Register EMPTY partitions in the manifest — visible rows
    * UNCHANGED: a fresh version dir holding one zero-row
    * schema-carrying parquet file per missing leaf (Spark's
    * single-directory writer creates the footer eagerly, so the leaf
    * stays readable in the explicit-paths partition read), manifest
    * mappings added for exactly the keys not already mapped.
    * Merge-on-read MERGE uses this to give rows inserted into
    * brand-new partitions a LIVE qualifier before the entry commit;
    * the materialization is content-free, so a crash between the two
    * commits leaves the table visibly unchanged (the retryable
    * not-applied state, never a partial MERGE).
    *
    * `schemaSource` supplies the leaf-file schema (its non-partition
    * columns, declared types). CAS: throws ConcurrentCommitException
    * when the manifest moved past `expectedBase`.
    */
  private[graft] def materializeEmptyPartitions(spark: SparkSession,
      root: String, schemaSource: DataFrame, keys: Seq[String],
      expectedBase: Long): PartitionedManifest = {
    val rootP = Paths.get(root)
    val m0 = readPartitionedManifest(root).getOrElse(
      throw new IllegalStateException(
        s"materializeEmptyPartitions needs a partitioned table: $root"))
    val missing = keys.distinct.filterNot(m0.partitions.contains)
    if (missing.isEmpty) {
      // nothing to add — but the caller pinned its snapshot at
      // expectedBase; a newer version here means a FOREIGN commit
      // interleaved (possibly another writer materializing the same
      // partitions), and the caller must re-identify against it
      if (m0.version != expectedBase)
        throw new ConcurrentCommitException(
          s"$root moved to v${m0.version} while a merge pinned " +
            s"v$expectedBase — retrying")
      return m0
    }
    val dataDf = schemaSource
      .drop(m0.partitionColumns: _*).limit(0).coalesce(1)
    val staging = stagingDir(rootP)
    // the sidecar write sits INSIDE the cleanup guard: a failure
    // there must delete the staging dir too, or it leaks inside the
    // table root where no reaper sweeps (reapStaleStaging only
    // covers the .ctas-/.replaced- namespace siblings)
    try {
      // every missing leaf takes the SAME zero-row schema-carrying
      // file: write the template through Spark once, byte-copy it per
      // key — the old one-write-job-per-key form paid a full
      // FileFormatWriter setup+commit each for identical bytes
      val tpl = staging.resolve("_template")
      dataDf.write.mode(SaveMode.Overwrite).parquet(tpl.toString)
      val tplFile = dataFilesUnder(tpl).headOption.getOrElse(
        throw new IllegalStateException(
          s"empty-partition template write left no file under $tpl"))
      missing.foreach { k =>
        val dst = staging.resolve(k)
        Files.createDirectories(dst)
        Files.copy(tplFile, dst.resolve(tplFile.getFileName.toString))
      }
      deleteRecursively(tpl)
      writeStatsSidecar(staging)
    } catch { case e: Throwable => deleteRecursively(staging); throw e }
    withCommitLock(rootP) {
      val cur = readPartitionedManifest(root)
      if (!cur.map(_.version).contains(expectedBase)) {
        deleteRecursively(staging)
        throw new ConcurrentCommitException(
          s"$root moved to v${cur.map(_.version).getOrElse(0L)} " +
            s"while materializing empty partitions against " +
            s"v$expectedBase — retrying")
      }
      val next = TableFs.publishVersionDir(rootP, staging)
      val dirName = versionDirName(next)
      val newParts = cur.get.partitions ++ missing.map(_ -> dirName)
      val m = PartitionedManifest(next, m0.partitionColumns, newParts)
      // partition-level bounds track the manifest version (lagging or
      // leading stats are rejected → scan-all); empty partitions add
      // no bounds but the version stamp must advance with the flip
      writePartStats(rootP, next, newParts, cur)
      writePartitionedManifest(rootP, m)
      writeHistoryEntry(rootP, next, renderPartitionedManifest(m))
      m
    }
  }

  /** Render partition tuples to their `col=value[/...]` relative paths
    * with Spark's OWN dynamic-partition writer, WITHOUT the writer:
    * the writer's leaf path is `getPartitionPathString(name,
    * Cast(col, StringType, sessionTz))` per level
    * (PartitioningUtils.partitionPathExpression), so evaluating that
    * exact expression pair on the driver reproduces the harvested
    * keys byte-for-byte — including null/empty
    * (`__HIVE_DEFAULT_PARTITION__`) and session-timezone timestamp
    * rendering, where a hand `escapePathName(String.valueOf(v))`
    * diverges and would leave a fully-emptied partition's stale
    * pointer behind. Replaces the previous tiny-temp-write +
    * dir-listing probe (r16 optimization): one Spark write job +
    * filesystem round per DML statement became a pure driver eval
    * over the partition-count-bounded tuple set.
    */
  private def renderPartitionKeys(spark: SparkSession,
                                  schema: org.apache.spark.sql.types.StructType,
                                  tuples: Array[org.apache.spark.sql.Row])
      : Seq[String] = {
    if (tuples.isEmpty) return Seq.empty
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    tuples.toSeq.map { row =>
      schema.fields.zipWithIndex.map { case (f, i) =>
        val catalystLit = Literal.create(row.get(i), f.dataType)
        val s = Cast(catalystLit, org.apache.spark.sql.types.StringType,
          tz).eval(null)
        ExternalCatalogUtils.getPartitionPathString(f.name,
          if (s == null) null else s.toString)
      }.mkString("/")
    }
  }

  /** Relative `col=value[/...]` leaf dirs under a version dir. */
  private def partitionLeafDirs(base: Path, depth: Int): Seq[Path] = {
    def walk(dir: Path, level: Int): Seq[Path] =
      if (level == 0) Seq(dir)
      else {
        val s = Files.list(dir)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq
            .filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.contains("="))
            .flatMap(walk(_, level - 1))
        } finally s.close()
      }
    walk(base, depth).map(base.relativize)
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  // ------------------------------------------------------------------
  // ANALYZE column statistics (`_column_stats.json`): per-column
  // NDV / null count / min / max / string lengths over the OBSERVABLE
  // snapshot, persisted version-STAMPED — the ANALYZE TABLE model
  // (Spark/Hive CBO): a user-invoked scan pays the stats cost once,
  // and the planner serves them only while the fingerprint (main +
  // pos-delete + equality-delete versions) still matches, so stale
  // statistics degrade to absent, never to wrong. NDV is HLL++
  // (approx_count_distinct) by default — one pass at any scale —
  // or exact count(distinct) on request (the oracle-graded mode).
  // ------------------------------------------------------------------

  /** One equi-height histogram bin: [lo, hi] with the bin's distinct
    * count (the Spark/Hive ANALYZE histogram shape — heights are
    * implicit: rows/|bins| per bin by construction).
    */
  final case class HistBin(lo: Double, hi: Double, ndv: Long)

  /** dtype ∈ {integral, floating, string, other}: how min/max were
    * rendered and how the planner re-types them. `sketch` is the
    * base64 DataSketches HLL the NDV came from — stored because it is
    * MERGEABLE: an append commit folds the new batch's sketch into it
    * (see [[foldColumnStatsOnAppend]]) so the statistics advance WITH
    * the table instead of dying on the first post-ANALYZE insert.
    */
  final case class ColumnStatEntry(dtype: String, ndv: Long,
      nulls: Long, min: Option[String], max: Option[String],
      avgLen: Option[Long], maxLen: Option[Long],
      hist: Seq[HistBin] = Seq.empty,
      sketch: Option[String] = None,
      lenSum: Option[Long] = None)

  final case class TableColumnStats(version: Long, posVersion: Long,
      eqVersion: Long, rows: Long, exact: Boolean,
      cols: Map[String, ColumnStatEntry])

  private def columnStatsPath(rootP: Path): Path =
    rootP.resolve("_column_stats.json")

  /** Bumped after every stats publish for the given ROOT in this
    * JVM (analyze AND append folds). The file-id below is (mtime,
    * size) — two same-process stats writes landing in the same
    * millisecond with equal JSON length would otherwise be
    * indistinguishable to mtime-keyed memos; including this epoch in
    * the memo key makes every LOCAL write a guaranteed invalidation
    * (cross-process writes are still covered by the mtime/size
    * change). PER ROOT: a JVM-global counter would let one
    * continuously-ingesting table's folds invalidate every OTHER
    * table's memo entries on each append.
    */
  private val colStatsEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def epochKey(rootP: Path): String =
    rootP.toAbsolutePath.normalize.toString
  private[graft] def columnStatsEpoch(root: String): Long = {
    val v = colStatsEpochs.get(epochKey(Paths.get(root)))
    if (v == null) 0L else v.longValue
  }

  /** Identity of the persisted stats file (mtime millis, size) —
    * (0, 0) when absent. ANALYZE writes the file WITHOUT bumping any
    * manifest, so fingerprint-keyed caches must include this to see
    * a fresh ANALYZE on an unchanged table.
    */
  private[graft] def columnStatsFileId(root: String): (Long, Long) = {
    val p = columnStatsPath(Paths.get(root))
    try {
      if (!Files.exists(p)) (0L, 0L)
      else (Files.getLastModifiedTime(p).toMillis, Files.size(p))
    } catch { case _: Exception => (0L, 0L) } // racing replace
  }

  /** Current (main, pos-delete, eq-delete) version fingerprint — any
    * commit to any of the three moves it.
    */
  private[graft] def statsFingerprint(root: String)
      : (Long, Long, Long) = {
    val mainV = snapshotView(root).map(_.version).getOrElse(0L)
    val posV = readManifest(posDeletesRoot(root)).map(_.version)
      .getOrElse(0L)
    val eqV = readManifest(deletesRoot(root)).map(_.version)
      .getOrElse(0L)
    (mainV, posV, eqV)
  }

  /** One aggregate pass over the observable snapshot (plus two more
    * when `histogramBins` > 0: an approx-percentile pass for the
    * equi-height bin bounds, then a per-bin NDV pass — the same
    * two-extra-scan budget Spark's own ANALYZE ... FOR COLUMNS pays
    * with spark.sql.statistics.histogram.enabled); persists and
    * returns the stats. `exact` swaps HLL++ NDV for count(distinct).
    * Histograms cover numeric columns only and give CBO skew-aware
    * selectivity where the uniform min/max interpolation misleads.
    */
  def analyzeColumns(spark: SparkSession, root: String,
                     exact: Boolean = false,
                     histogramBins: Int = 0): TableColumnStats = {
    import org.apache.spark.sql.functions.{approx_count_distinct, avg, ceil, count, countDistinct, length, max => fmax, min => fmin, sum => fsum}
    val (mainV, posV, eqV) = statsFingerprint(root)
    require(mainV > 0L, s"$root has never committed — nothing to analyze")
    val df = spark.read.format("graft").load(root)
    val fields = df.schema.fields.toSeq
    import org.apache.spark.sql.types._
    def dtypeOf(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType | LongType => "integral"
      case FloatType | DoubleType => "floating"
      case StringType => "string"
      case _ => "other"
    }
    val slots = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)] // (field, kind)
    val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
    fields.foreach { f =>
      val c = col(s"`${f.name}`")
      def add(kind: String, e: Column): Unit = {
        slots += ((f.name, kind)); aggs += e
      }
      // map-typed columns are not usable in DISTINCT aggregation —
      // skip their NDV (recorded as -1 = not computed) instead of
      // failing the whole ANALYZE; null counts still work
      def hasMap(dt: DataType): Boolean = dt match {
        case _: MapType => true
        case s: StructType => s.fields.exists(x => hasMap(x.dataType))
        case a: ArrayType => hasMap(a.elementType)
        case _ => false
      }
      val hashable = !hasMap(f.dataType)
      if (hashable)
        add("ndv", if (exact) countDistinct(c)
                   else approx_count_distinct(c))
      // mergeable NDV sketch alongside the estimate — appends fold
      // into it (foldColumnStatsOnAppend); canonical injective cast
      // because DataSketches HLL takes int/long/string/binary only
      if (hashable) sketchCast(f.dataType, c).foreach(cc =>
        add("sk", org.apache.spark.sql.functions.hll_sketch_agg(cc)))
      add("nonnull", count(c))
      dtypeOf(f.dataType) match {
        case "integral" =>
          add("min", fmin(c).cast("long").cast("string"))
          add("max", fmax(c).cast("long").cast("string"))
        case "floating" =>
          add("min", fmin(c).cast("double").cast("string"))
          add("max", fmax(c).cast("double").cast("string"))
        case "string" =>
          add("min", fmin(c))
          add("max", fmax(c))
          add("avgLen", ceil(avg(length(c))).cast("long"))
          add("maxLen", fmax(length(c)).cast("long"))
          // exact length sum: the append fold refolds the average
          // from this losslessly (re-deriving it from the ceil'd
          // average would drift upward by ~1 byte per fold)
          add("lenSum", fsum(length(c)).cast("long"))
        case _ => ()
      }
    }
    val row = df.agg(count(lit(1)).as("__rows"),
      aggs.toSeq.zipWithIndex.map { case (e, i) => e.as(s"__s$i") }: _*)
      .head
    val total = row.getLong(0)
    val byField = slots.toSeq.zipWithIndex
      .map { case ((f, kind), i) => (f, kind) -> (i + 1) }.toMap
    def str(f: String, k: String): Option[String] =
      byField.get((f, k)).flatMap(i =>
        if (row.isNullAt(i)) None else Some(String.valueOf(row.get(i))))
    def lng(f: String, k: String): Option[Long] =
      byField.get((f, k)).flatMap(i =>
        if (row.isNullAt(i)) None else Some(row.getLong(i)))
    // equi-height histograms for numeric columns: bounds from one
    // approx_percentile pass, per-bin NDV from one more aggregate
    // (all columns × bins in a single job)
    val hists: Map[String, Seq[HistBin]] =
      if (histogramBins <= 0 || total == 0L) Map.empty
      else {
        import org.apache.spark.sql.functions.{approx_count_distinct, isnan}
        val numeric = fields.filter(f =>
          Set("integral", "floating")(dtypeOf(f.dataType)))
        if (numeric.isEmpty) Map.empty
        else {
          // NaN rows are EXCLUDED from the histogram (they compare
          // false against every bound, so leaving them in poisons the
          // top boundary and silently zeroes the last bin's ndv)
          def clean(n: String): Column = {
            val cd = col(s"`$n`").cast("double")
            when(isnan(cd), lit(null).cast("double")).otherwise(cd)
          }
          val pcts = (0 to histogramBins)
            .map(i => i.toDouble / histogramBins).mkString(",")
          def pctAgg(n: String): Column =
            expr(s"approx_percentile(" +
              s"nanvl(CAST(`$n` AS DOUBLE), NULL), " +
              s"array($pcts), 10000)")
          val bRow = df.agg(pctAgg(numeric.head.name).as("__b0"),
            numeric.tail.zipWithIndex.map { case (f, i) =>
              pctAgg(f.name).as(s"__b${i + 1}")
            }: _*).head
          val bounds: Map[String, Seq[Double]] =
            numeric.zipWithIndex.flatMap { case (f, i) =>
              if (bRow.isNullAt(i)) None
              else {
                val bs = bRow.getSeq[Double](i).toSeq
                // a non-finite bound (±Inf column values) would
                // round-trip into CBO — drop that column's histogram
                if (bs.exists(b => b.isNaN || b.isInfinite)) None
                else Some(f.name -> bs)
              }
            }.toMap
          if (bounds.isEmpty) Map.empty
          else {
            // Per-bin NDV is ALWAYS HLL++, even in exact mode: bin
            // ndv only feeds selectivity heuristics, and cols×bins
            // exact countDistincts in one aggregate rewrite into an
            // (cols×bins)-way Expand — a row amplification that
            // breaks the documented two-extra-scan budget
            val ordered = bounds.toSeq.sortBy(_._1)
            val nAggs = ordered.flatMap { case (n, bs) =>
              val cd = clean(n)
              (0 until histogramBins).map { i =>
                val cond =
                  if (i == 0) cd >= bs(0) && cd <= bs(1)
                  else cd > bs(i) && cd <= bs(i + 1)
                approx_count_distinct(when(cond, cd))
              }
            }
            val nRow = df.agg(nAggs.head.as("__h0"),
              nAggs.tail.zipWithIndex.map { case (e, i) =>
                e.as(s"__h${i + 1}") }: _*).head
            ordered.zipWithIndex.map { case ((n, bs), ci) =>
              n -> (0 until histogramBins).map { i =>
                val slot = ci * histogramBins + i
                HistBin(bs(i), bs(i + 1),
                  if (nRow.isNullAt(slot)) 0L else nRow.getLong(slot))
              }.toSeq
            }.toMap
          }
        }
      }
    val cols = fields.map { f =>
      f.name -> ColumnStatEntry(dtypeOf(f.dataType),
        lng(f.name, "ndv").getOrElse(-1L), // -1 = not computed
        total - lng(f.name, "nonnull").getOrElse(0L),
        str(f.name, "min"), str(f.name, "max"),
        lng(f.name, "avgLen"), lng(f.name, "maxLen"),
        hists.getOrElse(f.name, Seq.empty),
        byField.get((f.name, "sk")).flatMap(i =>
          if (row.isNullAt(i)) None
          else Some(java.util.Base64.getEncoder
            .encodeToString(row.getAs[Array[Byte]](i)))),
        lng(f.name, "lenSum"))
    }.toMap
    val stats = TableColumnStats(mainV, posV, eqV, total, exact, cols)
    writeColumnStatsFile(Paths.get(root), renderColumnStats(stats))
    stats
  }

  /** Canonical injective cast for the mergeable NDV sketch —
    * DataSketches HLL accepts int/long/string/binary only. None =
    * not sketchable (nested types); such columns keep their one-shot
    * NDV but lose it on fold (-1, absent — never a guess).
    */
  private def sketchCast(dt: org.apache.spark.sql.types.DataType,
                         c: Column): Option[Column] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(c.cast("long"))
      case StringType => Some(c)
      case BinaryType => Some(c)
      case FloatType | DoubleType | BooleanType | DateType |
          TimestampType | _: DecimalType => Some(c.cast("string"))
      case _ => None
    }
  }

  private def renderColumnStats(stats: TableColumnStats): String = {
    def opt(k: String, v: Option[String]): String =
      v.map(s => s""", "$k": "${escJson(s)}"""").getOrElse("")
    def optL(k: String, v: Option[Long]): String =
      v.map(n => s""", "$k": $n""").getOrElse("")
    val colBody = stats.cols.toSeq.sortBy(_._1).map { case (n, c) =>
      val histS =
        if (c.hist.isEmpty) ""
        else s""", "hist": "${c.hist
          .map(b => s"${b.lo}:${b.hi}:${b.ndv}").mkString("|")}""""
      // base64 is quote/backslash-free — safe inside the regex parser
      val skS = c.sketch.map(s => s""", "sketch": "$s"""").getOrElse("")
      s""""${escJson(n)}": {"dtype": "${c.dtype}", "ndv": ${c.ndv}""" +
        s""", "nulls": ${c.nulls}""" + opt("min", c.min) +
        opt("max", c.max) + optL("avgLen", c.avgLen) +
        optL("maxLen", c.maxLen) + optL("lenSum", c.lenSum) +
        histS + skS + "}"
    }.mkString(", ")
    s"""{"version": ${stats.version}, """ +
      s""""posVersion": ${stats.posVersion}, """ +
      s""""eqVersion": ${stats.eqVersion}, "rows": ${stats.rows}, """ +
      s""""exact": ${stats.exact}, "cols": {$colBody}}"""
  }

  private def writeColumnStatsFile(rootP: Path, body: String): Unit = {
    // a fold racing a fresh ANALYZE: the last publish wins, and the
    // loser's stamp simply reads stale
    TableFs.publishFile(columnStatsPath(rootP), body)
    colStatsEpochs.compute(epochKey(rootP),
      (_, v) => java.lang.Long.valueOf(if (v == null) 1L else v + 1L))
    ()
  }

  /** Fold an APPENDED batch into the persisted column statistics so
    * they survive the commit instead of degrading to absent — the
    * continuously-ingesting table (daily-batch pattern) keeps a live
    * CBO without re-scanning. Sound because append-only deltas
    * compose exactly: rows/nulls add, min/max widen, NDV is the
    * estimate of the UNION of mergeable HLL sketches, string avgLen
    * refolds from the recorded means. Histograms do NOT compose —
    * they are dropped (absent, never wrong); `exact` flips to false
    * (the folded NDV is a sketch estimate). Any non-append commit
    * (upsert, delete, rewrite, vacuum) still invalidates by
    * fingerprint — deletes can shrink true NDV/min/max in ways no
    * stored summary can follow.
    *
    * Guard: folds ONLY when the stats were stamped at exactly the
    * main version this append superseded AND the delete-sub-table
    * versions are untouched — any interleaved commit (the CAS pins
    * `preMainV` as the true predecessor) leaves the stats stale →
    * absent, the pre-r16 behavior. Cost: one aggregate pass over the
    * BATCH (never the table), only when fresh stats exist.
    * Best-effort: a failure here leaves the old file, whose stale
    * fingerprint reads as absent.
    */
  private[graft] def foldColumnStatsOnAppend(spark: SparkSession,
      root: String, batch: DataFrame, preMainV: Long,
      newMainV: Long): Unit = try {
    if (preMainV == newMainV) return
    val cs = readColumnStats(root).getOrElse(return)
    val fpNow = statsFingerprint(root)
    if (cs.version != preMainV || fpNow._1 != newMainV ||
        cs.posVersion != fpNow._2 || cs.eqVersion != fpNow._3) return
    import org.apache.spark.sql.functions.{avg, count, hll_sketch_agg, length, lit, max => fmax, min => fmin, sum}
    val bTypes: Map[String, org.apache.spark.sql.types.StructField] =
      batch.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val slots = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
    cs.cols.foreach { case (name, e) =>
      bTypes.get(name.toLowerCase).foreach { bf =>
        val c = col(s"`${bf.name}`")
        def add(kind: String, expr: Column): Unit = {
          slots += ((name, kind)); aggs += expr
        }
        add("nonnull", count(c))
        e.dtype match {
          case "integral" =>
            add("min", fmin(c).cast("long").cast("string"))
            add("max", fmax(c).cast("long").cast("string"))
          case "floating" =>
            add("min", fmin(c).cast("double").cast("string"))
            add("max", fmax(c).cast("double").cast("string"))
          case "string" =>
            add("min", fmin(c))
            add("max", fmax(c))
            add("sumLen", sum(length(c)).cast("long"))
            add("maxLen", fmax(length(c)).cast("long"))
          case _ => ()
        }
        if (e.sketch.isDefined)
          sketchCast(bf.dataType, c).foreach(cc =>
            add("sk", hll_sketch_agg(cc)))
      }
    }
    val row = batch.agg(count(lit(1)).as("__rows"),
      aggs.toSeq.zipWithIndex.map { case (e, i) => e.as(s"__s$i") }: _*)
      .head
    val n = row.getLong(0)
    if (n == 0L) return // nothing appended — stats already current
    val byField = slots.toSeq.zipWithIndex
      .map { case ((f, k), i) => (f, k) -> (i + 1) }.toMap
    def slot(f: String, k: String): Option[Int] = byField.get((f, k))
    def str(f: String, k: String): Option[String] =
      slot(f, k).flatMap(i =>
        if (row.isNullAt(i)) None else Some(String.valueOf(row.get(i))))
    def lng(f: String, k: String): Option[Long] =
      slot(f, k).flatMap(i =>
        if (row.isNullAt(i)) None else Some(row.getLong(i)))
    // all sketch unions + estimates in ONE tiny driver-side job
    val toUnion = cs.cols.toSeq.sortBy(_._1).flatMap { case (name, e) =>
      for {
        old <- e.sketch
        i <- slot(name, "sk") if !row.isNullAt(i)
      } yield (name, java.util.Base64.getDecoder.decode(old),
        row.getAs[Array[Byte]](i))
    }
    val unioned: Map[String, (String, Long)] =
      if (toUnion.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{hll_sketch_estimate, hll_union}
        val exprs = toUnion.flatMap { case (name, a, b) =>
          val u = hll_union(lit(a), lit(b),
            allowDifferentLgConfigK = true)
          Seq(u.as(s"u_$name"), hll_sketch_estimate(u).as(s"e_$name"))
        }
        val r = spark.range(1).select(exprs: _*).head
        toUnion.zipWithIndex.map { case ((name, _, _), i) =>
          name -> (java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]](2 * i)),
            r.getLong(2 * i + 1))
        }.toMap
      }
    def mergeBound(dtype: String, a: Option[String], b: Option[String],
                   wantMin: Boolean): Option[String] = (a, b) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(x), Some(y)) =>
        val aSmaller = dtype match {
          case "integral" => x.toLong <= y.toLong
          case "floating" => x.toDouble <= y.toDouble
          case _ =>
            // UTF-8 byte order, matching Spark's UTF8String binary
            // min/max — Java String ordering compares UTF-16 units
            // and disagrees above the BMP (supplementary chars sort
            // ABOVE U+E000..U+FFFF in bytes but below in UTF-16)
            java.util.Arrays.compareUnsigned(
              x.getBytes(StandardCharsets.UTF_8),
              y.getBytes(StandardCharsets.UTF_8)) <= 0
        }
        Some(if (aSmaller == wantMin) x else y)
    }
    val newCols = cs.cols.map { case (name, e) =>
      val inBatch = bTypes.contains(name.toLowerCase)
      val nonNullB = if (inBatch) lng(name, "nonnull").getOrElse(0L)
                     else 0L
      val oldNonNull = cs.rows - e.nulls
      val (avgLen2, lenSum2) = e.dtype match {
        case "string" if oldNonNull + nonNullB > 0 =>
          // exact stored sum when available (lossless across any
          // number of folds); the ceil'd average only as a legacy
          // fallback for pre-lenSum stats files
          val sumOld = e.lenSum.getOrElse(
            e.avgLen.getOrElse(0L) * oldNonNull)
          val sumB = lng(name, "sumLen").getOrElse(0L)
          val total2 = oldNonNull + nonNullB
          (Some((sumOld + sumB + total2 - 1) / total2),
            Some(sumOld + sumB))
        case _ => (e.avgLen, e.lenSum)
      }
      name -> e.copy(
        // no fresh values → NDV stands; fresh values without a
        // mergeable sketch pair → -1 (absent, never a guess)
        ndv = unioned.get(name).map(_._2).getOrElse(
          if (nonNullB == 0L) e.ndv else -1L),
        nulls = e.nulls + (n - nonNullB),
        min = mergeBound(e.dtype, e.min, str(name, "min"),
          wantMin = true),
        max = mergeBound(e.dtype, e.max, str(name, "max"),
          wantMin = false),
        avgLen = avgLen2,
        lenSum = lenSum2,
        maxLen = Seq(e.maxLen, lng(name, "maxLen")).flatten
          .reduceOption(_ max _),
        hist = Seq.empty, // equi-height bins do not compose
        sketch = unioned.get(name).map(_._1).orElse(
          if (nonNullB == 0L) e.sketch else None))
    }
    val folded = TableColumnStats(newMainV, cs.posVersion,
      cs.eqVersion, cs.rows + n, exact = false, newCols)
    writeColumnStatsFile(Paths.get(root), renderColumnStats(folded))
  } catch { // best-effort: the stale file reads as absent, never wrong
    case e: Exception =>
      System.err.println(s"[graft] column-stats fold skipped: $e")
  }

  /** Parse `_column_stats.json`; None when never analyzed. Callers
    * must check the fingerprint before trusting the content.
    */
  def readColumnStats(root: String): Option[TableColumnStats] = {
    val p = columnStatsPath(Paths.get(root))
    if (!Files.exists(p)) return None
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    def long1(k: String): Option[Long] =
      (s""""$k"\\s*:\\s*(-?\\d+)""").r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
    val colRe =
      ("""\"((?:[^"\\]|\\.)+)\":\s*\{\"dtype\":\s*\"(\w+)\",\s*""" +
        """\"ndv\":\s*(-?\d+),\s*\"nulls\":\s*(-?\d+)""" +
        """(?:,\s*\"min\":\s*\"((?:[^"\\]|\\.)*)\")?""" +
        """(?:,\s*\"max\":\s*\"((?:[^"\\]|\\.)*)\")?""" +
        """(?:,\s*\"avgLen\":\s*(-?\d+))?""" +
        """(?:,\s*\"maxLen\":\s*(-?\d+))?""" +
        """(?:,\s*\"lenSum\":\s*(-?\d+))?""" +
        """(?:,\s*\"hist\":\s*\"([^"]*)\")?""" +
        """(?:,\s*\"sketch\":\s*\"([^"]*)\")?\}""").r
    def parseHist(s: String): Seq[HistBin] =
      s.split('|').toSeq.filter(_.nonEmpty).flatMap { b =>
        b.split(':') match {
          case Array(lo, hi, n) =>
            try Some(HistBin(lo.toDouble, hi.toDouble, n.toLong))
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }
    try {
      // scan only INSIDE the "cols" object — a name-based guard would
      // silently drop user columns literally named "version"/"cols"
      val colsAt = txt.indexOf(""""cols": {""")
      val colsTxt = if (colsAt < 0) "" else txt.substring(colsAt)
      val cols = colRe.findAllMatchIn(colsTxt).map { m =>
        unescJson(m.group(1)) -> ColumnStatEntry(m.group(2),
          m.group(3).toLong, m.group(4).toLong,
          Option(m.group(5)).map(unescJson),
          Option(m.group(6)).map(unescJson),
          Option(m.group(7)).map(_.toLong),
          Option(m.group(8)).map(_.toLong),
          Option(m.group(10)).map(parseHist).getOrElse(Seq.empty),
          Option(m.group(11)),
          Option(m.group(9)).map(_.toLong))
      }.toMap
      for {
        v <- long1("version"); pv <- long1("posVersion")
        ev <- long1("eqVersion"); rows <- long1("rows")
      } yield TableColumnStats(v, pv, ev, rows,
        txt.contains(""""exact": true"""), cols)
    } catch { case _: Exception => None } // malformed: never analyzed
  }
}
