package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.{TableFs, VersionedTable}

/** PERSISTED MinHash-LSH near-duplicate index — the maintenance shape
  * [[Dedup.incrementalNearDups]] describes, with the corpus side
  * actually stored instead of recomputed per ingest. At 100 TB this is
  * the difference between per-ingest work that scales with the BATCH
  * and every ingest being a corpus-sized MinHash job (the round-7
  * verdict's one scale finding).
  *
  * Layout (two epoch-partitioned [[VersionedTable]]s under one root):
  *
  * {{{
  *   root/_params.json   {"shingleSize":3,"numHashes":64,"bands":16}
  *   root/bands/...      (epoch, id, band, h)      — `bands` rows/doc
  *   root/grams/...      (epoch, id, g, n_sh)      — shingle postings
  * }}}
  *
  *  - `bands` is the probe target: an arriving batch computes ITS
  *    signatures only and equi-joins (band, h) against the stored
  *    rows — candidate volume scales with the batch's collision count.
  *  - `grams` makes exact-Jaccard verification a JOIN against stored
  *    postings (semi-join-filtered to the candidate ids, which are
  *    batch-collision-bounded and broadcastable) — no corpus shingle
  *    recompute, no signature recompute, no window functions on the
  *    corpus side. Storage is one row per distinct (doc, shingle):
  *    the same order of magnitude as the corpus text itself, the
  *    standard price of an inverted index.
  *  - Appends are one new `epoch` partition: [[VersionedTable]]'s
  *    partitioned manifest writes ONLY the touched partition and flips
  *    its pointer atomically, so ingest IO is O(batch) and concurrent
  *    readers always see a complete snapshot. A doc lives in exactly
  *    one epoch, so per-epoch `n_sh` counts stay globally correct.
  *
  * Epochs are content-addressed by the caller (ingest id, landing
  * date); re-ingesting an epoch replaces its rows key-wise, and
  * [[probe]] excludes the batch's own ids from the corpus side, so
  * crash-retry of an ingest is idempotent.
  *
  * CROSS-TABLE READ CONSISTENCY: `bands` and `grams` are two tables
  * with two manifests, committed sequentially by [[ingest]] — on
  * their own they would give a concurrent UNSCOPED probe a
  * read-committed view (an epoch's bands visible before its grams).
  * So the index keeps ONE cross-table snapshot file,
  * `root/_snapshot.json`, holding BOTH tables' full manifests and
  * flipped by a single atomic move AFTER both commits land. [[probe]]
  * reads through the snapshot: it observes either a (bands, grams)
  * pair that was committed together or the previous such pair — never
  * bands without their grams. Epoch-scoped probes get the same
  * snapshot plus partition pruning. (The bands manifest is captured
  * BEFORE the grams manifest when writing the snapshot, so even under
  * a racing ingest every epoch present in the snapshot's bands has
  * its grams; grams-without-bands is harmless — postings alone
  * produce no candidates.)
  */
object NearDupIndex {

  final case class Params(shingleSize: Int = 3, numHashes: Int = 64,
                          bands: Int = 16) {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    def json: String =
      s"""{"shingleSize": $shingleSize, "numHashes": $numHashes, """ +
        s""""bands": $bands}"""
  }

  private def bandsRoot(root: String): String = s"$root/bands"
  private def gramsRoot(root: String): String = s"$root/grams"
  private def snapshotPath(root: String) =
    Paths.get(root, "_snapshot.json")

  /** Atomically publish the CURRENT pair of table manifests as the
    * index's read snapshot (two lines: bands manifest, grams
    * manifest). Bands is captured first — see the class doc's
    * consistency argument.
    */
  private def publishSnapshot(root: String): Unit = {
    val b = VersionedTable.readPartitionedManifest(bandsRoot(root))
      .getOrElse(sys.error(s"publishSnapshot before bands commit at $root"))
    val g = VersionedTable.readPartitionedManifest(gramsRoot(root))
      .getOrElse(sys.error(s"publishSnapshot before grams commit at $root"))
    TableFs.publishFile(snapshotPath(root),
      VersionedTable.renderPartitionedManifest(b) + "\n" +
        VersionedTable.renderPartitionedManifest(g))
  }

  /** The snapshot's (bands, grams) manifest pair. Falls back to the
    * live per-table manifests for pre-snapshot index dirs (strictly
    * weaker read-committed view, same data).
    */
  private def readSnapshot(root: String)
  : (VersionedTable.PartitionedManifest,
     VersionedTable.PartitionedManifest) = {
    val p = snapshotPath(root)
    if (Files.exists(p)) {
      val lines = new String(Files.readAllBytes(p),
        StandardCharsets.UTF_8).split("\n")
      require(lines.length == 2, s"malformed $p")
      val b = VersionedTable.parsePartitionedManifest(lines(0))
        .getOrElse(sys.error(s"unparseable bands manifest in $p"))
      val g = VersionedTable.parsePartitionedManifest(lines(1))
        .getOrElse(sys.error(s"unparseable grams manifest in $p"))
      (b, g)
    } else {
      val b = VersionedTable.readPartitionedManifest(bandsRoot(root))
        .getOrElse(sys.error(s"no committed index under $root"))
      val g = VersionedTable.readPartitionedManifest(gramsRoot(root))
        .getOrElse(sys.error(s"no committed index under $root"))
      (b, g)
    }
  }

  /** Both tables committed (params alone — e.g. a crash between the
    * two commits — is not "built"; [[ingest]] of the same epoch
    * recovers idempotently).
    */
  def exists(root: String): Boolean =
    VersionedTable.readPartitionedManifest(gramsRoot(root)).isDefined &&
      VersionedTable.readPartitionedManifest(bandsRoot(root)).isDefined

  def readParams(root: String): Params = {
    val p = Paths.get(root, "_params.json")
    require(Files.exists(p), s"no _params.json under $root — never built")
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    def f(k: String): Int =
      ("\"" + k + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(s)
        .getOrElse(sys.error(s"missing $k in $root/_params.json"))
        .group(1).toInt
    Params(f("shingleSize"), f("numHashes"), f("bands"))
  }

  /** (id, band, h) band rows from (id, g, n_sh) shingle rows. */
  private def bandRows(grams: DataFrame, p: Params): DataFrame =
    Dedup.minhashSignatures(grams, p.numHashes)
      .select(col("id"),
        explode(Dedup.bandHashes(col("sig"), p.bands,
          p.numHashes / p.bands)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h"))

  /** Add (or replace) one epoch of documents: compute THIS batch's
    * shingles + signatures and commit them as the epoch's partition of
    * both tables — per-ingest work scales with the batch, never the
    * corpus. Id spaces must be disjoint across epochs (keyed-index
    * contract).
    *
    * Redelivery-safe: each committed epoch records a content
    * fingerprint (count + id/text hash-sum), and an ingest whose batch
    * matches it is a NO-OP — one cheap aggregate instead of a
    * signature recompute + table commit. That makes at-least-once
    * landing pipelines (a redelivered file, a crash-retried job)
    * idempotent at the cost of a scan of the BATCH, never the index.
    * The fingerprint is written only after BOTH tables commit, so a
    * crash between them leaves no fingerprint and the retry redoes
    * both (epoch upserts are replace-by-key, hence safe to redo).
    */
  def ingest(spark: SparkSession, root: String, docs: DataFrame,
             textCol: String, idCol: String, epoch: String,
             params: Params = Params()): Unit = {
    val pp = Paths.get(root, "_params.json")
    if (Files.exists(pp)) {
      val stored = readParams(root)
      require(stored == params,
        s"index at $root was built with $stored, ingest asked $params")
    } else {
      Files.createDirectories(Paths.get(root))
      Files.write(pp, params.json.getBytes(StandardCharsets.UTF_8))
    }
    val fp = fingerprint(docs, textCol, idCol)
    val fpPath = Paths.get(root, "_epochs", s"$epoch.json")
    if (Files.exists(fpPath) &&
      new String(Files.readAllBytes(fpPath), StandardCharsets.UTF_8) == fp &&
      exists(root)) return
    val grams = Dedup
      .shingleRows(docs, textCol, idCol, params.shingleSize)
      .localCheckpoint(true) // shingles feed both tables — compute once
    val epochLit = lit(epoch).as("epoch")
    // keepVersions = 4: a snapshot-pinned probe stays valid across
    // THREE further ingests (see probe's snapshot-lifetime contract),
    // at the cost of a few extra epoch dirs on disk
    VersionedTable.upsert(spark, gramsRoot(root),
      grams.select(epochLit, col("id"), col("g"), col("n_sh")),
      keys = Seq("epoch", "id", "g"), partitionBy = Seq("epoch"),
      keepVersions = 4)
    VersionedTable.upsert(spark, bandsRoot(root),
      bandRows(grams, params)
        .select(epochLit, col("id"), col("band"), col("h")),
      keys = Seq("epoch", "id", "band"), partitionBy = Seq("epoch"),
      keepVersions = 4)
    publishSnapshot(root)
    Files.createDirectories(fpPath.getParent)
    Files.write(fpPath, fp.getBytes(StandardCharsets.UTF_8))
  }

  /** One-aggregate content fingerprint of (id, text): order-free
    * (hash-SUM), so any plan producing the same rows fingerprints
    * equal.
    */
  private def fingerprint(docs: DataFrame, textCol: String,
                          idCol: String): String = {
    val r = docs
      .agg(count(lit(1)).as("n"),
        sum(xxhash64(col(idCol).cast("string"), col(textCol))).as("h"))
      .head()
    s"""{"n": ${r.getLong(0)}, "h": ${if (r.isNullAt(1)) 0L else r.getLong(1)}}"""
  }

  /** Near-dup pairs between a BATCH and the indexed corpus:
    * (corpus_id, batch_id, jaccard) with jaccard ≥ threshold, exact-
    * verified. The corpus side is purely STORED data — batch bands
    * probe the band table, and verification joins stored postings
    * (semi-joined down to candidate ids first). Ids already present in
    * the index that also appear in the batch are excluded from the
    * corpus side, so probing after [[ingest]] of the same batch (crash
    * retry, or an [[ingestAndProbe]] re-run) returns the same pairs.
    *
    * `epochs` restricts the corpus side to the named epochs (the
    * partition column — Spark prunes the untouched partition dirs at
    * planning): "probe against the index AS OF ingest j" replayed
    * deterministically regardless of what was appended later. None =
    * the whole live index.
    *
    * Snapshot lifetime contract: the returned plan is pinned to the
    * snapshot resolved HERE, which stays readable while its version
    * dirs survive the tables' retention — [[ingest]] commits with
    * `keepVersions = 4`, so the pinned snapshot survives THREE
    * further ingests. Materialize within that window (every engine
    * call site materializes within the ingest step —
    * [[ingestAndProbe]] checkpoints before appending); a probe held
    * lazily past it fails file-not-found at execution, and re-calling
    * probe resolves a fresh snapshot.
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame,
            textCol: String, idCol: String,
            threshold: Double = 0.7,
            epochs: Option[Seq[String]] = None): DataFrame = {
    require(exists(root), s"no committed index under $root")
    val p = readParams(root)
    // ONE atomically-published (bands, grams) manifest pair for the
    // whole probe — never bands of an epoch without its grams, even
    // against a racing ingest (class-doc consistency argument).
    val (bandsM, gramsM) = readSnapshot(root)
    def scoped(df: DataFrame): DataFrame =
      epochs.map(es => df.filter(col("epoch").isInCollection(es)))
        .getOrElse(df)
    // batch-sized, used three times (bands, id exclusion, verify):
    // evaluate once — and materialize the batch's signature work too,
    // so the probe plan proper contains NO MinHash computation at all
    // (corpus side reads stored files, batch side reads checkpoints;
    // PlanSpec-style asserts pin this shape)
    val batchGrams = Dedup
      .shingleRows(batch, textCol, idCol, p.shingleSize)
      .localCheckpoint(true)
    val batchBands = bandRows(batchGrams, p).localCheckpoint(true)
    val batchIds = batchGrams.select("id").distinct()

    val idxBands = scoped(VersionedTable
        .readPartitionedSnapshot(spark, bandsRoot(root), bandsM))
      .join(batchIds, Seq("id"), "left_anti")
    val candidates = idxBands.alias("l")
      .join(batchBands.alias("r"), Seq("band", "h"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()

    // stored postings of the TOUCHED corpus ids only — the candidate
    // id set is batch-collision-bounded, so AQE broadcasts the semi
    // join and the grams scan never feeds a corpus-sized shuffle
    val corpusGrams = scoped(VersionedTable
        .readPartitionedSnapshot(spark, gramsRoot(root), gramsM))
      .select(col("id"), col("g"), col("n_sh"))
      .join(candidates.select(col("id_a").as("id")).distinct(),
        Seq("id"), "left_semi")
    Dedup.verifyJaccard(candidates,
      corpusGrams.unionByName(batchGrams), threshold)
  }

  /** The full maintenance step: probe (against the index as of NOW),
    * then append the batch as `epoch` — the returned pairs are
    * materialized BEFORE the append so they cannot observe it.
    */
  def ingestAndProbe(spark: SparkSession, root: String, batch: DataFrame,
                     textCol: String, idCol: String, epoch: String,
                     threshold: Double = 0.7): DataFrame = {
    val pairs =
      probe(spark, root, batch, textCol, idCol, threshold)
        .localCheckpoint(true)
    ingest(spark, root, batch, textCol, idCol, epoch, readParams(root))
    pairs
  }

  /** Session/host-cached ensure: derive a content-addressed root from
    * (cacheKey, params, a one-pass corpus fingerprint) under the JVM
    * temp dir and build epoch "base" there unless already committed —
    * so repeated runs (and fresh JVMs over unchanged data) skip the
    * corpus-sized build and pay only the fingerprint scan. A changed
    * corpus changes the fingerprint and lands in a fresh root; stale
    * roots are garbage, never wrong answers.
    */
  def ensureBuilt(spark: SparkSession, corpus: DataFrame, textCol: String,
                  idCol: String, cacheKey: String,
                  params: Params = Params()): String = {
    val fp = fingerprint(corpus, textCol, idCol)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$cacheKey|$params|$fp".getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val root = Paths.get(sys.props("java.io.tmpdir"),
      "graft-neardup-index", key).toString
    if (!exists(root))
      ingest(spark, root, corpus, textCol, idCol, "base", params)
    root
  }

  // (cacheKey, params) → lazily-built root for [[ensureBuiltCached]].
  // The map holds a thunk, not the result: computeIfAbsent must stay
  // O(1) under the bin lock (the build is multi-job Spark work — doing
  // it inside computeIfAbsent would block unrelated keys sharing the
  // bin and deadlock any re-entrant lookup, per the CHM contract). The
  // lazy val inside the thunk serializes the actual build on its own
  // monitor, outside the map.
  private val builtRoots =
    new java.util.concurrent.ConcurrentHashMap[String, () => String]()

  /** [[ensureBuilt]] with the fingerprint scan memoized per JVM: the
    * caller PROMISES cacheKey fully identifies the corpus content for
    * the session (the dataset-dir-scoped keys every engine query
    * uses). Same trust model as the session-memoized pair-graph
    * family (Dedup.minhashNearDupsCached): testdata files are
    * immutable for the session; out-of-band mutation under an
    * unchanged key is out of contract — use [[ensureBuilt]] when the
    * corpus can change under a stable key (it re-fingerprints every
    * call and content-addresses the root).
    */
  def ensureBuiltCached(spark: SparkSession, corpus: DataFrame,
                        textCol: String, idCol: String, cacheKey: String,
                        params: Params = Params()): String = {
    val holder = builtRoots.computeIfAbsent(s"$cacheKey|$params", _ => {
      lazy val root =
        ensureBuilt(spark, corpus, textCol, idCol, cacheKey, params)
      () => root
    })
    holder()
  }
}
