package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.functions.TextFunctions

/** User-facing facade — the "switch to this library" surface. A user
  * of the reference pipeline maps their workflow 1:1:
  *
  *   - raw JSON payload responses → `flattenWeather` (transform stage)
  *   - quality gate → `qualityCheck` (fail-fast report)
  *   - `ON CONFLICT DO UPDATE` load → `upsert`
  *   - dbt star models + tests → `models.StarModels`
  *   - the whole daily DAG → `runner.PipelineRunner.run`
  *   - incremental successor → `streaming.IncrementalStaging.runOnce`
  *
  * plus the training-data operators (dedup / similarity / text /
  * multimodal) this engine adds.
  */
object Graft {

  def session(appName: String = "graft"): SparkSession =
    core.GraftSession.build(appName)

  // ------------- reference-parity pipeline stages -------------
  def flattenWeather(raw: DataFrame, batchId: String): DataFrame =
    Cleaning.clean(Flatten.flattenResponses(raw, batchId))

  def qualityCheck(staged: DataFrame, batchId: String): Quality.QualityReport =
    Quality.checkWeather(staged, batchId)

  def upsert(spark: SparkSession, targetPath: String, updates: DataFrame,
             keys: Seq[String], partitionColumns: Seq[String] = Nil): Unit =
    sinks.MergeWriter.merge(spark, targetPath, updates, keys, partitionColumns)

  // ------------- dedup family -------------
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.exact(df, textCol, idCol)

  /** Near-dup pairs → connected components → corpus minus non-canonical
    * members: the end-to-end fuzzy-dedup most pipelines want.
    */
  def dedupFuzzy(df: DataFrame, textCol: String, idCol: String,
                 threshold: Double = 0.7): DataFrame = {
    val pairs = Dedup.minhashNearDups(df, textCol, idCol,
      threshold = threshold)
    Components.dedupCorpus(df, idCol, pairs)
  }

  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.7): DataFrame =
    Dedup.minhashNearDups(df, textCol, idCol, threshold = threshold)

  // ------------- similarity search -------------
  def knnExact(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    Similarity.bruteForceTopK(corpus, queries, k)

  def knnApprox(corpus: DataFrame, queries: DataFrame, k: Int,
                nLists: Int = 16, nProbe: Int = 4): DataFrame =
    Similarity.ivfTopK(corpus, queries, k, nLists, nProbe)

  // ------------- text analysis -------------
  def withTextQuality(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("quality_score",
        TextFunctions.qualityScore(org.apache.spark.sql.functions.col(textCol)))
      .withColumn("quality_signals",
        TextFunctions.qualitySignals(org.apache.spark.sql.functions.col(textCol)))

  /** Left join: docs with no tokens (empty/whitespace text) are kept
    * and tagged 'und', not silently dropped.
    */
  def withLanguage(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.join(TextFunctions.langIdByDoc(df, textCol, idCol), Seq(idCol), "left")
      .withColumn("detected_lang",
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col("detected_lang"),
          org.apache.spark.sql.functions.lit("und")))

  // ------------- temporal joins -------------
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
               leftTs: String, rightTs: String,
               rightCols: Seq[String]): DataFrame =
    AsOfJoin.backward(left, right, keyCol, leftTs, rightTs, rightCols)

  def intervalJoin(left: DataFrame, right: DataFrame, leftTs: String,
                   rightTs: String, loSec: Long, hiSec: Long): DataFrame =
    RangeJoin.timeRange(left, right, leftTs, rightTs, loSec, hiSec)

  // ------------- training-corpus construction -------------
  /** Reproducible weighted corpus selection (same salt ⇒ same rows). */
  def sampleWeighted(df: DataFrame, groupCol: String, idCol: String,
                     weightCol: String, k: Int,
                     salt: String = "epoch0"): DataFrame =
    WeightedSample.topKPerGroup(df, groupCol, idCol, weightCol, k, salt)

  /** Context-window packing plan (concatenate-then-chunk, per shard). */
  def packSequences(df: DataFrame, shardCol: String, idCol: String,
                    nTokCol: String, budget: Int): DataFrame =
    SequencePack.pack(df, shardCol, idCol, nTokCol, budget)

  /** Overlapping retrieval-chunk plan. */
  def chunkDocs(df: DataFrame, idCol: String, nTokCol: String,
                chunkSize: Int, overlap: Int): DataFrame =
    SequencePack.slidingChunks(df, idCol, nTokCol, chunkSize, overlap)

  /** Learn a BPE merge list from the corpus. */
  def learnBpe(docs: DataFrame, textCol: String, numMerges: Int): DataFrame =
    BpeVocab.learnMerges(docs, textCol, numMerges)

  /** Duplicate-n-gram (boilerplate) score per doc. */
  def repetitionScore(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 3): DataFrame =
    TextFunctions.repetitionScore(df, textCol, idCol, n)

  /** Corpus-trained bigram-LM perplexity per doc. */
  def perplexity(df: DataFrame, textCol: String, idCol: String): DataFrame =
    TextFunctions.bigramPerplexity(df, textCol, idCol)

  /** Per-source corpus mixing (composition ratios). */
  def mixSources(df: DataFrame, idCol: String, sourceCol: String,
                 rates: Map[String, Double],
                 defaultRate: Double = 1.0): DataFrame =
    WeightedSample.mixSources(df, idCol, sourceCol, rates, defaultRate)

  /** Stable hash-based train/val/test assignment. */
  def splitCorpus(df: DataFrame, idCol: String, trainPct: Int = 90,
                  valPct: Int = 5, salt: String = "epoch0"): DataFrame =
    WeightedSample.splitAssign(df, idCol, trainPct, valPct, salt)

  /** int8 quantization reconstruction-error report. */
  def quantizationError(df: DataFrame, vecCol: String,
                        idCol: String): DataFrame =
    graft.functions.VectorFunctions.quantizeInt8Error(df, vecCol, idCol)

  // ------------- layout & scan efficiency -------------
  /** One-pass column profile (nulls / distincts / min / max). */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame =
    Profiling.profile(df, columns)

  /** Membership-pruned join: cut the big side's shuffle to keys that
    * can match the (selective) small side. Result ≡ the plain join.
    */
  def joinPruned(big: DataFrame, small: DataFrame,
                 bigKey: String, smallKey: String): DataFrame =
    BloomJoin.prunedJoin(big, small, bigKey, smallKey)

  /** Z-order layout rewrite for two-column min/max pruning. */
  def zorderCluster(df: DataFrame, x: org.apache.spark.sql.Column,
                    y: org.apache.spark.sql.Column,
                    partitions: Int): DataFrame =
    ZOrder.clusterBy(df, x, y, partitions)

  /** JL random projection to `outDims` micro-unit components —
    * map-only, exact, content-addressed signs (native codegen expr).
    */
  def randomProject(df: DataFrame, embCol: String, idCol: String,
                    inDims: Int = 64, outDims: Int = 16): DataFrame =
    operators.Projection.randomProject(df, embCol, idCol, inDims, outDims)

  /** Batch-over-batch structural drift report (cardinality / null /
    * range per column).
    */
  def driftReport(batchA: DataFrame, batchB: DataFrame,
                  columns: Seq[String]): DataFrame =
    operators.Profiling.driftReport(batchA, batchB, columns)

  /** Keyed upsert committed through manifest indirection: concurrent
    * readers always see a complete snapshot (the parquet-native
    * alternative to [[upsert]]'s dir swap when readers overlap
    * writers). Either table form: `partitionBy` shapes the first
    * commit (Nil = flat); later commits follow the table's manifest —
    * see [[sinks.VersionedTable.upsert]]. Read it back with
    * [[readTable]] / [[readTableVersion]].
    */
  def versionedUpsert(spark: org.apache.spark.sql.SparkSession,
                      root: String, updates: DataFrame,
                      keys: Seq[String],
                      partitionBy: Seq[String] = Nil): Long =
    sinks.VersionedTable.upsert(spark, root, updates, keys, partitionBy)

  /** Keyed added/removed/changed/same diff of two retained versions —
    * see [[sinks.VersionedTable.diffVersions]].
    */
  def diffVersions(spark: org.apache.spark.sql.SparkSession,
                   root: String, v1: Long, v2: Long,
                   keys: Seq[String]): DataFrame =
    sinks.VersionedTable.diffVersions(spark, root, v1, v2, keys)

  /** Row-level delete BY POSITION (zero rewrite; Iceberg v2's second
    * delete flavor), either table form — see
    * [[sinks.VersionedTable.softDeletePos]].
    */
  def softDeleteByPosition(spark: SparkSession, root: String,
                           predicate: org.apache.spark.sql.Column): Long =
    sinks.VersionedTable.softDeletePos(spark, root, predicate)

  /** Fold position deletes, rewriting ONLY delete-carrying files
    * (flat) or partitions (partitioned) — returns (version, files or
    * partitions rewritten).
    */
  def vacuumPositionDeletes(spark: SparkSession,
                            root: String): (Long, Int) =
    sinks.VersionedTable.vacuumPosDeletes(spark, root)

  /** Bin-pack the live snapshot into `numFiles` files (new commit,
    * delete masks preserved) — see [[sinks.VersionedTable.compact]].
    */
  def compactTable(spark: SparkSession, root: String,
                   numFiles: Int): Long =
    sinks.VersionedTable.compact(spark, root, numFiles)

  /** Sort-clustered compaction: disjoint per-file key ranges so
    * footer stats prune narrow predicates.
    */
  def compactTableSorted(spark: SparkSession, root: String,
                         sortCols: Seq[String], numFiles: Int): Long =
    sinks.VersionedTable.compactSorted(spark, root, sortCols, numFiles)

  /** Two-dimensional z-order clustering (Morton interleave) so
    * intervals on EITHER column prune files.
    */
  def compactTableZOrder(spark: SparkSession, root: String,
                         colA: String, colB: String,
                         numFiles: Int): Long =
    sinks.VersionedTable.compactZOrder(spark, root, colA, colB, numFiles)

  /** Rewrite fragmented partitions (≥ minFiles files) into one file
    * each; healthy partitions untouched — returns (version,
    * partitions rewritten).
    */
  def compactPartitions(spark: SparkSession, root: String,
                        minFiles: Int = 2): (Long, Int) =
    sinks.VersionedTable.compactPartitions(spark, root, minFiles)

  /** Per-partition sort clustering on secondary columns — see
    * [[sinks.VersionedTable.compactPartitionsSorted]].
    */
  def compactPartitionsSorted(spark: SparkSession, root: String,
                              sortCols: Seq[String],
                              bucketsPerPartition: Int = 4): Long =
    sinks.VersionedTable.compactPartitionsSorted(spark, root, sortCols,
      bucketsPerPartition)

  /** Build per-file bloom sidecars for equality point lookups,
    * either table form.
    */
  def addBloomSkipping(spark: SparkSession, root: String,
                       columns: Seq[String],
                       bits: Int = 1 << 16): Unit =
    sinks.VersionedTable.addBloomSidecar(spark, root, columns, bits)

  /** Reap crashed writers' leftovers (staging dirs, flip temps,
    * never-flipped version dirs, vacuum scratch) — returns the four
    * per-class counts; committed data is never touched.
    */
  def removeOrphans(root: String,
                    olderThanMs: Long = 24L * 3600 * 1000)
      : (Int, Int, Int, Int) =
    sinks.VersionedTable.removeOrphans(root, olderThanMs)

  /** Dynamic partition overwrite — partitions present in `df` replace
    * wholesale, absent partitions untouched (the backfill write).
    */
  def overwritePartitions(spark: SparkSession, root: String,
                          df: DataFrame,
                          partitionBy: Seq[String] = Nil): Long =
    sinks.VersionedTable.overwritePartitions(spark, root, df, partitionBy)

  /** Predicate backfill (replaceWhere): matching rows replaced by
    * `replacement` in one CAS-committed rewrite.
    */
  def overwriteWhere(spark: SparkSession, root: String,
                     predicate: org.apache.spark.sql.Column,
                     replacement: DataFrame): Long =
    sinks.VersionedTable.overwriteWhere(spark, root, predicate,
      replacement)

  /** Register a write-time CHECK constraint (SQL predicate); every
    * subsequent row-adding write validates its batch and rejects the
    * whole commit on violation.
    */
  def addConstraint(root: String, name: String,
                    predicateSql: String): Unit =
    sinks.VersionedTable.addConstraint(root, name, predicateSql)

  /** Drop a named CHECK constraint. */
  def dropConstraint(root: String, name: String): Unit =
    sinks.VersionedTable.dropConstraint(root, name)

  /** The packaged exactly-once-effect streaming sink — see
    * [[sinks.VersionedTable.streamUpsertWriter]].
    */
  def streamUpsertWriter(spark: SparkSession, root: String,
                         keys: Seq[String],
                         partitionBy: Seq[String] = Nil)
      : (DataFrame, Long) => Unit =
    sinks.VersionedTable.streamUpsertWriter(spark, root, keys, partitionBy)

  /** Name a committed snapshot; the tag PINS retention. */
  def tag(root: String, name: String, version: Long): Unit =
    sinks.VersionedTable.setRef(root, name, version)

  /** Drop a tag; its snapshot becomes prunable at the next commit. */
  def dropTag(root: String, name: String): Unit =
    sinks.VersionedTable.dropRef(root, name)

  /** Read the snapshot a tag names through the DSv2 `ref` option. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    spark.read.format("graft").option("ref", name).load(root)

  /** Add one epoch of documents to a persisted near-dup index (builds
    * the index if `root` is empty): per-ingest work scales with the
    * batch, never the corpus — see [[operators.NearDupIndex]].
    */
  def nearDupIndexIngest(spark: org.apache.spark.sql.SparkSession,
                         root: String, docs: DataFrame, textCol: String,
                         idCol: String, epoch: String): Unit =
    operators.NearDupIndex.ingest(spark, root, docs, textCol, idCol, epoch)

  /** Near-dup pairs between a batch and a persisted index's corpus:
    * (id_a = corpus, id_b = batch, jaccard), exact-verified against
    * STORED postings. `epochs` scopes the corpus side ("as of ingest
    * j"); None probes the whole live index.
    */
  def nearDupIndexProbe(spark: org.apache.spark.sql.SparkSession,
                        root: String, batch: DataFrame, textCol: String,
                        idCol: String, threshold: Double = 0.7,
                        epochs: Option[Seq[String]] = None): DataFrame =
    operators.NearDupIndex.probe(spark, root, batch, textCol, idCol,
      threshold, epochs)

  /** Grouped OLS trend from one sufficient-stats aggregate. */
  def trendFit(df: DataFrame, groupCols: Seq[String],
               x: org.apache.spark.sql.Column,
               y: org.apache.spark.sql.Column): DataFrame =
    operators.TrendFit.olsFit(df, groupCols, x, y)

  /** Perceptual image near-dup pairs (dHash + pigeonhole Hamming). */
  def imageNearDups(media: DataFrame, maxHamming: Int = 3): DataFrame =
    operators.Multimodal.imageNearDups(media, maxHamming)

  /** Manually salted equi-join for known-skew keys; ≡ the plain join. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 saltExpr: org.apache.spark.sql.Column,
                 salts: Int = 8): DataFrame =
    operators.Skew.saltedJoin(big, small, keys, saltExpr, salts)

  /** CDC MERGE with deletes: collapse an ordered I/U/D change feed
    * and apply it onto `target` (matched-update / matched-delete /
    * not-matched-insert); returns the new table state.
    */
  def applyChanges(target: DataFrame, feed: DataFrame, keyCol: String,
                   seqCol: String, tieCol: String, opCol: String,
                   payloadCols: Seq[String]): DataFrame =
    operators.ChangeFeed.applyTo(target, feed, keyCol, seqCol, tieCol,
      opCol, payloadCols)

  /** Bounded edit distance column: exact Levenshtein when ≤ k, else
    * −1 — the prefix-strip banded native expression (≡ builtin
    * `levenshtein(a, b, k)`, measured 2.5× faster on entity names).
    */
  def editWithin(a: org.apache.spark.sql.Column,
                 b: org.apache.spark.sql.Column, k: Int)
                (implicit spark: SparkSession): org.apache.spark.sql.Column = {
    functions.GraftFunctions.ensureRegistered(spark)
    org.apache.spark.sql.functions.call_function("graft_edit_within",
      a, b, org.apache.spark.sql.functions.lit(k))
  }

  /** Hashed-bigram linear quality scores (doc_id, n_grams, score,
    * label [+ keep cols]): map-only fastText-shape inference.
    * `replayable = false` swaps md5 → xxhash64 (≈10× cheaper) when
    * cross-engine replay isn't needed. Works unchanged on streaming
    * DataFrames (stateless).
    */
  def qualityScores(docs: DataFrame, textCol: String, idCol: String,
                    dim: Int = 4096, replayable: Boolean = true,
                    keep: Seq[String] = Nil): DataFrame =
    operators.QualityClassifier.score(docs, textCol, idCol, dim,
      replayable, keep)

  /** k maximally diverse rows by greedy k-center over an embedding
    * column: (sel_order, vec_id, radius) in selection order —
    * coreset/anchor selection; O(N·k) map-only scans, never a sort.
    * For k beyond a few dozen use [[selectDiverseBatched]]: the
    * sequential form pays one Spark job PER center.
    */
  def selectDiverse(emb: DataFrame, vecCol: String, idCol: String,
                    k: Int): DataFrame =
    operators.Coreset.kCenters(emb, vecCol, idCol, k)

  /** Large-k diversity selection: the composable-coreset tournament —
    * per-partition greedy nominates candidates in ONE distributed
    * pass, driver greedy selects over the nominees. Near-flat wall
    * clock in k (measured: k=512 over 1M×64-d in ~6 s vs ~13 s for
    * SEQUENTIAL k=32); constant-factor cover guarantee.
    */
  def selectDiverseBatched(emb: DataFrame, vecCol: String, idCol: String,
                           k: Int, numPartitions: Int = 32): DataFrame =
    operators.Coreset.kCentersBatched(emb, vecCol, idCol, k, numPartitions)

  /** Maximal repeated token runs at arbitrary offsets (ExactSubstr,
    * Lee et al. 2022) — see [[operators.SpanDedup.exactSubstrIntervals]].
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 8): DataFrame =
    operators.SpanDedup.exactSubstrIntervals(df, idCol, textCol, minTokens)

  /** Interval×interval OVERLAP join (both sides intervals) — see
    * [[operators.IntervalJoin.overlap]].
    */
  def overlapJoin(a: DataFrame, b: DataFrame, idCol: String, sCol: String,
                  eCol: String, widthSec: Long): DataFrame =
    operators.IntervalJoin.overlap(a, b, idCol, sCol, eCol, widthSec)

  /** t-closeness release audit — see [[operators.Privacy.tCloseness]]. */
  def tCloseness(df: DataFrame, qi: Seq[String], vbCol: String, m: Int,
                 tNum: Long = 1, tDen: Long = 5): DataFrame =
    operators.Privacy.tCloseness(df, qi, vbCol, m, tNum, tDen)

  /** Merge-on-read soft delete / vacuum, either table form — see
    * [[sinks.VersionedTable.softDelete]]; [[readTable]] reads through
    * the delete set.
    */
  def softDelete(spark: SparkSession, root: String, keys: DataFrame,
                 keyCols: Seq[String]): Long =
    sinks.VersionedTable.softDelete(spark, root, keys, keyCols)

  def vacuumDeletes(spark: SparkSession, root: String,
                    keyCols: Seq[String]): Long =
    sinks.VersionedTable.vacuumDeletes(spark, root, keyCols)

  /** Materialized-aggregate maintenance under CDC deltas — see
    * [[operators.Ivm]].
    */
  def maintainView(view: DataFrame, deltas: DataFrame,
                   keys: Seq[String]): DataFrame =
    operators.Ivm.applyDeltas(view, deltas, keys)

  /** Per-file Bloom sidecar + point-lookup pruning report — see
    * [[operators.BloomSkip.sidecarAndProbe]].
    */
  def bloomSkipReport(df: DataFrame, layout: Seq[org.apache.spark.sql.Column],
                      files: Int, keyCol: String, probes: DataFrame,
                      probeCol: String): DataFrame =
    operators.BloomSkip.sidecarAndProbe(df, layout, files, keyCol,
      probes, probeCol)

  /** Dyadic time-decayed per-key counters (mergeable, advanceable) —
    * see [[operators.Decay.decayedCounters]].
    */
  def decayedCounters(df: DataFrame, groupCols: Seq[String],
                      ts: org.apache.spark.sql.Column,
                      value: org.apache.spark.sql.Column,
                      halfLifeUs: Long): DataFrame =
    operators.Decay.decayedCounters(df, groupCols, ts, value, halfLifeUs)

  /** Deterministic downsample to a target bucket histogram — see
    * [[operators.DistributionMatch.sampleToTarget]].
    */
  def matchDistribution(df: DataFrame, bucket: org.apache.spark.sql.Column,
                        idCol: org.apache.spark.sql.Column,
                        target: Seq[(String, Long)],
                        salt: String = "dm0|"): DataFrame =
    operators.DistributionMatch.sampleToTarget(df, bucket, idCol,
      target, salt)

  /** Anti-leak split keyed on near-dup cluster labels — see
    * [[operators.WeightedSample.clusterSplit]].
    */
  def splitByCluster(df: DataFrame, idCol: String, components: DataFrame,
                     trainPct: Int = 90, valPct: Int = 5,
                     salt: String = "epoch0"): DataFrame =
    operators.WeightedSample.clusterSplit(df, idCol, components,
      trainPct, valPct, salt)

  /** Capacity-capped proportional token-budget allocation — see
    * [[operators.WaterFill.allocate]].
    */
  def allocateBudget(capacities: DataFrame, keyCol: String, capCol: String,
                     weightCol: String, budgetCol: String): DataFrame =
    operators.WaterFill.allocate(capacities, keyCol, capCol, weightCol,
      budgetCol)

  /** Sustained-shift CUSUM alarm over per-group series — see
    * [[operators.Cusum.detect]].
    */
  def cusumDrift(series: DataFrame, groupCols: Seq[String],
                 orderCol: String, valueCol: String,
                 slackDiv: Long = 20L, threshDiv: Long = 4L): DataFrame =
    operators.Cusum.detect(series, groupCols, orderCol, valueCol,
      slackDiv, threshDiv)

  /** Conformal quality gate with a distribution-free false-flag
    * bound — see [[operators.Conformal.splitConformal]].
    */
  def conformalGate(cal: DataFrame, apply: DataFrame,
                    groupCols: Seq[String], scoreCol: String,
                    alphaNum: Long, alphaDen: Long): DataFrame =
    operators.Conformal.splitConformal(cal, apply, groupCols, scoreCol,
      alphaNum, alphaDen)

  /** Robust per-group trend (Theil–Sen lower-median slope) and its
    * Mann–Kendall significance statistics — see [[operators.TrendFit]].
    */
  def robustTrend(df: DataFrame, groupCols: Seq[String],
                  x: org.apache.spark.sql.Column,
                  y: org.apache.spark.sql.Column): DataFrame =
    operators.TrendFit.theilSen(df, groupCols, x, y)

  def trendTest(df: DataFrame, groupCols: Seq[String],
                x: org.apache.spark.sql.Column,
                y: org.apache.spark.sql.Column): DataFrame =
    operators.TrendFit.mannKendall(df, groupCols, x, y)

  /** Exact two-sample location-shift rank test — see
    * [[operators.RankTests.mannWhitneyU]].
    */
  def rankShiftTest(df: DataFrame, valueCol: String, groupCol: String,
                    groupA: String, groupB: String): DataFrame =
    operators.RankTests.mannWhitneyU(df, valueCol, groupCol, groupA,
      groupB)

  /** Exact n-gram benchmark decontamination (one suite) — see
    * [[operators.Decontam.overlap]].
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 4): DataFrame =
    operators.Decontam.overlap(corpus, bench, textCol, idCol, n)

  /** Multi-suite decontamination in ONE corpus pass — see
    * [[operators.Decontam.matrix]].
    */
  def decontaminateMatrix(corpus: DataFrame, suites: DataFrame,
                          textCol: String, idCol: String,
                          suiteCol: String, n: Int = 4): DataFrame =
    operators.Decontam.matrix(corpus, suites, textCol, idCol,
      suiteCol, n)

  // ------------- table format: read surface + change feed (r13) ----

  /** The observable snapshot of a graft table through the DataSource
    * V2 surface — `spark.read.format("graft")`, with eq/interval
    * predicates pushed into the partition/file pruning metadata
    * automatically (see [[graft.sources.GraftDataSource]]).
    */
  def readTable(spark: SparkSession, root: String): DataFrame =
    spark.read.format("graft").load(root)

  /** Time-travel through the DSv2 surface (raw committed snapshot). */
  def readTableVersion(spark: SparkSession, root: String,
                       version: Long): DataFrame =
    spark.read.format("graft").option("versionAsOf", version).load(root)

  /** Row-level change feed (insert/delete/update pre+post, stamped
    * with the commit) — see [[sinks.VersionedTable.readChanges]].
    */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
                  toVersion: Long, keys: Seq[String]): DataFrame =
    sinks.VersionedTable.readChanges(spark, root, fromVersion,
      toVersion, keys)

  /** Subscribe to a table's commits as a micro-batch stream — see
    * [[sinks.VersionedTable.streamChanges]].
    */
  def streamChanges(spark: SparkSession, root: String, keys: Seq[String],
                    checkpointDir: String)
                   (onBatch: (DataFrame, Long, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    sinks.VersionedTable.streamChanges(spark, root, keys,
      checkpointDir)(onBatch)

  /** Whole-partition predicate backfill — see
    * [[sinks.VersionedTable.overwritePartitionsWhere]] (the engine
    * behind SQL `INSERT OVERWRITE … PARTITION (…)`).
    */
  def overwritePartitionsWhere(spark: SparkSession, root: String,
                               keyMatches: String => Boolean,
                               replacement: DataFrame): Long =
    sinks.VersionedTable.overwritePartitionsWhere(spark, root,
      keyMatches, replacement)

  /** (version, publishedAtEpochMillis) per retained commit — the
    * `TIMESTAMP AS OF` resolution surface.
    */
  def versionPublishTimes(root: String): Seq[(Long, Long)] =
    sinks.VersionedTable.versionPublishTimes(root)

  /** A metadata table (history/files/partitions/refs) as a
    * DataFrame — what `option("metadata", …)` / the catalog's
    * `t$kind` names read.
    */
  def metadataTable(spark: SparkSession, root: String,
                    kind: String): DataFrame =
    sources.GraftScanPlanner.metadataFrame(spark, root, kind)

  /** Activate manifest-stats auto-broadcast on a running session —
    * see [[plans.GraftBroadcastStats]].
    */
  def installBroadcastStats(spark: SparkSession): Unit =
    plans.GraftBroadcastStats.install(spark)

  /** Per-document n-gram novelty in corpus order — see
    * [[operators.TextStats.noveltyByDoc]].
    */
  def ngramNovelty(docs: DataFrame, textCol: String, idCol: String,
                   n: Int = 4): DataFrame =
    operators.TextStats.noveltyByDoc(docs, textCol, idCol, n)

  /** Heaps-law vocabulary growth curve — see
    * [[operators.TextStats.heapsCurve]].
    */
  def vocabGrowth(docs: DataFrame, textCol: String, idCol: String,
                  checkpointDocs: Int = 100): DataFrame =
    operators.TextStats.heapsCurve(docs, textCol, idCol, checkpointDocs)
}
