package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, NearDupIndex}
import graft.sinks.VersionedTable

/** The persisted near-dup index must (a) return exactly the pairs the
  * ad-hoc two-DataFrame form computes, (b) do its corpus-side work
  * against STORED data — no documents scan, no MinHash recompute on
  * the corpus side of the probe plan — and (c) grow by one epoch
  * partition per ingest with idempotent retry.
  */
class NearDupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3L, "completely different text about spark query engines and shuffles"),
    (5L, "spark engines process distributed data with shuffles and joins"),
    (7L, "seven separate sentences sit somewhere sunny beside the shore")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (6L, "an unrelated short sentence")
  ).toDF("doc_id", "text")

  private def pairsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Double]("jaccard"))).toSet

  test("probe returns exactly the ad-hoc incremental pair set") {
    val root = tmpDir("ndidx")
    NearDupIndex.ingest(spark, root, corpus, "text", "doc_id", "base",
      NearDupIndex.Params(3, 64, 32))
    val stored = pairsOf(
      NearDupIndex.probe(spark, root, batch, "text", "doc_id", 0.5))
    val adhoc = pairsOf(
      Dedup.incrementalNearDups(corpus, batch, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5))
    assert(stored === adhoc)
    assert(stored.exists { case (a, b, j) => a == 1L && b == 4L && j == 1.0 })
  }

  test("probe plan reads the stored index, not the corpus documents") {
    val root = tmpDir("ndidx")
    NearDupIndex.ingest(spark, root, corpus, "text", "doc_id", "base")
    val plan = NearDupIndex.probe(spark, root, batch, "text", "doc_id", 0.5)
      .queryExecution.executedPlan.toString
    // corpus side = file scans of the two index tables
    assert(plan.contains(s"$root/bands"), "probe must scan the band index")
    assert(plan.contains(s"$root/grams"), "probe must scan stored postings")
    // the ONLY aggregate chains in the plan belong to the batch side,
    // which is localCheckpoint'd before the probe plan is built — so a
    // corpus-side MinHash recompute would show as extra xxhash64 min()
    // aggregates; there must be none anywhere in the probe plan
    assert(!plan.contains("min(xxhash64"),
      "corpus-side MinHash recompute leaked into the probe plan")
  }

  test("ingestAndProbe appends one epoch; later probes see it") {
    val root = tmpDir("ndidx")
    NearDupIndex.ingest(spark, root, corpus, "text", "doc_id", "base")
    val p1 = pairsOf(NearDupIndex.ingestAndProbe(spark, root, batch,
      "text", "doc_id", epoch = "e1", threshold = 0.5))
    assert(p1.nonEmpty)
    // a second batch near-duplicating doc 2 (an e1 member) must now
    // pair against it — the appended epoch is part of the corpus side
    val batch2 = Seq(
      (8L, "the quick brown fox jumps over the lazy dog near the river bend"))
      .toDF("doc_id", "text")
    val p2 = pairsOf(NearDupIndex.probe(spark, root, batch2,
      "text", "doc_id", 0.5))
    assert(p2.exists { case (a, b, j) => a == 2L && b == 8L && j == 1.0 },
      s"appended epoch not probed: $p2")
    // and the original corpus is still there too (4 ≈ 1 ≈ 8's family)
    assert(p2.exists { case (a, _, _) => a == 1L || a == 4L })
  }

  test("re-ingesting an epoch is idempotent (crash-retry safe)") {
    val root = tmpDir("ndidx")
    NearDupIndex.ingest(spark, root, corpus, "text", "doc_id", "base")
    val first = pairsOf(NearDupIndex.ingestAndProbe(spark, root, batch,
      "text", "doc_id", epoch = "e1", threshold = 0.5))
    val retry = pairsOf(NearDupIndex.ingestAndProbe(spark, root, batch,
      "text", "doc_id", epoch = "e1", threshold = 0.5))
    assert(retry === first) // batch ids excluded from the corpus side
    val bands = VersionedTable.readLive(spark, s"$root/bands")
    assert(bands.select("id").distinct().count() === 7) // 4 corpus + 3 batch
    assert(bands.select("epoch").distinct().count() === 2)
  }

  test("epoch-scoped probe replays the index as of an earlier ingest") {
    val root = tmpDir("ndidx")
    NearDupIndex.ingest(spark, root, corpus, "text", "doc_id", "base")
    NearDupIndex.ingest(spark, root, batch, "text", "doc_id", "e1")
    val probe2 = Seq(
      (8L, "the quick brown fox jumps over the lazy dog near the river bend"))
      .toDF("doc_id", "text")
    // scoped to base: doc 2 (an e1 member) must NOT appear even though
    // it is in the live index; unscoped: it must
    val baseOnly = pairsOf(NearDupIndex.probe(spark, root, probe2,
      "text", "doc_id", 0.5, epochs = Some(Seq("base"))))
    val live = pairsOf(NearDupIndex.probe(spark, root, probe2,
      "text", "doc_id", 0.5))
    assert(!baseOnly.exists(_._1 == 2L), s"e1 leaked into base scope: $baseOnly")
    assert(baseOnly.exists(_._1 == 1L)) // base members still pair
    assert(live.exists(_._1 == 2L), s"live probe missed e1: $live")
  }

  test("probe racing an in-flight ingest sees an epoch's bands AND " +
    "grams or neither (cross-table snapshot)") {
    val root = tmpDir("ndidx")
    NearDupIndex.ingest(spark, root, corpus, "text", "doc_id", "base")
    // Simulate an ingest caught mid-flight in the DANGEROUS state:
    // epoch e1's BANDS committed to its table but its grams (and the
    // snapshot flip) not yet — the state that, read through live
    // per-table manifests, would surface candidates that verify
    // against no postings.
    val e1Bands = Dedup
      .minhashSignatures(
        Dedup.shingleRows(batch, "text", "doc_id", 3), 64)
      .select(col("id"), explode(Dedup.bandHashes(col("sig"), 16, 4)).as("bh"))
      .select(lit("e1").as("epoch"), col("id"),
        col("bh.band").as("band"), col("bh.h").as("h"))
    VersionedTable.upsert(spark, s"$root/bands", e1Bands,
      keys = Seq("epoch", "id", "band"), partitionBy = Seq("epoch"))
    // the live bands table DOES contain the in-flight epoch ...
    assert(VersionedTable.readLive(spark, s"$root/bands")
      .filter(col("epoch") === "e1").count() > 0)
    val probe2 = Seq(
      (8L, "the quick brown fox jumps over the lazy dog near the river bend"))
      .toDF("doc_id", "text")
    // ... but the unscoped probe reads the SNAPSHOT pair: e1 invisible
    // entirely (neither), base pairs unaffected
    val during = pairsOf(NearDupIndex.probe(spark, root, probe2,
      "text", "doc_id", 0.5))
    assert(!during.exists(_._1 == 2L),
      s"in-flight epoch's bands leaked into the probe: $during")
    assert(during.exists(_._1 == 1L), s"base pairs lost: $during")
    // complete the ingest (grams + bands replace-by-key + snapshot
    // flip): now BOTH tables' e1 rows are visible together
    NearDupIndex.ingest(spark, root, batch, "text", "doc_id", "e1")
    val after = pairsOf(NearDupIndex.probe(spark, root, probe2,
      "text", "doc_id", 0.5))
    assert(after.exists { case (a, b, j) => a == 2L && b == 8L && j == 1.0 },
      s"completed epoch not visible: $after")
  }

  test("redelivered epoch content is a no-op ingest (no new commit)") {
    val root = tmpDir("ndidx")
    NearDupIndex.ingest(spark, root, corpus, "text", "doc_id", "base")
    NearDupIndex.ingest(spark, root, batch, "text", "doc_id", "e1")
    val v = VersionedTable.readPartitionedManifest(s"$root/bands").get.version
    // same content again: fingerprint matches → no table commit at all
    NearDupIndex.ingest(spark, root, batch, "text", "doc_id", "e1")
    assert(VersionedTable.readPartitionedManifest(s"$root/bands")
      .get.version === v)
    // CHANGED content under the same epoch name: must commit
    val changed = batch.limit(2)
    NearDupIndex.ingest(spark, root, changed, "text", "doc_id", "e1")
    assert(VersionedTable.readPartitionedManifest(s"$root/bands")
      .get.version > v)
  }

  test("params are pinned: mismatched ingest fails loudly") {
    val root = tmpDir("ndidx")
    NearDupIndex.ingest(spark, root, corpus, "text", "doc_id", "base",
      NearDupIndex.Params(3, 64, 16))
    val e = intercept[IllegalArgumentException] {
      NearDupIndex.ingest(spark, root, batch, "text", "doc_id", "e1",
        NearDupIndex.Params(3, 64, 32))
    }
    assert(e.getMessage.contains("built with"))
    assert(NearDupIndex.readParams(root) === NearDupIndex.Params(3, 64, 16))
  }

  test("ensureBuilt is content-addressed: same corpus reuses, changed corpus rebuilds") {
    val r1 = NearDupIndex.ensureBuilt(spark, corpus, "text", "doc_id",
      cacheKey = "spec")
    val r2 = NearDupIndex.ensureBuilt(spark, corpus, "text", "doc_id",
      cacheKey = "spec")
    assert(r1 === r2)
    val grown = corpus.unionByName(batch)
    val r3 = NearDupIndex.ensureBuilt(spark, grown, "text", "doc_id",
      cacheKey = "spec")
    assert(r3 !== r1, "changed corpus must land in a fresh root")
    assert(NearDupIndex.exists(r3))
  }

  test("ensureBuiltCached memoizes by key (fingerprint scan skipped on " +
    "repeat) but distinct keys stay independent") {
    val c1 = NearDupIndex.ensureBuiltCached(spark, corpus, "text",
      "doc_id", cacheKey = "specCachedA")
    // repeat with a DIFFERENT (wrong) corpus under the same key: the
    // memo returns the first resolution — this is the documented
    // caller promise, and exactly what skipping the scan means
    val c2 = NearDupIndex.ensureBuiltCached(spark,
      corpus.limit(1), "text", "doc_id", cacheKey = "specCachedA")
    assert(c1 === c2)
    val c3 = NearDupIndex.ensureBuiltCached(spark, corpus, "text",
      "doc_id", cacheKey = "specCachedB")
    assert(c3 !== c1, // cacheKey is part of the content address
      "a distinct key must resolve independently, not hit the memo")
    assert(NearDupIndex.exists(c3))
  }
}
