package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Graft
import graft.operators.NearDupIndex

/** `corpus_dedup`: each op curates one fresh batch of generated
  * documents — text-quality gate, exact dedup, MinHash fuzzy dedup,
  * probe-and-ingest against the persisted near-dup index of all earlier
  * batches, split + sequence packing — then appends the survivors, one
  * commit per source shard, into a new epoch partition of a graft corpus
  * table and reads that snapshot back per source, twice.
  *
  * Planted structure. Documents belong to families: an original of
  * [[Words]] words and copies of it that are either exact or replace
  * its first or last word. Any two members of a family have Jaccard ≥ [[MinJaccard]]
  * on word 3-shingles (checked at generation), where 16 bands of 4
  * MinHash rows miss a pair with probability ≤ (1 − 0.9⁴)¹⁶ ≈ 3.9e-8;
  * documents of different families share essentially no shingles.
  * Short documents fail the quality gate. Hence, in closed form: a
  * document survives iff it passes the gate, it is the smallest id of
  * its family within its batch, and its family has no member in an
  * earlier batch.
  */
final class CorpusDedup(spark: SparkSession, seed: Long) extends Workload {
  import CorpusDedup._

  private var dir: Path = _
  private var nextBatch = 0
  /** Family -> batches in which one of its documents was indexed. */
  private val famBatches = mutable.HashMap[Int, ArrayBuffer[Int]]()
  /** Family -> word arrays of all its documents so far; index = family. */
  private val families = ArrayBuffer[ArrayBuffer[Array[Int]]]()
  private var digest: String = _
  private var verifiedPairs = 0L
  private var indexedDocBytes = 0L

  private def indexRoot = dir.resolve("neardup_index").toString
  private def corpusRoot = dir.resolve("corpus").toString

  // ---- generator ----
  private def word(i: Int): String = {
    val c = "bcdfghjklmnprstvz"; val v = "aeiou"
    val sb = new StringBuilder
    var x = i
    (0 until 3).foreach { _ =>
      val s = x % 85; x /= 85
      sb += c(s / 5); sb += v(s % 5)
    }
    sb.toString
  }

  private def shingles(ws: Array[Int]): Set[String] =
    ws.sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: Array[Int], b: Array[Int]): Double = {
    val sa = shingles(a); val sb = shingles(b)
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  /** The documents of batch `j`; a pure function of (seed, j, earlier families). */
  private def generate(j: Int): Seq[Doc] = {
    val n = if (j == 1) WarmupDocs else BatchDocs
    val docs = ArrayBuffer[Doc]()
    val priorFamilies = families.size
    (0 until n).foreach { i =>
      val h = Util.mix(seed, j, i)
      val id = j.toLong * IdStride + i
      val src = s"s${Util.below(h >>> 8, Sources)}"
      val kind = Util.below(h, 100)
      def words(n: Int, salt: Long) =
        Array.tabulate(n)(k => Util.below(Util.mix(seed, j, i, salt + k), Vocab))
      def copyOf(f: Int): Doc = {
        val orig = families(f).head
        val g = Util.mix(h, 99)
        var ws = orig
        if (Util.below(g, 2) == 1) { // near copy: replace the first or last word
          var tries = 0
          do {
            val p = if (Util.below(Util.mix(g, tries), 2) == 0) 0 else orig.length - 1
            ws = orig.updated(p, Util.below(Util.mix(g, tries, 7), Vocab))
            tries += 1
          } while (tries < 20 && families(f).exists(jaccard(_, ws) < MinJaccard))
          if (families(f).exists(jaccard(_, ws) < MinJaccard)) ws = orig
        }
        families(f) += ws
        Doc(id, f, src, ws.map(word).mkString(" "), good = true)
      }
      val inBatch = priorFamilies until families.size
      val doc =
        if (kind < LowQualityPct)
          Doc(id, -1, src, words(3, 500).map(word).mkString(" "), good = false)
        else if (kind < LowQualityPct + InBatchCopyPct && inBatch.nonEmpty)
          copyOf(inBatch(Util.below(h >>> 16, inBatch.size)))
        else if (kind < LowQualityPct + InBatchCopyPct + CrossBatchCopyPct &&
          priorFamilies > 0)
          copyOf(Util.below(h >>> 16, priorFamilies))
        else {
          val ws = words(Words, 0)
          families += ArrayBuffer(ws)
          Doc(id, families.size - 1, src, ws.map(word).mkString(" "), good = true)
        }
      docs += doc
    }
    docs.toSeq
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("source", StringType), StructField("text", StringType)))

  private val corpusSchema = StructType(Seq(
    StructField("epoch", StringType), StructField("id", LongType, nullable = false),
    StructField("source", StringType), StructField("text", StringType),
    StructField("ntok", IntegerType), StructField("split", StringType),
    StructField("bin", LongType), StructField("bin_offset", LongType)))

  private def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      docs.map(d => Row(d.id, d.source, d.text)): _*), schema)
      .repartition(Parallelism).localCheckpoint(true)

  /** Within-batch survivors, then those whose family is new. */
  private def expected(j: Int, docs: Seq[Doc]): (Seq[Doc], Seq[Doc], Long) = {
    val within = docs.filter(_.good).groupBy(_.family).values.map(_.minBy(_.id))
      .toSeq.sortBy(_.id)
    val pairs = within.map(d => famBatches.get(d.family).fold(0)(_.size).toLong).sum
    val fresh = within.filter(d => !famBatches.contains(d.family))
    (within, fresh, pairs)
  }

  private def splitOf(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"epoch0|$id".getBytes(StandardCharsets.UTF_8))
    val b = java.lang.Long.parseLong(d.take(6).map("%02x".format(_)).mkString, 16) % 100
    if (b < 90) "train" else if (b < 95) "val" else "test"
  }

  /** Expected (id -> (split, bin, bin_offset)) of the packed survivors. */
  private def packed(fresh: Seq[Doc]): Map[Long, (String, Long, Long)] =
    fresh.groupBy(_.source).values.flatMap { ds =>
      var cum = 0L
      ds.sortBy(_.id).map { d =>
        val r = d.id -> ((splitOf(d.id), cum / PackBudget, cum % PackBudget))
        cum += d.ntok
        r
      }
    }.toMap

  /** Quality gate → exact dedup → fuzzy dedup, materialized per step. */
  private def curate(sp: Spans, batch: DataFrame): DataFrame = {
    val q = sp("functions.text_quality") {
      Graft.withTextQuality(batch, "text").where(col("quality_score") >= QualityMin)
        .select("id", "source", "text").localCheckpoint(true)
    }
    val e = sp("operators.exact_dedup") {
      Graft.dedupExact(q, "text", "id").localCheckpoint(true)
    }
    sp("operators.fuzzy_dedup") {
      Graft.dedupFuzzy(e, "text", "id").localCheckpoint(true)
    }
  }

  private def pack(sp: Spans, keep: DataFrame, epoch: String): DataFrame =
    sp("operators.pack") {
      Graft.packSequences(
        Graft.splitCorpus(keep.withColumn("ntok", size(split(col("text"), " "))), "id"),
        "source", "id", "ntok", PackBudget)
        .select(lit(epoch).as("epoch"), col("id"), col("source"), col("text"),
          col("ntok"), col("split"), col("bin"), col("bin_offset"))
        .localCheckpoint(true)
    }

  private def append(sp: Spans, out: DataFrame): Unit = sp("sinks.write") {
    out.write.format("graft").option("partitionColumns", "epoch")
      .mode("append").save(corpusRoot)
  }

  private def readBack(sp: Spans, epoch: String, source: String): Row =
    sp("sources.scan") {
      spark.read.format("graft").load(corpusRoot)
        .where(col("epoch") === epoch && col("source") === source)
        .agg(count(lit(1)), sum("ntok"), sum("bin"), sum("id")).head()
    }

  private def record(j: Int, within: Seq[Doc]): Unit = {
    within.foreach(d => famBatches.getOrElseUpdate(d.family, ArrayBuffer()) += j)
    indexedDocBytes += within.map(_.text.length.toLong).sum
  }

  private def reset(): Unit = {
    famBatches.clear(); families.clear()
    verifiedPairs = 0; indexedDocBytes = 0
  }

  def seed(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    // the first batches are a function of the seed alone
    reset()
    val dg = new InputDigest
    (0 until 3).foreach { j =>
      val docs = generate(j)
      docs.foreach(x => dg.add(s"${x.id}|${x.source}|${x.text}"))
      record(j, expected(j, docs)._1)
    }
    digest = dg.hex
    reset()
    // batch 0's curated documents, known from the planted structure,
    // found the index and the corpus table
    val (within, _, _) = expected(0, generate(0))
    NearDupIndex.ingest(spark, indexRoot, frame(within), "text", "id", epoch(0))
    val layout = packed(within)
    val rows = within.map { d =>
      val (sp, bin, off) = layout(d.id)
      Row(epoch(0), d.id, d.source, d.text, d.ntok, sp, bin, off)
    }
    append(NoSpans, spark.createDataFrame(java.util.Arrays.asList(rows: _*), corpusSchema))
    record(0, within)
    nextBatch = 1
  }

  def inputDigest: String = digest

  private def checkPacked(out: DataFrame, fresh: Seq[Doc]): Unit = {
    val got = out.select("id", "split", "bin", "bin_offset").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    Check.equal(got.size, fresh.size, "curated documents")
    Check.equal(got, packed(fresh), "split/bin/offset of the curated documents")
  }

  def step(rec: Recorder, sp: Spans): Unit = {
    val j = nextBatch
    nextBatch += 1
    val docs = generate(j)
    val (within, fresh, pairs) = expected(j, docs)
    val batch = frame(docs)
    val e = epoch(j)
    val layout = packed(fresh)
    def wantRead(src: String) = {
      val ds = fresh.filter(_.source == src)
      (ds.size.toLong, ds.map(_.ntok.toLong).sum, ds.map(d => layout(d.id)._2).sum,
        ds.map(_.id).sum)
    }
    rec.op(s"corpus batch $j") { op =>
      op.addRows(docs.size.toLong)
      val out = op.phase("compute") {
        val f = curate(sp, batch)
        val found = sp("operators.index_probe") {
          NearDupIndex.ingestAndProbe(spark, indexRoot, f, "text", "id", e)
            .select("id_b").collect().map(_.getLong(0))
        }
        val keep = f.where(!col("id").isin(found.distinct.toSeq: _*))
        (f, found.length.toLong, pack(sp, keep, e))
      } { case (f, nPairs, out) =>
        Check.equal(f.count(), within.size.toLong, "within-batch survivors")
        Check.equal(nPairs, pairs, "verified cross-batch pairs")
        checkPacked(out, fresh)
      }._3
      // one shard commit per source: shards are the unit of training output
      for (k <- 0 until Sources)
        op.phase("write")(append(sp, out.where(col("source") === s"s$k")))(_ => ())
      // read the new snapshot back, one source at a time, then again
      for (kind <- Seq("read", "reread"); k <- 0 until Sources) {
        val src = s"s$k"
        op.phase(kind)(readBack(sp, e, src)) { r =>
          Check.equal((r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) 0L else r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3)),
            wantRead(src), s"$kind of epoch $e source $src")
        }
      }
    }
    verifiedPairs += pairs
    record(j, within)
  }

  def tableRoots: Seq[Path] = Seq(dir.resolve("corpus"))

  def compactBytes(scratch: Path): Long =
    Util.compactBytes(spark, spark.read.format("graft").load(corpusRoot), scratch)

  def filesAndVersions: (Long, Long) = {
    def meta(kind: String) =
      spark.read.format("graft").option("metadata", kind).load(corpusRoot).count()
    (meta("files"), meta("history"))
  }

  override def layerCounters: Map[String, Double] = Map(
    "operators.verified_pairs" -> verifiedPairs.toDouble,
    "sinks.index_bytes_per_doc_byte" ->
      Util.dirBytes(dir.resolve("neardup_index")).toDouble / math.max(1L, indexedDocBytes))
}

object CorpusDedup {
  final case class Doc(id: Long, family: Int, source: String, text: String,
                       good: Boolean) {
    def ntok: Int = text.split(' ').length
  }

  val BatchDocs = 600
  /** Batch 1, the untimed warm-up step, is smaller. */
  val WarmupDocs = 300
  val Words = 40
  val Vocab = 8000
  val Sources = 4
  val IdStride = 100000L
  val LowQualityPct = 5
  val InBatchCopyPct = 13
  val CrossBatchCopyPct = 8
  val MinJaccard = 0.9
  val QualityMin = 0.6
  val PackBudget = 4096
  val Parallelism = 4

  def epoch(j: Int): String = f"e$j%05d"
}
