package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.storage.BroadcastBlockId
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.sinks.VersionedTable
import graft.sources.{GraftScanAudit, GraftScanPlanner}

/** The V1 scan memo keeps a LOGICAL plan, never an executed RDD: a
  * memoized RDD holds its physical plan, and through it every
  * broadcast that plan built — for a merge-on-read read, the hash
  * relation of each pos-delete `left_anti` mask. Those must be freed
  * with the query that used them, while repeated reads still hit the
  * memo.
  */
class ScanPlanMemoSpec extends SparkSpec {
  import spark.implicits._

  /** Broadcast ids whose driver-side value is a join hash relation. */
  private def relationBroadcasts(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case b @ BroadcastBlockId(id, "") => (b, id)
    }.filter { case (b, _) =>
      // draining the iterator releases the block's read lock
      bm.getLocalValues(b).exists(_.data.toList.exists(v =>
        v.getClass.getName.contains("HashedRelation")))
    }.map(_._2).toSet
  }

  private def broadcastIds(): Set[Long] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet

  test("memoized MoR reads leave no pos-delete mask broadcast " +
    "behind; repeated reads hit with the same decision and rows") {
    val root = tmpDir("scan_plan_memo") + "/t"
    VersionedTable.append(spark, root, (0L until 4000L)
      .map(i => (i, i % 50, s"s$i")).toDF("id", "g", "s"))
    VersionedTable.softDeletePos(spark, root, col("id") % 7 === 3L)
    val preds: Seq[Column] = (0 until 24).map(i => col("g") >= i)
    val before = broadcastIds()
    // one read: rows, the pruning decision it published, and the
    // relations its plan broadcast (listed while the query is still
    // reachable — the cleaner may free them any time after)
    def read(p: Column)
        : (Seq[Long], Option[GraftScanAudit.Decision], Set[Long]) = {
      val ds = spark.read.format("graft").load(root).where(p)
        .select("id").as[Long]
      val rows = ds.collect().toSeq.sorted
      val decision = GraftScanAudit.last
      val relations = relationBroadcasts() -- before
      java.lang.ref.Reference.reachabilityFence(ds)
      (rows, decision, relations)
    }
    val memo = GraftScanPlanner.scanPlanMemo
    val missesBefore = memo.misses
    val first = preds.map(read)
    assert(memo.misses - missesBefore === preds.size.toLong,
      "each distinct predicate plans its snapshot once")
    first.zipWithIndex.foreach { case ((rows, _, _), i) =>
      assert(rows === (0L until 4000L)
        .filter(id => id % 7 != 3L && id % 50 >= i))
    }
    // the masks really were broadcast — else this spec proves nothing
    val masks = first.flatMap(_._3).toSet
    assert(masks.size >= preds.size, s"mask relations: $masks")

    val hitsBefore = memo.hits
    val missesMid = memo.misses
    val second = preds.map(read)
    assert(memo.misses === missesMid, "repeated reads must not re-plan")
    assert(memo.hits - hitsBefore >= preds.size.toLong)
    assert(second.map(r => (r._1, r._2)) === first.map(r => (r._1, r._2)),
      "same rows, same decision on a memo hit")
    assert(first.forall(_._2.exists(d =>
      d.filesScanned >= 1 && d.pushed.nonEmpty)))

    // with the queries gone, the context cleaner frees every
    // relation they broadcast — the memo pins none of them
    val all = masks ++ second.flatMap(_._3)
    eventually(timeout(Span(60, Seconds)), interval(Span(1, Seconds))) {
      System.gc()
      val left = all & broadcastIds()
      assert(left.isEmpty, s"${left.size} mask broadcasts still pinned")
    }
  }

  test("an equality-delete commit misses the memo even where " +
    "directories keep no mtime of their own") {
    val root = tmpDir("scan_plan_memo_eq") + "/t"
    VersionedTable.append(spark, root, (1L to 20L)
      .map(i => (i, i * 10L)).toDF("id", "v"))
    def del(id: Long): Unit =
      VersionedTable.softDelete(spark, root, Seq(id).toDF("id"), Seq("id"))
    def read(): Seq[Long] = spark.read.format("graft").load(root)
      .where(col("v") <= 100L).select("id").as[Long].collect().toSeq.sorted
    del(1L)
    assert(read() === (2L to 10L))
    val deletes = java.nio.file.Paths.get(root, "_deletes")
    val mtime = java.nio.file.Files.getLastModifiedTime(deletes)
    del(2L)
    // a store without directory mtimes: only the sub-table's own
    // listing can tell the two delete sets apart
    java.nio.file.Files.setLastModifiedTime(deletes, mtime)
    assert(read() === (3L to 10L), "the re-read must not serve key 2")
  }
}
