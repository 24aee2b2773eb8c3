package graft

import java.nio.file.Files
import graft.sinks.VersionedTable

/** N-writer mixed-operation stress for the manifest/CAS protocol:
  * 8 concurrent writers issue a seeded mix of upsert / softDelete /
  * vacuumDeletes against one table, and the final state must equal a
  * serial replay of each writer's own op sequence. The replay model is
  * exact because (a) each writer's calls block until committed, so its
  * OWN ops are serially ordered, (b) writers touch disjoint key
  * ranges, so cross-writer data ops commute, and (c) vacuum is
  * logically the identity on live rows — any interleaving that
  * changes the outcome (the pre-CAS vacuum fold overwriting a
  * concurrent upsert, a reset wiping a racing delete) is exactly the
  * lost-update bug family this spec exists to catch.
  */
class VersionedTableStressSpec extends SparkSpec {
  import spark.implicits._

  test("8 writers x mixed upsert/softDelete/vacuum converge to the " +
    "serial replay of each writer's op sequence") {
    val root = Files.createTempDirectory("vstress").resolve("t").toString
    // retention must out-last the worst CAS lag under 8 writers: a
    // fold plan pinned at vN must still find its dir after the other
    // 7 writers commit ahead of it
    val keep = 80
    VersionedTable.upsert(spark, root,
      Seq((0L, "seed")).toDF("id", "v"), Seq("id"), keepVersions = keep)
    val nWriters = 8
    val opsPerWriter = 10
    val keysPerWriter = 10
    // the version each upsert / vacuum returned
    val upsertVersions =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val vacuumVersions =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // per-writer serial model: key -> live value after its own ops
    val models = Array.fill(nWriters)(
      scala.collection.mutable.HashMap[Long, String]())
    val threads = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          val rnd = new java.util.Random(9000L + w)
          val myKeys =
            ((w + 1) * 100L until (w + 1) * 100L + keysPerWriter).toVector
          (0 until opsPerWriter).foreach { step =>
            val r = rnd.nextInt(10)
            if (r < 6) { // upsert 1-3 of my keys
              val ks = Vector.fill(1 + rnd.nextInt(3))(
                myKeys(rnd.nextInt(keysPerWriter))).distinct
              val rows = ks.map(k => (k, s"w${w}s$step"))
              upsertVersions.add(VersionedTable.upsert(spark, root,
                rows.toDF("id", "v"), Seq("id"), keepVersions = keep,
                maxRetries = 30))
              rows.foreach { case (k, v) => models(w)(k) = v }
            } else if (r < 9) { // softDelete 1-2 of my keys
              val ks = Vector.fill(1 + rnd.nextInt(2))(
                myKeys(rnd.nextInt(keysPerWriter))).distinct
              VersionedTable.softDelete(spark, root, ks.toDF("id"),
                Seq("id"), keepVersions = keep, maxRetries = 30)
              ks.foreach(models(w).remove)
            } else { // vacuum: logical identity, physical fold
              vacuumVersions.add(VersionedTable.vacuumDeletes(spark, root,
                Seq("id"), keepVersions = keep, maxRetries = 30))
            }
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    assert(threads.forall(!_.isAlive), "a stress writer is stuck")
    assert(errors.isEmpty, s"writer threw: ${errors.toArray.toSeq}")
    val got = VersionedTable.readLiveWithDeletes(spark, root, Seq("id"))
      .select("id", "v").as[(Long, String)].collect().toMap
    val expected = Map(0L -> "seed") ++ models.flatMap(_.toSeq)
    assert(got === expected,
      s"diverged: missing=${expected.keySet -- got.keySet} " +
        s"extra=${got.keySet -- expected.keySet} " +
        s"changed=${expected.collect { case (k, v)
          if got.get(k).exists(_ != v) => k -> (v, got(k)) }}")
    // history is linear: every version is the commit of the seed, of
    // exactly one upsert or of a vacuum that folded something (a vacuum
    // with nothing masked commits nothing and returns the version it
    // read), so CAS retries create none
    import scala.jdk.CollectionConverters._
    val ups = upsertVersions.asScala.toSeq
    assert(ups.distinct.size === ups.size)
    assert((ups ++ vacuumVersions.asScala :+ 1L).toSet ===
      (1L to VersionedTable.readManifest(root).get.version).toSet)
  }

  test("8 partitioned writers converge: cross-partition interleaving " +
    "never loses a partition pointer or a row") {
    val root = Files.createTempDirectory("vstressP").resolve("t").toString
    VersionedTable.upsert(spark, root,
      Seq(("seed", 0L, -1L)).toDF("dt", "id", "v"), Seq("dt", "id"),
      Seq("dt"))
    val nWriters = 8
    val opsPerWriter = 6
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val models = Array.fill(nWriters)(
      scala.collection.mutable.HashMap[Long, Long]())
    val threads = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          val rnd = new java.util.Random(7000L + w)
          (0 until opsPerWriter).foreach { step =>
            // each writer owns its key range; dt is a FUNCTION of the
            // key (the documented partitioned-merge contract), and
            // k % 3 spreads every writer across all three partitions —
            // so manifest pointer flips genuinely interleave across
            // writers within each shared partition
            val k = (w + 1) * 100L + rnd.nextInt(10)
            val dt = s"d${k % 3}"
            VersionedTable.upsert(spark, root,
              Seq((dt, k, w * 1000L + step)).toDF("dt", "id", "v"),
              Seq("dt", "id"), partitionBy = Seq("dt"),
              maxRetries = 30)
            models(w)(k) = w * 1000L + step
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    assert(threads.forall(!_.isAlive), "a partitioned writer is stuck")
    assert(errors.isEmpty, s"writer threw: ${errors.toArray.toSeq}")
    val rows = VersionedTable.readLive(spark, root)
      .select("id", "v").as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length === rows.length,
      s"duplicate live rows for a key: ${rows.toSeq.sortBy(_._1)}")
    val got = rows.toMap
    val expected = Map(0L -> -1L) ++ models.flatMap(_.toSeq)
    assert(got === expected,
      s"diverged: missing=${expected.keySet -- got.keySet} " +
        s"extra=${got.keySet -- expected.keySet} " +
        s"changed=${expected.collect { case (k, v)
          if got.get(k).exists(_ != v) => k -> (v, got(k)) }}")
    assert(VersionedTable.readPartitionedManifest(root).get.version ===
      1L + nWriters.toLong * opsPerWriter)
  }

  test("maintenance racing ingest: compactPartitions and removeOrphans " +
    "interleave with 4 upsert writers without losing rows or pointers") {
    val root = Files.createTempDirectory("vstressM").resolve("t").toString
    val rootP = java.nio.file.Paths.get(root)
    VersionedTable.upsert(spark, root,
      Seq(("seed", 0L, -1L)).toDF("dt", "id", "v"), Seq("dt", "id"),
      Seq("dt"), keepVersions = 40)
    // planted AGED crash artifacts: the orphan thread's grace period
    // must reap exactly these while every live writer's staging stays
    // untouched
    def plantAged(p: java.nio.file.Path): Unit = {
      Files.createDirectories(p.getParent)
      Files.write(p, "junk".getBytes)
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1000L))
      Files.setLastModifiedTime(p.getParent,
        java.nio.file.attribute.FileTime.fromMillis(1000L))
      ()
    }
    plantAged(rootP.resolve("_staging-dead").resolve("f.parquet"))
    plantAged(rootP.resolve("v00000099").resolve("f.parquet"))
    val nWriters = 4
    val opsPerWriter = 6
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val models = Array.fill(nWriters)(
      scala.collection.mutable.HashMap[Long, Long]())
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          val rnd = new java.util.Random(8000L + w)
          (0 until opsPerWriter).foreach { step =>
            val k = (w + 1) * 100L + rnd.nextInt(10)
            val dt = s"d${k % 3}"
            VersionedTable.upsert(spark, root,
              Seq((dt, k, w * 1000L + step)).toDF("dt", "id", "v"),
              Seq("dt", "id"), partitionBy = Seq("dt"),
              maxRetries = 30, keepVersions = 40)
            models(w)(k) = w * 1000L + step
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val compactor = new Thread(() => {
      try (0 until 4).foreach { _ =>
        VersionedTable.compactPartitions(spark, root, maxRetries = 30)
        Thread.sleep(40)
      } catch { case t: Throwable => errors.add(t) }
    })
    val cleaner = new Thread(() => {
      try (0 until 4).foreach { _ =>
        VersionedTable.removeOrphans(root, olderThanMs = 600000L)
        Thread.sleep(30)
      } catch { case t: Throwable => errors.add(t) }
    })
    (writers :+ compactor :+ cleaner).foreach(_.start())
    (writers :+ compactor :+ cleaner).foreach(_.join(180000))
    assert(writers.forall(!_.isAlive) && !compactor.isAlive &&
      !cleaner.isAlive, "a stress thread is stuck")
    assert(errors.isEmpty, s"thread threw: ${errors.toArray.toSeq}")
    // aged artifacts reaped; live data byte-for-byte the serial replay
    assert(!Files.exists(rootP.resolve("_staging-dead")))
    assert(!Files.exists(rootP.resolve("v00000099")))
    val got = VersionedTable.readLive(spark, root)
      .select("id", "v").as[(Long, Long)].collect().toMap
    val expected = Map(0L -> -1L) ++ models.flatMap(_.toSeq)
    assert(got === expected,
      s"diverged: missing=${expected.keySet -- got.keySet} " +
        s"extra=${got.keySet -- expected.keySet}")
  }

  test("position deletes racing partitioned writers and a vacuum: " +
    "deleted rows stay deleted, writer rows never lost") {
    val root = Files.createTempDirectory("vstressPD").resolve("t").toString
    // seed: 6 dedicated delete-target keys (ids 1..6) the writers
    // never touch, spread across 3 partitions
    VersionedTable.upsert(spark, root,
      (1L to 6L).map(k => (s"d${k % 3}", k, -k)).toDF("dt", "id", "v"),
      Seq("dt", "id"), Seq("dt"), keepVersions = 80)
    val nWriters = 4
    val opsPerWriter = 4
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val models = Array.fill(nWriters)(
      scala.collection.mutable.HashMap[Long, Long]())
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          val rnd = new java.util.Random(9100L + w)
          (0 until opsPerWriter).foreach { step =>
            val k = (w + 1) * 100L + rnd.nextInt(8)
            VersionedTable.upsert(spark, root,
              Seq((s"d${k % 3}", k, w * 1000L + step))
                .toDF("dt", "id", "v"),
              Seq("dt", "id"), Seq("dt"), maxRetries = 40,
              keepVersions = 80)
            models(w)(k) = w * 1000L + step
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    import org.apache.spark.sql.functions.col
    val deleter = new Thread(() => {
      try (1L to 6L).foreach { k =>
        VersionedTable.softDeletePos(spark, root,
          col("id") === k, maxRetries = 60)
      } catch { case t: Throwable => errors.add(t) }
    })
    val vacuumer = new Thread(() => {
      try (0 until 3).foreach { _ =>
        Thread.sleep(400)
        VersionedTable.vacuumPosDeletes(spark, root,
          maxRetries = 40)
        ()
      } catch { case t: Throwable => errors.add(t) }
    })
    (writers :+ deleter :+ vacuumer).foreach(_.start())
    (writers :+ deleter :+ vacuumer).foreach(_.join(240000))
    assert(writers.forall(!_.isAlive) && !deleter.isAlive &&
      !vacuumer.isAlive, "a racer is stuck")
    assert(errors.isEmpty, s"racer threw: ${errors.toArray.toSeq}")
    // a final vacuum folds whatever is still merge-on-read
    VersionedTable.vacuumPosDeletes(spark, root,
      maxRetries = 40)
    val rows = VersionedTable
      .readLiveWithPosDeletes(spark, root)
      .select("id", "v").as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length === rows.length,
      s"duplicate live rows: ${rows.toSeq.sortBy(_._1)}")
    val got = rows.toMap
    // every pre-seeded target deleted; every writer row at its final
    // serial value (a rewrite folding deletes must never drop or
    // resurrect anything)
    assert((1L to 6L).forall(k => !got.contains(k)),
      s"deleted keys resurfaced: ${got.keySet.filter(_ <= 6L)}")
    val expected = models.flatMap(_.toSeq).toMap
    assert(got === expected,
      s"diverged: missing=${expected.keySet -- got.keySet} " +
        s"extra=${got.keySet -- expected.keySet}")
    // physically folded too
    assert(VersionedTable.readLive(spark, root)
      .filter(col("id") <= 6L).count() === 0)
  }
}
