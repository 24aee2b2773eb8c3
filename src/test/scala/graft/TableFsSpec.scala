package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._
import graft.sinks.{TableFs, VersionedTable}

/** The publish primitive every table-state file and version dir goes
  * through: atomic replace under contention, hidden temps, version
  * allocation only under the commit lock, and the thread-scoped seam.
  */
class TableFsSpec extends SparkSpec {
  import spark.implicits._

  private def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  test("N threads publishing one target never throw, and a concurrent " +
    "reader only ever sees one complete body") {
    val dir = Files.createTempDirectory("tablefs")
    val target = dir.resolve("_refs.json")
    val (writers, rounds) = (6, 40)
    // every body states its own length, so a torn or mixed read shows
    def body(t: Int, r: Int): String = {
      val pad = 2048 + 97 * t + r
      s"$t:$r:$pad:" + ("x" * pad) + ":end"
    }
    def complete(s: String): Boolean = s.split(":") match {
      case Array(_, _, n, xs, "end") => xs.length == n.toInt &&
        xs.forall(_ == 'x')
      case _ => false
    }
    val errs = new ConcurrentLinkedQueue[Throwable]
    val torn = new ConcurrentLinkedQueue[String]
    val start = new CountDownLatch(1)
    @volatile var done = false
    val reader = new Thread(() => {
      while (!done) {
        try {
          if (Files.exists(target)) {
            val s = new String(Files.readAllBytes(target), UTF_8)
            if (!complete(s)) torn.add(s.take(40))
          }
        } catch { case e: Throwable => errs.add(e) }
      }
    })
    val threads = (0 until writers).map { t =>
      new Thread(() => {
        start.await()
        (0 until rounds).foreach { r =>
          try TableFs.publishFile(target, body(t, r))
          catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    reader.start()
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    done = true
    reader.join()
    assert(errs.isEmpty, s"publish/read threw: ${errs.peek()}")
    assert(torn.isEmpty, s"torn reads: ${torn.asScala.take(3)}")
    val last = new String(Files.readAllBytes(target), UTF_8)
    assert(complete(last) && last.split(":")(1).toInt == rounds - 1)
    // no temp outlives its publish
    assert(listNames(dir) === Seq("_refs.json"))
  }

  test("temps are invisible to versions(), version allocation and the " +
    "_versions/ file stream, and match the one temp rule") {
    val root = tmpDir("tablefs_hist") + "/t"
    VersionedTable.upsert(spark, root,
      (1L to 3L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    VersionedTable.upsert(spark, root,
      Seq((4L, "v4")).toDF("id", "v"), Seq("id"))
    val rootP = java.nio.file.Paths.get(root)
    val before = VersionedTable.versions(root)
    assert(before === Seq(1L, 2L))
    // a crashed publish of a future history entry: complete JSON in a
    // temp that never moved
    val temp = rootP.resolve("_versions")
      .resolve(s".v00000009.json.${java.util.UUID.randomUUID}.tmp")
    Files.write(temp, """{"version": 9, "live": "v00000009"}""".getBytes(UTF_8))
    assert(TableFs.isTemp(temp.getFileName.toString))
    assert(VersionedTable.versions(root) === before)
    assert(TableFs.maxAllocatedVersion(rootP) === 2L)
    val delivered = new ConcurrentLinkedQueue[Long]
    val q = VersionedTable.streamChanges(spark, root, Seq("id"),
      tmpDir("tablefs_ckpt")) { (_, v, _) => delivered.add(v); () }
    try q.processAllAvailable() finally q.stop()
    assert(delivered.asScala.toSeq.sorted === before)
    // the rule: publish temps and legacy temps, nothing committed
    Seq("._manifest.json.0f.tmp", "_manifest.json.tmp7",
      "_column_stats.json.tmp-ab", "_graft_catalog.json.tmp",
      "_stream_commits.json.tmp3").foreach(n => assert(TableFs.isTemp(n), n))
    Seq("_manifest.json", "v00000001.json", "v00000001", "_staging-x",
      ".t.ctas-1", "_snapshot.json", "_commit.lock")
      .foreach(n => assert(!TableFs.isTemp(n), n))
  }

  test("publishVersionDir outside the commit lock throws; under it, " +
    "it allocates past the manifest, history and version dirs") {
    val root = Files.createTempDirectory("tablefs")
    val staging = Files.createDirectories(root.resolve("_staging-a"))
    intercept[IllegalStateException](
      TableFs.publishVersionDir(root, staging))
    assert(Files.isDirectory(staging), "nothing may move without the lock")
    // a version dir moved in by a committer that crashed before its
    // flip must not be re-allocated
    Files.createDirectories(root.resolve("v00000003"))
    assert(TableFs.withCommitLock(root)(
      TableFs.publishVersionDir(root, staging)) === 4L)
    assert(Files.isDirectory(root.resolve("v00000004")))
    // a manifest flipped to a version with no dir of its own (a
    // branch fast-forward) and a history entry both count
    Files.write(root.resolve("_manifest.json"),
      """{"version": 10, "live": "v00000004"}""".getBytes(UTF_8))
    val staging2 = Files.createDirectories(root.resolve("_staging-b"))
    assert(TableFs.withCommitLock(root)(
      TableFs.publishVersionDir(root, staging2)) === 11L)
    Files.createDirectories(root.resolve("_versions"))
    Files.write(root.resolve("_versions").resolve("v00000020.json"),
      "{}".getBytes(UTF_8))
    assert(TableFs.maxAllocatedVersion(root) === 20L)
    // the lock is not re-entrant: fail fast, and release on the way out
    intercept[IllegalStateException](
      TableFs.withCommitLock(root)(TableFs.withCommitLock(root)(())))
    assert(!Files.exists(root.resolve(TableFs.CommitLock)))
  }

  test("a version dir left by a committer that died before its flip " +
    "does not wedge the next commit") {
    val root = tmpDir("tablefs_wedge") + "/t"
    VersionedTable.upsert(spark, root,
      (1L to 3L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val orphan = java.nio.file.Paths.get(root).resolve("v00000002")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), "junk".getBytes(UTF_8))
    VersionedTable.upsert(spark, root,
      Seq((4L, "v4")).toDF("id", "v"), Seq("id"))
    assert(VersionedTable.readManifest(root).get.version === 3L)
    assert(VersionedTable.readLive(spark, root).count() === 4L)
  }

  test("a seam registered on thread A does not fire for thread B's " +
    "publish on the same root, nor outside its block or its root") {
    val root = Files.createTempDirectory("tablefs")
    val seen = new ConcurrentLinkedQueue[String]
    TableFs.withSeam(root.toString, TableFs.BeforePublish) { p =>
      seen.add(p.getFileName.toString); ()
    } {
      val b = new Thread(() =>
        TableFs.publishFile(root.resolve("_b.json"), "b"))
      b.start()
      b.join()
      TableFs.publishFile(root.resolve("_a.json"), "a")
      // a history entry belongs to the table root
      TableFs.publishFile(
        root.resolve("_versions").resolve("v00000001.json"), "{}")
      TableFs.publishFile(root.resolve("_deletes").resolve("_c.json"), "c")
    }
    TableFs.publishFile(root.resolve("_d.json"), "d")
    assert(seen.asScala.toSeq === Seq("_a.json", "v00000001.json"))
    assert(Seq("_a.json", "_b.json", "_d.json")
      .forall(n => Files.exists(root.resolve(n))))
  }

  test("lock points fire outside the lock, so their action may take " +
    "the same lock; a failed body skips AfterUnlock") {
    val root = Files.createTempDirectory("tablefs")
    val lock = root.resolve(TableFs.CommitLock)
    val log = new ConcurrentLinkedQueue[String]
    def point(name: String): Path => Unit = { _ =>
      assert(!Files.exists(lock), s"$name fired inside the lock")
      TableFs.withCommitLock(root)(log.add(s"$name-nested"))
      ()
    }
    TableFs.withSeam(root.toString, TableFs.BeforeLock)(point("before")) {
      TableFs.withSeam(root.toString, TableFs.AfterUnlock)(point("after")) {
        TableFs.withCommitLock(root)(log.add("body"))
        intercept[UnsupportedOperationException](
          TableFs.withCommitLock(root)(
            throw new UnsupportedOperationException("body failed")))
      }
    }
    assert(log.asScala.toSeq === Seq("before-nested", "body",
      "after-nested", "before-nested"))
  }
}
