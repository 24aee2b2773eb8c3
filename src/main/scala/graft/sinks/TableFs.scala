package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The table format's publish protocol, in one place. Every
  * table-state file (manifests, history entries, refs, renames,
  * constraints, sidecar stats, catalog metadata, streaming replay
  * markers) appears through [[publishFile]], and every committed
  * version directory through [[publishVersionDir]] under
  * [[withCommitLock]]. So there is one temp-name rule ([[isTemp]]), one
  * place a crash can leave debris, and one list of protocol points for
  * tests to interleave at ([[withSeam]]).
  */
object TableFs {

  val CommitLock = "_commit.lock"

  /** Commit-section mutex via atomic create-file; held only for the
    * staging-dir rename + manifest flip (never during data writes).
    * A lock older than `staleMs` is presumed crashed and reclaimed —
    * commit sections are milliseconds, so a minute-old lock is a dead
    * writer, not a slow one. (On object stores without atomic create,
    * this slot is where a real table format's conditional-PUT goes.)
    * Not re-entrant: a thread that already holds the lock fails fast
    * instead of waiting out its own heartbeat.
    */
  def withCommitLock[T](root: Path, timeoutMs: Long = 60000,
                        staleMs: Long = 60000,
                        name: String = CommitLock)
                       (body: => T): T = {
    val lock = key(root.resolve(name))
    if (held.get.contains(lock))
      throw new IllegalStateException(s"$lock is already held by this thread")
    fire(root, BeforeLock, lock)
    val deadline = System.currentTimeMillis() + timeoutMs
    var acquired = false
    while (!acquired) {
      try { Files.createFile(lock); acquired = true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          try {
            val age = System.currentTimeMillis() -
              Files.getLastModifiedTime(lock).toMillis
            if (age > staleMs) Files.deleteIfExists(lock)
          } catch { case _: Throwable => () } // lock vanished: re-race
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"commit lock $lock not acquired within ${timeoutMs}ms")
          Thread.sleep(20)
      }
    }
    // Staleness is judged by lock AGE, and some holders legitimately
    // outlive staleMs (a merge-on-read commit keeps the MAIN lock
    // across its sub-table merge job). Heartbeat the mtime while the
    // body runs so a LIVE holder can never be reclaimed out from
    // under its own critical section; a crashed holder stops
    // refreshing and ages out exactly as before.
    val hb = new Thread(() => {
      var live = true
      while (live) {
        try {
          Thread.sleep(math.max(staleMs / 4, 1000))
          Files.setLastModifiedTime(lock, java.nio.file.attribute
            .FileTime.fromMillis(System.currentTimeMillis()))
        } catch {
          case _: InterruptedException => live = false // body done
          // transient IO hiccup must NOT kill the heartbeat — a dead
          // heartbeat revives the stale-reclaim-of-a-live-holder race
          // this thread exists to close; keep refreshing
          case _: Throwable => ()
        }
      }
    })
    hb.setDaemon(true)
    hb.start()
    held.set(held.get + lock)
    val result =
      try body
      finally {
        held.set(held.get - lock)
        hb.interrupt()
        Files.deleteIfExists(lock)
      }
    fire(root, AfterUnlock, lock) // after a body that completed only
    result
  }

  /** Replace `target` atomically with `text`: a hidden, per-call
    * unique temp beside it is written, then moved into place. Readers
    * see the old bytes or the new ones, never a prefix; concurrent
    * publishers of one target never share a temp, and the last move
    * wins.
    */
  def publishFile(target: Path, text: String): Unit = {
    val dir = target.getParent
    Files.createDirectories(dir)
    fire(ownerRoot(target), BeforePublish, target)
    val tmp = dir.resolve(
      s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    fire(ownerRoot(target), AfterPublish, target)
  }

  /** Move a completely written staging directory into place as the
    * next version directory `vNNNNNNNN` and return its number,
    * `maxAllocatedVersion(root) + 1`. Allocation and move are one step
    * only under the root's commit lock, so the calling thread must
    * hold it.
    */
  def publishVersionDir(root: Path, staging: Path): Long = {
    if (!held.get.contains(key(root.resolve(CommitLock))))
      throw new IllegalStateException(
        s"publishVersionDir($root) outside the table's commit lock")
    val next = maxAllocatedVersion(root) + 1
    val target = root.resolve(VersionedTable.versionDirName(next))
    fire(root, BeforePublish, target)
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    fire(root, AfterPublish, target)
    next
  }

  /** The highest version number EVER allocated under this root —
    * manifest, history entry (retained or pruned, main or branch) or
    * version directory (one a crashed committer moved into place
    * without flipping). Allocating past all three keeps main-line and
    * branch commits on one collision-free sequence.
    */
  def maxAllocatedVersion(root: Path): Long = {
    def numbered(dir: Path, re: scala.util.matching.Regex): Seq[Long] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.toSeq.flatMap(p =>
          re.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toLong))
        finally s.close()
      }
    val r = root.toString
    (VersionedTable.readManifest(r).map(_.version)
      .orElse(VersionedTable.readPartitionedManifest(r).map(_.version)) ++
      numbered(root.resolve("_versions"), """^v(\d{8})\.json$""".r) ++
      numbered(root, """^v(\d{8})$""".r)).foldLeft(0L)(math.max)
  }

  /** THE temp-name rule: [[publishFile]]'s `.<target>.<uuid>.tmp`,
    * plus the `_<name>.json.tmp*` names earlier releases wrote (a
    * crash of those still leaves them behind).
    * `VersionedTable.removeOrphans` reaps exactly these.
    */
  def isTemp(name: String): Boolean = TempRe.pattern.matcher(name).matches()

  private val TempRe = """\..+\.tmp|_[a-z_]+\.json\.tmp.*""".r

  // ---- test seam -------------------------------------------------------

  /** A named point of the protocol. The lock points fire outside the
    * lock, so an action there may run any verb on the same table; the
    * publish points fire inside it (an action there may throw to model
    * a crash, but must not take the lock).
    */
  sealed trait Point
  case object BeforeLock extends Point
  case object AfterUnlock extends Point
  case object BeforePublish extends Point
  case object AfterPublish extends Point

  private final case class Seam(root: Path, at: Point, action: Path => Unit)

  private val seams = ThreadLocal.withInitial[List[Seam]](() => Nil)
  private val held = ThreadLocal.withInitial[Set[Path]](() => Set.empty)

  /** Run `body` with `action` registered at `at` for table `root`: it
    * runs (with the lock file or publish target) each time THIS thread
    * reaches that point on that root while `body` runs. Other threads
    * never see it, and seams do not fire while an action runs.
    */
  private[graft] def withSeam[T](root: String, at: Point)
                                (action: Path => Unit)(body: => T): T = {
    val saved = seams.get
    seams.set(Seam(key(Paths.get(root)), at, action) :: saved)
    try body finally seams.set(saved)
  }

  private def fire(root: Path, at: Point, subject: Path): Unit = {
    val live = seams.get
    if (live.nonEmpty) {
      val r = key(root)
      live.filter(s => s.at == at && s.root == r).foreach { s =>
        seams.set(Nil)
        try s.action(subject) finally seams.set(live)
      }
    }
  }

  private def key(p: Path): Path = p.toAbsolutePath.normalize

  /** The table a published file belongs to: its directory, or the
    * table root for a `_versions/` history entry.
    */
  private def ownerRoot(target: Path): Path = {
    val dir = target.getParent
    if (dir.getFileName.toString == "_versions") dir.getParent else dir
  }
}
