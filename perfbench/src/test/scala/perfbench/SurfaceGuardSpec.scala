package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark drives graft only through its public entry points, so a
  * change that deletes an internal seam (scan audits, typed pruning
  * variants, memos) cannot break the instrument that measures it.
  */
class SurfaceGuardSpec extends AnyFunSuite {

  private val forbidden = Seq(
    "GraftScanAudit" -> "scan-decision audit",
    "pruneDecision" -> "typed pruning variants",
    "readLive\\w*Pruned" -> "typed pruned reads",
    "GraftScanPlanner" -> "scan planner internals",
    "scanRddMemo" -> "scan-RDD memo",
    "memoFlatParquet|memoFilesParquet" -> "schema memos",
    "FingerprintMemo|SessionMemo" -> "memo mechanisms",
    "pairGraphMemo|builtRoots" -> "operator memos",
    "\\w+Cached\\b" -> "memo-backed entry points",
    "^\\s*package\\s+graft" -> "graft's package (private[graft] access)")

  private def sources: Seq[Path] = {
    val here = Paths.get(sys.props("user.dir"))
    val root = Seq(here.resolve("src/main/scala"), here.resolve("perfbench/src/main/scala"))
      .find(Files.isDirectory(_)).getOrElse(fail(s"benchmark sources not found from $here"))
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  test("benchmark sources reference no internal seam of graft") {
    val files = sources
    assert(files.exists(_.getFileName.toString == "TableOps.scala"))
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      (pattern, what) <- forbidden
      if pattern.r.findFirstIn(line).isDefined
    } yield s"${f.getFileName}:${n + 1}: $what: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
