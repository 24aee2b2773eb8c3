package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan: table state is published only through
  * `graft.sinks.TableFs`. An `ATOMIC_MOVE` anywhere else in
  * `src/main` is a hand-rolled publish that skips the one temp-name
  * rule, the orphan reaper and the test seam. Two files keep
  * directory swaps outside it: `MergeWriter` (the unversioned upsert)
  * and `GraftCatalog`, in its directory-move functions only.
  */
class PublishGuardSpec extends AnyFunSuite {

  private val allowedFiles = Set("TableFs.scala", "MergeWriter.scala")
  private val catalogDirMoves =
    Set("commitStaged", "commitStagedExternal", "renameTable", "renameView")

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("ATOMIC_MOVE appears in src/main only inside TableFs and the " +
    "allowlisted directory swaps") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val files: Seq[Path] = {
      val s = Files.walk(main)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }
    // members of a top-level class or object (nested defs keep the
    // member that encloses them)
    val defRe = """^  (?:override\s+)?(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    val offenders = files.flatMap { f =>
      val name = f.getFileName.toString
      var enclosing = ""
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (l, i) =>
        defRe.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
        val hit = l.contains("ATOMIC_MOVE") && !isComment(l)
        val allowed = allowedFiles(name) ||
          (name == "GraftCatalog.scala" && catalogDirMoves(enclosing))
        if (hit && !allowed) Some(s"$f:${i + 1} (in $enclosing)") else None
      }
    }
    assert(offenders.isEmpty,
      "publish through graft.sinks.TableFs instead:\n" +
        offenders.mkString("\n"))
    assert(files.exists(_.getFileName.toString == "TableFs.scala"))
  }
}
