package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan: a flat manifest or history entry lists its snapshot's
  * segment dirs under `"live"`, and exactly one parser
  * (`VersionedTable.flatSegments`) and one renderer
  * (`VersionedTable.renderFlatManifest`) touch that field. A second
  * `"live"` regex would read one segment where the entry lists several,
  * and retention or `removeOrphans` would then delete live data.
  */
class SegmentListGuardSpec extends AnyFunSuite {

  private val owners = Set("flatSegments", "renderFlatManifest")

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("the \"live\" field of a flat manifest is parsed and rendered " +
    "only by VersionedTable.flatSegments and renderFlatManifest") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"run from the repository root: $main")
    val files: Seq[Path] = {
      val s = Files.walk(main)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }
    val defRe = """^  (?:override\s+)?(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    // a regex over the field ("live"\s…) or a rendered field ("live":)
    val fieldRe = """"live"(?:\\s|\s*:)""".r
    val hits = files.flatMap { f =>
      val name = f.getFileName.toString
      var enclosing = ""
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (l, i) =>
        defRe.findFirstMatchIn(l).foreach(m => enclosing = m.group(1))
        if (!isComment(l) && fieldRe.findFirstIn(l).isDefined)
          Some((name, enclosing, s"$f:${i + 1} (in $enclosing)"))
        else None
      }
    }
    val offenders = hits.filterNot { case (name, enclosing, _) =>
      name == "VersionedTable.scala" && owners(enclosing)
    }
    assert(offenders.isEmpty,
      "parse or render the segment list through VersionedTable's " +
        "flatSegments / renderFlatManifest instead:\n" +
        offenders.map(_._3).mkString("\n"))
    assert(hits.count(_._2 == "flatSegments") == 1,
      s"expected exactly one parser regex: ${hits.map(_._3)}")
    assert(hits.exists(_._2 == "renderFlatManifest"),
      s"the renderer moved: ${hits.map(_._3)}")
  }
}
