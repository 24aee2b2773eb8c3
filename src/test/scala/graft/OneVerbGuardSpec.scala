package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan: each table operation exists once and reads the
  * table's form from its manifest. A per-form twin of a verb (a
  * `*Partitioned` write or read, or a facade read beside the DSv2
  * `readTable`) makes the caller restate the form, and a wrong form
  * commits a snapshot that drops the table's earlier rows. This spec
  * fails if one of the retired twin names comes back anywhere under
  * `src/` or the benchmark's sources.
  */
class OneVerbGuardSpec extends AnyFunSuite {

  private val retired = Seq(
    // VersionedTable twins of readLive, readVersion, readRef, append,
    // upsert, appendToBranch, replaceTable, addBloomSidecar
    "readLivePartitioned", "readPartitionedVersion", "readPartitionedRef",
    "appendPartitioned", "upsertPartitioned", "appendPartitionedToBranch",
    "replaceTablePartitioned", "addBloomSidecarPartitioned",
    // Graft facade twins of versionedUpsert, readTable, readTag,
    // addBloomSkipping
    "versionedUpsertPartitioned", "readVersioned", "readVersionedPartitioned",
    "readVersionedPartitionedAt", "readTagPartitioned", "readWithDeletes",
    "readWithPositionDeletes", "addBloomSkippingPartitioned")

  private val nameRe = retired.mkString("\\b(", "|", ")\\b").r

  test("no retired per-form twin verb appears in the sources") {
    val roots = Seq(Paths.get("src"), Paths.get("perfbench", "src"))
    assert(Files.isDirectory(roots.head),
      s"run from the repository root: ${roots.head}")
    val files: Seq[Path] = roots.filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.filterNot(_.getFileName.toString == "OneVerbGuardSpec.scala")
    assert(files.exists(_.getFileName.toString == "VersionedTable.scala"))
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- nameRe.findAllMatchIn(line)
    } yield s"$f:${i + 1}: ${m.group(1)}"
    assert(hits.isEmpty,
      "call the one verb (it reads the form from the manifest):\n" +
        hits.mkString("\n"))
  }
}
