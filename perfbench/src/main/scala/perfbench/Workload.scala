package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: a seeded input generator, the graft calls
  * each op makes, and the model that checks every output.
  */
trait Workload {
  /** Generate inputs and seed the program's state under `dir`, from
    * scratch. Called once per setup repetition.
    */
  def seed(dir: Path): Unit

  /** One closed-loop step: one or more ops, each recorded in `rec`.
    * `sp` opens a span around every call into a layer (a no-op when
    * the step is untraced).
    */
  def step(rec: Recorder, sp: Spans): Unit

  /** Untimed, checked steps run once after seeding. */
  def warmupSteps: Int = 1

  /** A run measures a whole number of cycles of this many steps, so
    * every run covers the same mix of work.
    */
  def cycle: Int = 1

  /** Digest of the inputs the seed fixes (tables, first batches). */
  def inputDigest: String

  /** Directories holding the workload's output tables. */
  def tableRoots: Seq[Path]

  /** Bytes of the output tables' live rows written once as compact
    * parquet under `scratch` (the denominator of `storage_amp`).
    */
  def compactBytes(scratch: Path): Long

  /** Data files live in the output tables and versions they retain. */
  def filesAndVersions: (Long, Long)

  /** Workload-specific counters of the traced run, by metric name. */
  def layerCounters: Map[String, Double] = Map.empty
}

/** SHA-256 over generated inputs. */
final class InputDigest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
  def hex: String = md.clone().asInstanceOf[MessageDigest].digest()
    .map("%02x".format(_)).mkString
}

object Util {
  /** SplitMix64: the generators' deterministic hash. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def mix(a: Long, b: Long, c: Long = 0L, d: Long = 0L): Long =
    mix(mix(mix(mix(a) ^ b) ^ c) ^ d)

  /** Uniform in [0, n). */
  def below(h: Long, n: Int): Int = java.lang.Math.floorMod(h, n.toLong).toInt

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def parquetFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.toString.endsWith(".parquet")).count()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Bytes of `df` written once as compact parquet under `scratch`. */
  def compactBytes(spark: SparkSession, df: DataFrame, scratch: Path): Long = {
    deleteTree(scratch)
    df.coalesce(1).write.parquet(scratch.toString)
    val n = dirBytes(scratch)
    deleteTree(scratch)
    n
  }
}
