package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** An op's output did not match the answer derived from the op log. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new CheckFailed(what)

  def equal[A](got: A, want: A, what: String): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

/** Closed-loop op timing with failure accounting.
  *
  * An op is a sequence of timed phases (`write`, `read`, `reread`,
  * `maint`, `compute`), each one latency sample of its kind. Each
  * phase's body is timed; its check runs after the clock stops, so
  * checking never adds latency. An op whose
  * body throws or whose check fails counts as failed and contributes
  * NO latency sample, for the op or for any of its phases — a failure
  * can never be reported as fast. Each op also records the process CPU
  * time its phases took (`cpu`), which a host's CPU steal does not
  * inflate the way it inflates wall time.
  */
final class Recorder(clock: () => Long = () => System.nanoTime(),
                     cpuClock: () => Long = Recorder.processCpuNs) {
  private val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var attempted = 0
  var failed = 0
  /** Rows completed by successful ops. */
  var rows = 0L
  /** Time inside the timed bodies of every attempted op, failed or not. */
  var timedNs = 0L
  val failures = ArrayBuffer[String]()
  /** (label, succeeded, phase kinds and ms) of every attempted op, in order. */
  val log = ArrayBuffer[(String, Boolean, Seq[(String, Double)])]()
  /** Opens a `phase.<kind>` span around each phase of a traced op. */
  var spans: Spans = NoSpans

  final class Op private[Recorder] () {
    private[Recorder] val phases = ArrayBuffer[(String, Long)]()
    private[Recorder] var rows = 0L
    private[Recorder] var cpuNs = 0L

    /** Time `body` as one phase of kind `kind`, then run `check` on
      * its result with the clock stopped.
      */
    def phase[T](kind: String)(body: => T)(check: T => Unit): T = {
      val c0 = cpuClock()
      val t0 = clock()
      val r = try spans(s"phase.$kind")(body)
        finally {
          phases += (kind -> (clock() - t0))
          cpuNs += cpuClock() - c0
        }
      check(r)
      r
    }

    def addRows(n: Long): Unit = rows += n
    def elapsedNs: Long = phases.iterator.map(_._2).sum
  }

  /** Run one op. Returns the op's latency in ms when it succeeded. */
  def op(label: String)(body: Op => Unit): Option[Double] = {
    attempted += 1
    val o = new Op
    val result =
      try { body(o); None }
      catch { case NonFatal(e) => Some(e) }
    timedNs += o.elapsedNs
    log += ((label, result.isEmpty, o.phases.map { case (k, ns) => k -> ns / 1e6 }.toSeq))
    result match {
      case Some(e) =>
        failed += 1
        failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
      case None =>
        rows += o.rows
        val ms = o.elapsedNs / 1e6
        add("op", ms)
        add("cpu", o.cpuNs / 1e6)
        o.phases.foreach { case (k, ns) => add(k, ns / 1e6) }
        Some(ms)
    }
  }

  private def add(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, ArrayBuffer()) += ms

  def of(kind: String): Seq[Double] =
    samples.get(kind).map(_.toSeq).getOrElse(Nil)

  def kinds: Seq[String] = samples.keys.toSeq
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM: driver, local executors, JIT and GC. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
