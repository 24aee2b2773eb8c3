package graft

import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}
import org.apache.spark.sql.SparkSession

/** [[Bench]]'s timing path and output contract, kept apart from the
  * sweep so a spec can drive them with queries of its own.
  */
object BenchTiming {

  /** One timed run. Only a run that finished carries a time: a query
    * that throws after 10 ms is [[Failed]], never a 10 ms success.
    */
  sealed trait Outcome
  final case class Timed(sec: Double) extends Outcome
  final case class Failed(error: Throwable) extends Outcome
  case object TimedOut extends Outcome

  /** A query's reported entry: `sec` is the min over its finished
    * runs, or the budget when every run timed out; None when a run
    * failed (the query is listed in `failed` and gets no time).
    */
  final case class QueryResult(name: String, sec: Option[Double],
                               timedOut: Boolean, thirdRun: Boolean) {
    def failed: Boolean = sec.isEmpty
  }

  /** Runs one query body at a time under a per-run watchdog: a hung
    * query must not lose the WHOLE bench artifact. The clock starts
    * INSIDE the submitted callable (queue wait from a still-draining
    * prior cancellation is never billed to the next query), each
    * callable clears a stale interrupt flag first (task.cancel(true)
    * can race query completion and leave the flag set for the NEXT
    * query), and a worker stuck somewhere cancelJobGroup/interrupt
    * cannot reach is ABANDONED: the executor is replaced so later
    * queries never queue behind a dead one.
    */
  final class Timer(spark: SparkSession, budgetMs: Long) {
    private var pool = Executors.newSingleThreadExecutor()

    def run(name: String)(body: => Unit): Outcome = {
      val task = pool.submit(new Callable[Outcome] {
        override def call(): Outcome = {
          Thread.interrupted() // drop a stale cancel-race interrupt
          val t0 = System.nanoTime()
          spark.sparkContext.setJobGroup(name, name,
            interruptOnCancel = true)
          try { body; Timed((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable => Failed(e) }
          finally spark.sparkContext.clearJobGroup()
        }
      })
      try task.get(budgetMs, TimeUnit.MILLISECONDS)
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          if (!task.isDone) task.cancel(true)
          // give the cancelled run a short grace to unwind, then
          // abandon a stuck worker so the next query gets a live one
          try task.get(15000, TimeUnit.MILLISECONDS)
          catch { case _: Throwable => () }
          if (!task.isDone) {
            pool.shutdownNow()
            pool = Executors.newSingleThreadExecutor()
          }
          TimedOut
        case e: Throwable => Failed(e)
      }
    }

    def shutdown(): Unit = pool.shutdownNow()
  }

  /** Two finished runs that DISAGREE >2x (the contention signature —
    * a stable-state query re-measured back-to-back should repeat), or
    * a heavy min, earn a third run after the sweep.
    */
  def suspicious(runs: Seq[Outcome]): Boolean =
    runs.collect { case Timed(s) => s } match {
      case ts @ Seq(_, _) =>
        (ts.max > 2 * ts.min && ts.min > 0.5) || ts.min > 5.0
      case _ => false
    }

  def fold(name: String, runs: Seq[Outcome], budgetMs: Long,
           thirdRun: Boolean): QueryResult = {
    val times = runs.collect { case Timed(s) => s }
    val failed = runs.exists(_.isInstanceOf[Failed])
    QueryResult(name,
      if (failed) None
      else Some(if (times.nonEmpty) times.min else budgetMs / 1000.0),
      timedOut = !failed && times.isEmpty, thirdRun)
  }

  /** The two-line output contract, hardened for a bounded TAIL
    * capture (rounds 1-3 all lost the artifact to FRONT-truncation of
    * one big line): the long per-query map gets its own line FIRST,
    * and the LAST line is a short (<120 char) self-contained total
    * that always fits the capture window whole; nothing may print
    * after it. Failed queries are listed on line 1 only — absent from
    * `queries` and from `total`.
    */
  def contractLines(results: Seq[QueryResult], sfName: String,
                    memoBuildSec: Double, loadStart: Double,
                    loadEnd: Double, cores: Int): (String, String) = {
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def names(rs: Seq[QueryResult]): String =
      rs.map("\"" + _.name + "\"").mkString("[", ",", "]")
    val timed = results.collect { case QueryResult(k, Some(v), _, _) =>
      k -> v }
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    val thirdRuns = results.count(_.thirdRun)
    (s"""{"metric":"queries","unit":"sec","sf":"$sfName","memo_build_sec":${f(memoBuildSec)},"load_avg_start":${f(loadStart)},"load_avg_end":${f(loadEnd)},"cores":$cores,"third_runs":$thirdRuns,"timed_out":${names(results.filter(_.timedOut))},"failed":${names(results.filter(_.failed))},"queries":$qs}""",
     s"""{"metric":"total","value":${f(total)},"unit":"sec","sf":"$sfName","load_avg":${f(math.max(loadStart, loadEnd))}}""")
  }
}
