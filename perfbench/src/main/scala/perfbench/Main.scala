package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.{Timer, TimerTask}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Runs one workload for a fixed measuring time and prints one JSON
  * result line on stdout.
  *
  * {{{
  *   perfbench.Main --workload <etl_daily|table_ops|corpus_dedup>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` alternates
  * traced and untraced cycles of steps — the traced ones record spans and Spark
  * listener events — and prints the per-layer metrics, including the
  * tracing overhead measured against the untraced steps of the same run.
  */
object Main {
  val SetupReps = 3
  val StepTimeoutMs = 120000L

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  /** Nearest-rank tail percentile. The highest percentile that leaves ten
    * samples above it needs a hundred samples of a kind; a run holds 2 to
    * about 30, so p90 is used — the maximum for kinds with under ten.
    */
  val TailPct = 0.9

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "etl_daily" => new EtlDaily(spark, seed)
    case "table_ops" => new TableOps(spark, seed)
    case "corpus_dedup" => new CorpusDedup(spark, seed)
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.build("perfbench", s"local[$cores]", cores)
    val code =
      try { run(a, spark, (System.currentTimeMillis() - jvmStartMs) / 1000.0); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          1
      }
    spark.stop()
    sys.exit(code)
  }

  /** Run `body` in a job group cancelled after [[StepTimeoutMs]]. */
  private def guarded(spark: SparkSession, timer: Timer, id: Int)(body: => Unit): Unit = {
    val group = s"perfbench-step-$id"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = true)
    val task = new TimerTask { def run(): Unit = sc.cancelJobGroup(group) }
    timer.schedule(task, StepTimeoutMs)
    try body finally { task.cancel(); sc.clearJobGroup() }
  }

  def run(a: Args, spark: SparkSession, sessionS: Double): Unit = {
    val w = workload(a.workload, spark, a.seed)
    val timer = new Timer("perfbench-watchdog", true)
    Files.createDirectories(a.work)

    // set-up: seed from scratch several times (the median counts), then
    // warm up once with checked ops; a warm-up failure aborts the run
    val seedS = ArrayBuffer[Double]()
    var prev: Option[Path] = None
    (0 until SetupReps).foreach { r =>
      val d = a.work.resolve(s"state$r")
      Util.deleteTree(d)
      val t0 = System.nanoTime()
      w.seed(d)
      seedS += (System.nanoTime() - t0) / 1e9
      prev.foreach(Util.deleteTree)
      prev = Some(d)
    }
    val t1 = System.nanoTime()
    val warm = new Recorder
    (0 until w.warmupSteps).foreach(k => guarded(spark, timer, -1 - k)(w.step(warm, NoSpans)))
    if (warm.failed > 0)
      throw new IllegalStateException(s"warm-up failed: ${warm.failures.mkString("; ")}")
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = sessionS + Stats.median(seedS.toSeq) + warmS

    // measure: a closed loop, one client
    val plain = new Recorder
    val traced = new Recorder
    val tracer = new Tracer(spark.sparkContext)
    traced.spans = tracer
    val listener = new LayerListener(spark.sparkContext, spark)
    val steps = ArrayBuffer[TracedStep]()
    val budgetNs = a.seconds * 1000000000L
    val wallStart = System.nanoTime()
    var i = 0
    // untraced: whole cycles of steps until the timed budget is spent.
    // Traced: traced and untraced cycles alternate until the traced ones
    // have spent it.
    def more = i % w.cycle != 0 ||
      (if (a.trace) traced.timedNs < budgetNs || plain.attempted == 0
       else plain.timedNs < budgetNs)
    while (more && System.nanoTime() - wallStart < 6 * budgetNs) {
      if (a.trace && (i / w.cycle) % 2 == 0) {
        val before = (traced.attempted, traced.timedNs, traced.rows)
        tracer.beginOp(i)
        listener.attach()
        try guarded(spark, timer, i)(w.step(traced, tracer))
        finally listener.detach()
        steps += TracedStep(i, traced.attempted - before._1, traced.timedNs - before._2,
          traced.rows - before._3, listener.collect(tracer.spanAt(i)))
      } else guarded(spark, timer, i)(w.step(plain, NoSpans))
      i += 1
    }
    timer.cancel()

    // end of run, untimed: storage, heap
    val stored = w.tableRoots.map(Util.dirBytes).sum
    val compact = w.compactBytes(a.work.resolve("compact"))
    val (filesLive, versions) = w.filesAndVersions
    // full GCs with pauses between them, so the context cleaner can drop
    // what the first collection made unreachable
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val attempted = plain.attempted + traced.attempted
    val failed = plain.failed + traced.failed
    def p50(r: Recorder, k: String) = if (r.of(k).isEmpty) 0.0 else Stats.median(r.of(k))
    def pt(r: Recorder, k: String) = if (r.of(k).isEmpty) 0.0 else Stats.percentile(r.of(k), TailPct)
    val timedS = plain.timedNs / 1e9
    // tracing overhead: traced vs untraced median latency of each phase
    // kind both kinds of step ran (steps differ, so whole ops do not
    // compare), then the median over those kinds
    val shared = Seq("write", "read", "reread")
      .filter(k => traced.of(k).nonEmpty && plain.of(k).nonEmpty)
    val overhead =
      if (shared.isEmpty) 0.0 else Stats.median(shared.map(k => p50(traced, k) / p50(plain, k))) - 1

    // end-to-end metrics come from untraced steps only; a traced run
    // prints them too, after its per-layer metrics, and run.py keeps the
    // names BENCHMARK.json lists for the mode
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", p50(plain, "op"), "ms"),
      ("op_tail_ms", pt(plain, "op"), "ms"),
      ("cpu_ms_per_op", p50(plain, "cpu"), "ms"),
      ("ops_per_s", plain.of("op").size / timedS, "ops/s"),
      ("rows_per_s", plain.rows / timedS, "rows/s"),
      ("write_p50_ms", p50(plain, "write"), "ms"),
      ("write_tail_ms", pt(plain, "write"), "ms"),
      ("read_p50_ms", p50(plain, "read"), "ms"),
      ("read_tail_ms", pt(plain, "read"), "ms"),
      ("reread_p50_ms", p50(plain, "reread"), "ms"),
      ("storage_amp", stored.toDouble / compact, "ratio"),
      ("driver_heap_mb", heapMb, "MB"))
    val metrics =
      if (!a.trace) endToEnd
      else Layers.metrics(a.workload, w, tracer, steps.toSeq,
        Stats.median(seedS.toSeq), warmS, sessionS,
        overhead, filesLive, versions) ++ endToEnd

    val report = a.work.resolve(s"report-${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}.json")
    val sampleCounts = (plain.kinds ++ traced.kinds).distinct
      .map(k => s""""$k": ${plain.of(k).size + traced.of(k).size}""").mkString(", ")
    Files.write(report, (s"""{"workload": "${a.workload}", "seed": ${a.seed}, """ +
      s""""input_digest": "${w.inputDigest}", "tail_percentile": $TailPct, """ +
      s""""samples": {$sampleCounts}, "setup_seed_s": ${seedS.mkString("[", ", ", "]")}, """ +
      s""""setup_warmup_s": $warmS, "session_s": $sessionS, """ +
      s""""failed_frac": ${if (attempted == 0) 1.0 else failed.toDouble / attempted}, """ +
      s""""failures": ${plain.failures.++(traced.failures).map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""ops": ${(plain.log ++ traced.log).map { case (l, ok, ps) =>
        s"""[${Json.str(l)}, $ok, ${ps.map { case (k, ms) => s"[${Json.str(k)}, ${Json.num(ms)}]" }
          .mkString("[", ", ", "]")}]""" }.mkString("[", ", ", "]")}, """ +
      s""""metrics": ${Json.metrics(metrics)}}""" + "\n").getBytes(StandardCharsets.UTF_8))
    if (a.trace) tracer.writeJsonl(a.work.resolve(s"spans-${a.workload}-s${a.seed}.jsonl"))
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed}: $attempted ops, " +
      s"$failed failed, input digest ${w.inputDigest}; report $report")
    (plain.failures ++ traced.failures).take(5).foreach(f => System.err.println(s"[perfbench] $f"))

    println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": ${Json.metrics(metrics)}}""")
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      .mkString("{", ", ", "}")
}

/** What one traced step did: its ops, timed wall, rows, and the Spark
  * work attributed to each of its spans.
  */
final case class TracedStep(step: Int, ops: Int, wallNs: Long, rows: Long,
                            work: Map[Int, SpanWork])
