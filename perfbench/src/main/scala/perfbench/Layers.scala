package perfbench

/** Per-layer metrics of a traced run. Every metric in [[Units]] is
  * printed for every workload; a layer the workload never calls reads 0.
  */
object Layers {
  /** (name, unit) of each per-layer metric. */
  val Units: Seq[(String, String)] = Seq(
    "core.session_s" -> "s", "core.seed_s" -> "s", "core.warmup_s" -> "s",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.gc_ms_per_op" -> "ms",
    "spark.job_ms_per_op" -> "ms", "spark.driver_ms_per_op" -> "ms") ++
    Seq("write", "read", "reread").flatMap(k =>
      Seq("analysis", "optimization", "planning").map(p => s"plans.$k.${p}_ms" -> "ms")) ++
    Seq(
      "sources.read.driver_ms" -> "ms", "sources.reread.driver_ms" -> "ms",
      "sources.read.jobs" -> "count", "sources.reread.jobs" -> "count",
      "sources.read.records_per_row" -> "ratio", "sources.read.bytes_read" -> "bytes",
      "sinks.write.driver_ms" -> "ms", "sinks.write.jobs" -> "count",
      "sinks.write.bytes_per_changed_row" -> "bytes",
      "sinks.maint_s" -> "s", "sinks.maint_bytes_rewritten" -> "bytes",
      "sinks.files_live" -> "count", "sinks.versions_retained" -> "count",
      "operators.flatten_clean_s" -> "s", "operators.quality_s" -> "s",
      "sinks.merge_s" -> "s", "sinks.merge_write_amp" -> "ratio",
      "models.build_s" -> "s", "models.tests_s" -> "s", "runner.retries" -> "count",
      "functions.sketch_s" -> "s",
      "trace.overhead_frac" -> "ratio", "trace.residual_frac" -> "ratio")

  /** Printed in addition for `corpus_dedup`, which is not in BENCHMARK.json. */
  val CorpusUnits: Seq[(String, String)] = Seq(
    "functions.text_quality_s" -> "s", "operators.exact_dedup_s" -> "s",
    "operators.fuzzy_dedup_s" -> "s", "operators.pack_s" -> "s",
    "operators.index_probe_s" -> "s", "operators.verified_pairs" -> "count",
    "sinks.index_bytes_per_doc_byte" -> "ratio")

  private final case class Phase(n: Int, durNs: Long, coveredMs: Long, work: SpanWork)

  def metrics(workload: String, w: Workload, tracer: Tracer, steps: Seq[TracedStep],
              seedS: Double, warmS: Double, sessionS: Double, overhead: Double,
              filesLive: Long, versions: Long): Seq[(String, Double, String)] = {
    val ops = math.max(1, steps.map(_.ops).sum).toDouble
    def workOf(st: TracedStep, spans: Seq[Span]): SpanWork = {
      val out = new SpanWork
      spans.foreach(s => st.work.get(s.id).foreach(out.add))
      out
    }
    val perStep = steps.map(st => workOf(st, tracer.opSpans(st.step)))
    val covered = perStep.map(x => SpanWork.coveredMs(x.jobIntervals.toSeq)).sum
    val total = new SpanWork
    perStep.foreach(total.add)

    def phase(kind: String): Phase = {
      var n = 0; var dur = 0L; var cov = 0L
      val acc = new SpanWork
      steps.foreach { st =>
        tracer.opSpans(st.step).filter(_.name == s"phase.$kind").foreach { p =>
          val x = workOf(st, tracer.subtree(p))
          n += 1; dur += p.durNs; cov += SpanWork.coveredMs(x.jobIntervals.toSeq)
          acc.add(x)
        }
      }
      Phase(n, dur, cov, acc)
    }
    val ph = Seq("write", "read", "reread", "maint").map(k => k -> phase(k)).toMap
    def per(p: Phase, v: Double) = if (p.n == 0) 0.0 else v / p.n
    def driverMs(p: Phase) = per(p, p.durNs / 1e6 - p.coveredMs)

    def spansNamed(name: String) =
      steps.flatMap(st => tracer.opSpans(st.step).filter(_.name == name).map(st -> _))
    def selfS(name: String) = spansNamed(name).map(x => tracer.selfNs(x._2)).sum / 1e9 / ops
    val mergeBytes = spansNamed("sinks.merge")
      .map { case (st, s) => workOf(st, tracer.subtree(s)).bytesWritten }.sum

    val wall = steps.map(_.wallNs).sum
    val layerSelf = steps.flatMap(st => tracer.opSpans(st.step))
      .filterNot(_.name.startsWith("phase.")).map(tracer.selfNs).sum
    val counters = w.layerCounters

    val values: Map[String, Double] = Map(
      "core.session_s" -> sessionS, "core.seed_s" -> seedS, "core.warmup_s" -> warmS,
      "spark.jobs_per_op" -> total.jobs / ops,
      "spark.tasks_per_op" -> total.tasks / ops,
      "spark.shuffle_bytes_per_op" -> total.shuffleBytes / ops,
      "spark.gc_ms_per_op" -> total.gcMs / ops,
      "spark.job_ms_per_op" -> covered / ops,
      "spark.driver_ms_per_op" -> (wall / 1e6 - covered) / ops,
      "sources.read.driver_ms" -> driverMs(ph("read")),
      "sources.reread.driver_ms" -> driverMs(ph("reread")),
      "sources.read.jobs" -> per(ph("read"), ph("read").work.jobs),
      "sources.reread.jobs" -> per(ph("reread"), ph("reread").work.jobs),
      "sources.read.records_per_row" -> per(ph("read"), ph("read").work.recordsRead.toDouble),
      "sources.read.bytes_read" -> per(ph("read"), ph("read").work.bytesRead.toDouble),
      "sinks.write.driver_ms" -> driverMs(ph("write")),
      "sinks.write.jobs" -> per(ph("write"), ph("write").work.jobs),
      "sinks.write.bytes_per_changed_row" ->
        ph("write").work.bytesWritten.toDouble / math.max(1L, steps.map(_.rows).sum),
      "sinks.maint_s" -> per(ph("maint"), ph("maint").durNs / 1e9),
      "sinks.maint_bytes_rewritten" -> per(ph("maint"), ph("maint").work.bytesWritten.toDouble),
      "sinks.files_live" -> filesLive.toDouble,
      "sinks.versions_retained" -> versions.toDouble,
      "operators.flatten_clean_s" -> selfS("operators.flatten_clean"),
      "operators.quality_s" -> selfS("operators.quality"),
      "sinks.merge_s" -> selfS("sinks.merge"),
      "sinks.merge_write_amp" -> (w match {
        case e: EtlDaily => e.mergeWriteAmp(mergeBytes)
        case _ => 0.0
      }),
      "models.build_s" -> selfS("models.build"),
      "models.tests_s" -> selfS("models.tests"),
      "functions.sketch_s" -> selfS("functions.sketch"),
      "functions.text_quality_s" -> selfS("functions.text_quality"),
      "operators.exact_dedup_s" -> selfS("operators.exact_dedup"),
      "operators.fuzzy_dedup_s" -> selfS("operators.fuzzy_dedup"),
      "operators.pack_s" -> selfS("operators.pack"),
      "operators.index_probe_s" -> selfS("operators.index_probe"),
      "trace.overhead_frac" -> overhead,
      "trace.residual_frac" -> (if (wall == 0) 0.0 else (wall - layerSelf).toDouble / wall)
    ) ++ Seq("write", "read", "reread").flatMap { k =>
      val p = ph(k)
      Seq(s"plans.$k.analysis_ms" -> per(p, p.work.analysisMs.toDouble),
        s"plans.$k.optimization_ms" -> per(p, p.work.optimizationMs.toDouble),
        s"plans.$k.planning_ms" -> per(p, p.work.planningMs.toDouble))
    } ++ counters

    val units = if (workload == "corpus_dedup") Units ++ CorpusUnits else Units
    units.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
