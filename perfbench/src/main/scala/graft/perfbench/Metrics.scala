package graft.perfbench

/** Every metric the benchmark prints, by name, with its unit and direction.
  * Untraced runs print `EndToEnd`; traced runs print `PerLayer`. A per-layer
  * metric of a call the workload never makes reads 0.
  */
object Metrics {
  final case class Spec(name: String, unit: String, better: String)

  val EndToEnd: Seq[Spec] = Seq(
    Spec("setup_s", "s", "lower"),
    Spec("live_heap_peak_mb", "MB", "lower"),
    Spec("build_s", "s", "lower"),
    Spec("apply_rows_per_s", "rows/s", "higher"))

  val FitEstimators: Seq[String] = Roster.entries.map(_.name)
  val ScoreModels: Seq[String] = Roster.Scored
  val DayStages: Seq[String] = Seq("decontaminate", "quality", "dedup", "split", "extend_artifact")
  val KernelFamilies: Seq[String] = Seq("tokens", "shingle_minhash", "repetition", "band_hash")

  /** Spans of one (layer, name), aggregated per call. */
  final class Group(spans: Seq[Span]) {
    private def mean(f: Span => Double): Double =
      if (spans.isEmpty) 0.0 else spans.map(f).sum / spans.size
    private def wallS = spans.map(_.wallMs).sum / 1e3
    def jobs: Double = mean(_.incl.jobs.toDouble)
    def stages: Double = mean(_.incl.stages.toDouble)
    def tasks: Double = mean(_.incl.tasks.toDouble)
    def taskMs: Double = mean(_.incl.taskMs.toDouble)
    def gcMs: Double = mean(_.gcMs.toDouble)
    def callMs: Double = mean(_.wallMs)
    def rowsOut: Double = mean(s => math.max(0L, s.rows).toDouble)
    def idleShare: Double = {
      val wall = spans.map(_.wallMs).sum
      if (wall > 0) spans.map(_.idleMs).sum / wall else 0.0
    }
    def rowsPerS: Double = if (wallS > 0) spans.map(s => math.max(0L, s.rows)).sum / wallS else 0.0
    def shuffleRead: Double = mean(_.incl.shuffleRead.toDouble)
    def shuffleWrite: Double = mean(_.incl.shuffleWrite.toDouble)
    def spill: Double = mean(_.incl.spill.toDouble)
    def inputBytes: Double = mean(_.incl.inputBytes.toDouble)
    def outputBytes: Double = mean(_.incl.outputBytes.toDouble)
    def planMs: Double = mean(_.incl.planMs.toDouble)
    def execMs: Double = mean(_.incl.execMs.toDouble)
    def planLines: Double = mean(_.incl.planLines.toDouble)
    def exchanges: Double = mean(_.incl.exchanges.toDouble)
  }

  private final case class Layer(spec: Spec, span: String, value: Group => Double)

  private def m(name: String, unit: String, better: String, span: String)(f: Group => Double) =
    Layer(Spec(name, unit, better), span, f)

  private val layers: Seq[Layer] =
    FitEstimators.flatMap { e =>
      val s = s"ml.fit.$e"
      Seq(
        m(s"$s.jobs", "count", "lower", s)(_.jobs),
        m(s"$s.stages", "count", "lower", s)(_.stages),
        m(s"$s.tasks", "count", "lower", s)(_.tasks),
        m(s"$s.task_ms", "ms", "lower", s)(_.taskMs),
        m(s"$s.idle_share", "ratio", "lower", s)(_.idleShare),
        m(s"$s.gc_ms", "ms", "lower", s)(_.gcMs),
        m(s"$s.shuffle_bytes", "B", "lower", s)(g => g.shuffleRead + g.shuffleWrite))
    } ++ ScoreModels.flatMap { e =>
      val s = s"ml.transform.$e"
      Seq(
        m(s"$s.jobs", "count", "lower", s)(_.jobs),
        m(s"$s.tasks", "count", "lower", s)(_.tasks),
        m(s"$s.task_ms", "ms", "lower", s)(_.taskMs),
        m(s"$s.idle_share", "ratio", "lower", s)(_.idleShare))
    } ++ Seq(
      m("pipeline.day.plan_ms", "ms", "lower", "pipeline.day")(_.planMs),
      m("pipeline.day.exec_ms", "ms", "lower", "pipeline.day")(_.execMs),
      m("pipeline.day.plan_lines", "lines", "lower", "pipeline.day")(_.planLines),
      m("pipeline.day.exchanges", "count", "lower", "pipeline.day")(_.exchanges)
    ) ++ DayStages.flatMap { st =>
      val s = s"pipeline.$st"
      Seq(
        m(s"$s.call_ms", "ms", "lower", s)(_.callMs),
        m(s"$s.jobs", "count", "lower", s)(_.jobs),
        m(s"$s.task_ms", "ms", "lower", s)(_.taskMs),
        m(s"$s.rows_out", "rows", "higher", s)(_.rowsOut))
    } ++ Seq(
      m("pipeline.artifact_build.call_ms", "ms", "lower", "pipeline.artifact_build")(_.callMs),
      m("pipeline.artifact_build.jobs", "count", "lower", "pipeline.artifact_build")(_.jobs),
      m("pipeline.artifact_build.task_ms", "ms", "lower", "pipeline.artifact_build")(_.taskMs),
      m("pipeline.artifact_build.bytes_written", "B", "lower", "pipeline.artifact_build")(_.outputBytes)
    ) ++ KernelFamilies.flatMap { k =>
      val s = s"sql_graft.$k"
      Seq(
        m(s"$s.rows_per_s", "rows/s", "higher", s)(_.rowsPerS),
        m(s"$s.task_ms", "ms", "lower", s)(_.taskMs))
    } ++ Seq(
      m("sources.jsonl_read.rows_per_s", "rows/s", "higher", "sources.jsonl_read")(_.rowsPerS),
      m("sources.jsonl_read.bytes", "B", "lower", "sources.jsonl_read")(_.inputBytes)
    ) ++ {
      // whole-workload engine totals, per pass
      val s = "bench.pass"
      Seq(
        m("spark.jobs", "count", "lower", s)(_.jobs),
        m("spark.stages", "count", "lower", s)(_.stages),
        m("spark.tasks", "count", "lower", s)(_.tasks),
        m("spark.task_ms", "ms", "lower", s)(_.taskMs),
        m("spark.idle_share", "ratio", "lower", s)(_.idleShare),
        m("spark.gc_ms", "ms", "lower", s)(_.gcMs),
        m("spark.shuffle_read_bytes", "B", "lower", s)(_.shuffleRead),
        m("spark.shuffle_write_bytes", "B", "lower", s)(_.shuffleWrite),
        m("spark.spill_bytes", "B", "lower", s)(_.spill),
        m("spark.plan_ms", "ms", "lower", s)(_.planMs))
    }

  /** Measured outside spans and supplied by the workload (0 elsewhere). */
  private val extraSpecs: Seq[Spec] = Seq(
    Spec("pipeline.dedup.candidates", "pairs", "lower"),
    Spec("pipeline.dedup.victims", "docs", "higher"),
    Spec("pipeline.dedup.candidate_yield", "ratio", "higher"))

  val PerLayer: Seq[Spec] = layers.map(_.spec) ++ extraSpecs

  /** Per-layer values of a traced run, in `PerLayer` order. */
  def perLayer(spans: Seq[Span], extras: Map[String, Double]): Seq[(Spec, Double)] = {
    val groups = spans.groupBy(s => s"${s.layer}.${s.name}").view.mapValues(new Group(_)).toMap
    val empty = new Group(Nil)
    val fromSpans = layers.map(l => l.spec.name -> l.value(groups.getOrElse(l.span, empty))).toMap
    PerLayer.map(s => s -> fromSpans.getOrElse(s.name, extras.getOrElse(s.name, 0.0)))
  }
}
