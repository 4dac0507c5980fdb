package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point: one closed-loop client makes every call in sequence on
  * `local[cores]`, with as many shuffle partitions, under session defaults
  * otherwise.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --cores <n> --work <dir>
  * Main --selftest --cores <n> --work <dir>
  * }}}
  *
  * The last stdout line is the result: `correct`, `attempted`, `failed` and
  * `metrics` (the end-to-end metrics untraced, the per-layer metrics
  * traced). The line before it carries the run's details: sizes, seed,
  * per-call medians, set-up breakdown, heap, versions and host-load stamps.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: File)

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = new File(kv.getOrElse("work", ".bench_build/work"))
    val code =
      try {
        if (argv.contains("--selftest")) SelfTest.run(cores, work)
        else run(Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
          kv.getOrElse("trace", "0") == "1", cores, work))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(a: Args): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Host.loadAvg()
    a.work.mkdirs()
    val spark = session(a.cores, a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, a.seed, a.cores, tiny = false, a.work)
    val wl = Workload(a.workload, ctx)
    val inputs = new File(a.work, s"inputs-${wl.name}")
    // set-up is repeated where it can be: the median of three generations
    val genS = (0 until 3).map { _ => Ctx.deleteTree(inputs); Ctx.timed(wl.generate(inputs))._2 }
    val (_, prepareS) = Ctx.timed(wl.prepare(inputs))
    val (warm, warmS) = Ctx.timed(wl.pass(0))
    val setupS = sessionS + median(genS) + prepareS + warmS

    val runId = s"${wl.name}-${a.seed}-${System.currentTimeMillis()}"
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext, runId)) else None
    ctx.tracer = tracer
    val heap = new Host.HeapWatch
    ctx.heap = Some(heap)
    val passes = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    var p = 1
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      passes += ctx.span("bench", "pass")(wl.pass(p))
      p += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    ctx.heap = None
    tracer.foreach { t => wl.probes(); t.finish() }
    ctx.tracer = None

    val calls = passes.flatMap(_.calls).toSeq
    def buildS(cs: Seq[Call]) = cs.filter(_.build).map(_.seconds).sum
    def applyRate(cs: Seq[Call]) = {
      val applied = cs.filterNot(_.build)
      applied.map(_.rows).sum / applied.map(_.seconds).sum
    }
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "live_heap_peak_mb" -> heap.peakMb,
      "build_s" -> median(passes.map(p => buildS(p.calls.toSeq)).toSeq),
      "apply_rows_per_s" -> applyRate(calls))
    val all = warm +: passes.toSeq
    val attempted = all.map(_.calls.size).sum
    val failed = all.map(_.failed).sum

    val calib = Host.calibrate()
    val calibMem = Host.calibrateMem()
    val detail = Seq(
      "workload" -> wl.name, "seed" -> a.seed, "trace" -> a.trace, "run_id" -> runId,
      "sizes" -> Json.Raw(Json.obj(wl.sizes)),
      "passes" -> passes.size, "loop_s" -> loopS,
      "per_pass" -> passes.map(p => Json.Raw(Json.obj(Seq(
        "build_s" -> buildS(p.calls.toSeq), "apply_rows_per_s" -> applyRate(p.calls.toSeq))))).toSeq,
      "call_medians_s" -> Json.Raw(Json.obj(calls.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, cs) => n -> median(cs.map(_.seconds)) })),
      "workload_metrics" -> Json.Raw(Json.obj(workloadMetrics(calls))),
      "end_to_end" -> Json.Raw(Json.obj(endToEnd)),
      "setup" -> Json.Raw(Json.obj(Seq("jvm_and_session_s" -> sessionS, "generate_s" -> genS,
        "prepare_s" -> prepareS, "warmup_s" -> warmS))),
      "failures" -> all.flatMap(_.failures).take(20),
      "host" -> Json.Raw(Json.obj(Seq(
        "cores" -> a.cores, "available_processors" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "scala_version" -> scala.util.Properties.versionNumberString,
        "loadavg_start" -> loadStart, "loadavg_end" -> Host.loadAvg(),
        "calib_sec" -> calib, "calib_mem_sec" -> calibMem))))
    val metrics: Seq[(String, Any)] = tracer match {
      case None =>
        endToEnd.map { case (n, v) =>
          n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> Metrics.EndToEnd.find(_.name == n).get.unit)))
        }
      case Some(t) =>
        Metrics.perLayer(t.spans.toSeq, wl.extras).map { case (s, v) =>
          s.name -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> s.unit)))
        }
    }
    val detailJson = Json.obj(detail)
    val outDir = new File(a.work, if (a.trace) "trace" else "results")
    outDir.mkdirs()
    val record = tracer match {
      case None => Json.obj(Seq("detail" -> Json.Raw(detailJson)))
      case Some(t) => Json.obj(Seq("detail" -> Json.Raw(detailJson),
        "per_layer" -> Json.Raw(Json.obj(metrics)), "spans" -> Json.Raw(t.toJson)))
    }
    java.nio.file.Files.writeString(new File(outDir, s"${wl.name}.json").toPath, record)

    spark.stop()
    println(Json.obj(Seq("detail" -> Json.Raw(detailJson))))
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics)))))
    0
  }

  /** The workload-specific figures: per-estimator fit seconds, per-model
    * scoring rows/s, daily docs/s and the artifact build seconds.
    */
  private def workloadMetrics(calls: Seq[Call]): Seq[(String, Double)] =
    calls.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, cs) =>
      val secs = cs.map(_.seconds)
      n.split('.') match {
        case Array("fit", e) => s"fit_s.$e" -> median(secs)
        case Array("score", m) => s"score_rows_per_s.$m" -> cs.map(_.rows).sum / secs.sum
        case Array("day") => "dedup_docs_per_s" -> cs.map(_.rows).sum / secs.sum
        case _ => s"${n}_s" -> median(secs)
      }
    }
}

/** Host stamps: load average, machine-speed anchors, live heap. */
object Host {
  def loadAvg(): Seq[Double] =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).toSeq.map(_.toDouble) finally src.close()
    } catch { case _: Exception => Seq.empty }

  @volatile private var sink = 0L

  /** Fixed single-thread integer loop, best of three, in seconds. */
  def calibrate(): Double = (0 until 3).map { _ =>
    val t0 = System.nanoTime()
    var i = 0L
    var s = 0L
    while (i < 100000000L) { s += i * i; i += 1 }
    sink = s
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Copies of a 64 MiB long array (DRAM traffic), best of three, in seconds. */
  def calibrateMem(): Double = {
    val n = 8 * 1024 * 1024
    val a = Array.tabulate(n)(_.toLong * 2654435761L)
    val b = new Array[Long](n)
    (0 until 3).map { r =>
      val t0 = System.nanoTime()
      System.arraycopy(a, 0, b, 0, n)
      System.arraycopy(b, 0, a, 0, n)
      sink += a((r + 1) * 7919 % n)
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Peak old-generation occupancy after a collection, in MiB. Sampled
    * after every timed call, right after a full collection, so each sample
    * is the data the process holds at that point and not an accident of
    * when the collector last ran.
    */
  final class HeapWatch {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter { p =>
      p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
        (p.getName.contains("Old") || p.getName.contains("Tenured"))
    }
    private var peak = 0L
    private def read(): Long = pools.map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum
    def sample(): Unit = {
      System.gc()
      peak = math.max(peak, read())
    }
    def peakMb: Double = peak / 1048576.0
  }
}
