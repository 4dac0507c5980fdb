package graft.perfbench

import java.io.File
import java.nio.file.Files

/** The benchmark's own checks, at tiny scale:
  *  - the same seed generates byte-identical inputs, another seed different ones;
  *  - every correctness check passes on real outputs and goes red on a
  *    corrupted one (a survivor removed, a prediction moved by one ulp, a
  *    model replaced by its Dummy baseline);
  *  - the traced runs emit a span in every layer, and every per-layer metric;
  *  - BENCHMARK.json, when run from the checkout root, declares exactly the
  *    metrics the benchmark prints.
  * Prints one line per check and returns the exit code.
  */
object SelfTest {
  private val Layers = Set("ml", "pipeline", "sql_graft", "sources", "spark")

  def run(cores: Int, work: File): Int = {
    val root = new File(work, "selftest")
    Ctx.deleteTree(root)
    root.mkdirs()
    val spark = Main.session(cores, root)
    var ok = true
    def report(pass: Boolean, what: String): Unit = {
      println(s"selftest: ${if (pass) "ok  " else "FAIL"} $what")
      ok &&= pass
    }
    val layers = collection.mutable.Set[String]()
    val perLayer = collection.mutable.Map[String, Double]()
    try Workload.Names.foreach { name =>
      def ctxFor(seed: Long) = new Ctx(spark, seed, cores, tiny = true, new File(root, name))
      val a = new File(root, s"$name/gen-a")
      val b = new File(root, s"$name/gen-b")
      val c = new File(root, s"$name/gen-c")
      Workload(name, ctxFor(7)).generate(a)
      Workload(name, ctxFor(7)).generate(b)
      Workload(name, ctxFor(8)).generate(c)
      report(sameBytes(a, b), s"$name: seed 7 twice gives byte-identical inputs")
      report(!sameBytes(a, c), s"$name: seeds 7 and 8 give different inputs")

      val ctx = ctxFor(7)
      val wl = Workload(name, ctx)
      wl.generate(a)
      wl.prepare(a)
      val clean = wl.pass(1)
      report(clean.failed == 0 && clean.calls.nonEmpty,
        s"$name: checks pass on real outputs (${clean.calls.size} calls) ${clean.failures.mkString("; ")}")
      ctx.corrupt = true
      val bad = wl.pass(2)
      report(bad.failed > 0, s"$name: checks go red on corrupted outputs " +
        s"(${bad.failed} of ${bad.calls.size} calls: ${bad.failures.headOption.getOrElse("none")})")
      ctx.corrupt = false

      val t = new Tracer(spark.sparkContext, s"selftest-$name")
      ctx.tracer = Some(t)
      ctx.span("bench", "pass")(wl.pass(3))
      wl.probes()
      t.finish()
      ctx.tracer = None
      layers ++= t.spans.map(_.layer)
      report(t.spans.forall(s => s.endMs >= s.startMs) && t.spans.exists(_.incl.jobs > 0),
        s"$name: traced pass closed ${t.spans.size} spans and attributed engine jobs")
      Metrics.perLayer(t.spans.toSeq, wl.extras).foreach { case (s, v) =>
        perLayer(s.name) = math.max(perLayer.getOrElse(s.name, 0.0), v)
      }
    } finally spark.stop()
    report(Layers.subsetOf(layers), s"traced runs emit spans in every layer " +
      s"(${Layers.mkString(", ")}); missing: ${(Layers -- layers).mkString(", ")}")
    val zero = Metrics.PerLayer.map(_.name).filter(n => perLayer.getOrElse(n, 0.0) == 0.0)
      .filterNot(n => n.endsWith(".spill_bytes") || n.endsWith(".shuffle_bytes") ||
        n.endsWith("shuffle_read_bytes") || n.endsWith("shuffle_write_bytes") ||
        n.endsWith(".gc_ms") || n.endsWith(".idle_share"))
    report(zero.isEmpty, s"every per-layer metric is measured by some workload; zero: ${zero.mkString(", ")}")
    val declared = new File("BENCHMARK.json")
    if (declared.isFile) {
      val spec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(declared)
      def listed(key: String) = {
        val it = spec.get(key).elements()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(n => Metrics.Spec(n.get("name").asText, n.get("unit").asText, n.get("better").asText)).toSeq
      }
      report(listed("end_to_end") == Metrics.EndToEnd && listed("per_layer") == Metrics.PerLayer,
        "BENCHMARK.json lists exactly the metrics the benchmark prints, with their units and directions")
    }
    Ctx.deleteTree(root)
    if (ok) 0 else 1
  }

  /** Same relative files with the same bytes. Spark's part-file names carry
    * a per-write random id, which is dropped before comparing.
    */
  private def sameBytes(a: File, b: File): Boolean = {
    def files(d: File): Map[String, File] = {
      val base = d.toPath
      Files.walk(base).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => base.relativize(p).toString
          .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1") -> p.toFile).toMap
    }
    val (fa, fb) = (files(a), files(b))
    fa.keySet == fb.keySet && fa.nonEmpty && fa.forall { case (k, f) =>
      java.util.Arrays.equals(Files.readAllBytes(f.toPath), Files.readAllBytes(fb(k).toPath))
    }
  }
}
