package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.ml.PredictionModel
import org.apache.spark.ml.classification.{ClassificationModel, DecisionTreeClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.graft._
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipeline.{Decontaminate, Dedup, Sampling, TextFunctions => TF}
import graft.sources.Jsonl

/** One timed call: its name, wall seconds, the input rows it processed, and
  * its phase. Every workload builds something (fitted models, a banding
  * artifact) and then applies it to rows (scoring, daily batches).
  */
final case class Call(name: String, seconds: Double, rows: Long, build: Boolean)

/** The timed calls of one pass and the outcome of their correctness checks.
  * A check judges the output of the latest call; a call with any failed
  * check counts as one failed operation.
  */
final class Pass {
  val calls = mutable.ArrayBuffer[Call]()
  val failures = mutable.ArrayBuffer[String]()
  private val failedCalls = mutable.Set[Int]()
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += what; failedCalls += calls.size - 1 }
  def failed: Int = failedCalls.size
}

/** What every workload shares: the session, seed, core count, scratch
  * directory, and the tracer when the run is traced.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int, val tiny: Boolean,
    val work: File) {
  var tracer: Option[Tracer] = None
  /** Set for timed passes: samples the live heap after every call. */
  var heap: Option[Host.HeapWatch] = None
  /** Self-test only: make every correctness check see a corrupted output. */
  var corrupt = false
  def traced: Boolean = tracer.isDefined
  def span[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.apply(layer, name)(body))
  def rows(n: Long): Unit = tracer.foreach(_.rows(n))
  def record(out: Pass, call: Call): Unit = {
    out.calls += call
    heap.foreach(_.sample())
  }
  /** A Spark action the benchmark itself runs: a span in the `spark` layer. */
  def action[T](name: String)(body: => T): T = span("spark", name)(body)
}

object Ctx {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** A benchmark workload: inputs generated from the seed, set-up, and a
  * pass — a fixed sequence of timed calls, each followed by an untimed
  * correctness check. An untimed first pass warms the JIT and Spark's
  * code-generation cache on the same plans; the loop then runs passes until
  * its time is up.
  */
trait Workload {
  def name: String
  /** Generate every input into `dir` from the seed. */
  def generate(dir: File): Unit
  /** Untimed set-up over the inputs in `dir` (reads, set-up fits). */
  def prepare(dir: File): Unit
  def pass(p: Int): Pass
  /** Traced runs only: per-kernel probes run once after the timed loop. */
  def probes(): Unit = ()
  /** Input sizes, recorded with each result. */
  def sizes: Seq[(String, Any)]
  /** Per-layer values measured outside spans, by metric name. */
  def extras: Map[String, Double] = Map.empty
}

object Workload {
  val Names = Seq("ensemble", "daily_dedup")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ensemble" => new Ensemble(ctx)
    case "daily_dedup" => new DailyDedup(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${Names.mkString(", ")})")
  }
}

/** The fixed roster, all on DecisionTree bases. Regressors learn `y`,
  * classifiers the 3-class `label`.
  */
object Roster {
  type Fitted = PredictionModel[Vector, _]

  final case class Entry(name: String, regression: Boolean, fit: DataFrame => Fitted)

  private def dtr(depth: Int) = new DecisionTreeRegressor().setMaxDepth(depth).setSeed(42L)
  private def dtc(depth: Int) = new DecisionTreeClassifier().setMaxDepth(depth).setSeed(42L)

  val entries: Seq[Entry] = Seq(
    Entry("gbm_regressor", regression = true, df => new GBMRegressor()
      .setBaseLearner(dtr(4)).setMaxIter(3).setLearningRate(0.3).setSeed(42L)
      .setLabelCol("y").fit(df)),
    // logloss over 3 classes: the K-dimensional state and per-class fits
    Entry("gbm_classifier", regression = false, df => new GBMClassifier()
      .setBaseLearner(dtr(4)).setMaxIter(1).setLoss("logloss").setLearningRate(0.5)
      .setSeed(42L).setLabelCol("label").fit(df)),
    // AdaBoost.R2
    Entry("boosting_regressor", regression = true, df => new BoostingRegressor()
      .setBaseLearner(dtr(4)).setNumBaseLearners(2).setLabelCol("y").fit(df)),
    // SAMME
    Entry("boosting_classifier", regression = false, df => new BoostingClassifier()
      .setBaseLearner(dtc(4)).setNumBaseLearners(2).setAlgorithm("discrete")
      .setLabelCol("label").fit(df)),
    Entry("bagging_classifier", regression = false, df => new BaggingClassifier()
      .setBaseLearner(dtc(5)).setNumBaseLearners(2).setVotingStrategy("soft").setSeed(42L)
      .setLabelCol("label").fit(df)),
    Entry("stacking_classifier", regression = false, df => new StackingClassifier()
      .setBaseLearners(Array(dtc(3), dtc(6))).setStacker(dtc(3)).setStackMethod("proba")
      .setLabelCol("label").fit(df)))

  /** The fitted models the apply phase scores, one per prediction shape:
    * tree sum, weighted median, vote, chained meta-model.
    */
  val Scored: Seq[String] =
    Seq("gbm_regressor", "boosting_regressor", "bagging_classifier", "stacking_classifier")

  def features(df: DataFrame): DataFrame = new VectorAssembler()
    .setInputCols((0 until Gen.Features).map(i => s"x$i").toArray)
    .setOutputCol("features")
    .transform(df)
}

/** `ensemble`: fits the roster on narrow dense instances (the build phase),
  * then scores a larger many-file table with four of the fitted models and
  * aggregates the predictions (the apply phase).
  *
  * The two phases have opposite profiles. The fits are bound by driver
  * round-trips: many small jobs per fit, most stages one task. That is where
  * the boosting-loop and fit-job work acts, and it predicts no change in the
  * apply phase. Scoring is few jobs, many tasks, compute in model predict —
  * where compiled prediction acts, predicting no change in the build phase.
  * The workload runs no text kernels and no pipeline operators.
  */
final class Ensemble(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "ensemble"
  private val trainRows = if (ctx.tiny) 4000L else 100000L
  private val testRows = if (ctx.tiny) 2000L else 20000L
  private val tableRows = if (ctx.tiny) 20000L else 300000L
  /** Scoring calls per model per pass; the pass keeps their median. */
  private val ScoreReps = 3
  private val tableFiles = 4 * ctx.cores
  private val CheckRows = 16
  private var train, test, table: DataFrame = _
  private var dummyRmse, dummyAcc = 0.0
  private var dummyReg, dummyCls: Roster.Fitted = _
  private lazy val checkIds: Seq[Long] = {
    val r = new java.util.SplittableRandom(ctx.seed ^ 0x5DEECE66DL)
    Seq.fill(CheckRows)(r.nextLong(tableRows)).distinct
  }

  /** Held-out bar each fitted model must clear against the Dummy baseline. */
  private val RmseRatio = 0.8
  private val AccMargin = 0.10

  def sizes: Seq[(String, Any)] = Seq("train_rows" -> trainRows, "test_rows" -> testRows,
    "score_table_rows" -> tableRows, "score_table_files" -> tableFiles,
    "train_files" -> ctx.cores, "features" -> Gen.Features,
    "roster" -> Roster.entries.map(_.name), "scored" -> Roster.Scored,
    "score_reps" -> ScoreReps, "checked_rows_per_scored_model" -> CheckRows)

  def generate(dir: File): Unit = {
    Gen.instances(spark, trainRows, ctx.cores, ctx.seed, new File(dir, "train").getPath)
    Gen.instances(spark, testRows, ctx.cores, ctx.seed + 1000003L, new File(dir, "test").getPath)
    Gen.instances(spark, tableRows, tableFiles, ctx.seed + 2000006L, new File(dir, "table").getPath)
  }

  def prepare(dir: File): Unit = {
    def load(sub: String) = Roster.features(spark.read.parquet(new File(dir, sub).getPath))
    train = load("train")
    test = load("test")
    table = load("table")
    dummyReg = new DummyRegressor().setStrategy("mean").setLabelCol("y").fit(train)
    dummyCls = new DummyClassifier().setStrategy("prior").setLabelCol("label").fit(train)
    dummyRmse = heldOut(dummyReg, regression = true)
    dummyAcc = heldOut(dummyCls, regression = false)
  }

  /** Held-out RMSE (regression) or accuracy (classification). */
  private def heldOut(m: Roster.Fitted, regression: Boolean): Double = {
    val p = m.transform(test)
    val metric =
      if (regression) sqrt(avg(pow(col("prediction") - col("y"), 2)))
      else avg(when(col("prediction") === col("label"), 1.0).otherwise(0.0))
    ctx.action("collect")(p.agg(metric).first()).getDouble(0)
  }

  private def score(model: Roster.Fitted, df: DataFrame): Row = {
    val out = model.transform(df)
    ctx.action("collect")(out.agg(count(lit(1)), sum("prediction")).first())
  }

  def pass(p: Int): Pass = {
    val out = new Pass
    val models = Roster.entries.map { e =>
      val (model, s) = Ctx.timed(ctx.span("ml", s"fit.${e.name}")(e.fit(train)))
      ctx.record(out, Call(s"fit.${e.name}", s, trainRows, build = true))
      val judged = if (ctx.corrupt) (if (e.regression) dummyReg else dummyCls) else model
      val m = ctx.span("ml", s"evaluate.${e.name}")(heldOut(judged, e.regression))
      if (e.regression)
        out.check(m <= RmseRatio * dummyRmse,
          f"${e.name}: held-out RMSE $m%.4f > $RmseRatio x Dummy $dummyRmse%.4f")
      else
        out.check(m >= dummyAcc + AccMargin,
          f"${e.name}: held-out accuracy $m%.4f < Dummy $dummyAcc%.4f + $AccMargin")
      e.name -> model
    }.toMap
    Roster.Scored.foreach { m =>
      val reps = (0 until ScoreReps).map { _ =>
        Ctx.timed(ctx.span("ml", s"transform.$m")(score(models(m), table)))
      }
      val agg = reps.last._1
      ctx.record(out, Call(s"score.$m", Main.median(reps.map(_._2)), tableRows, build = false))
      out.check(agg.getLong(0) == tableRows, s"$m: scored ${agg.getLong(0)} rows of $tableRows")
      checkSample(m, models(m), out)
    }
    out
  }

  /** `transform` output equals driver-side predict / predictRaw on seeded
    * rows, bit for bit.
    */
  private def checkSample(m: String, model: Roster.Fitted, out: Pass): Unit = {
    val scoredRows = model.transform(table.filter(col("id").isin(checkIds: _*)))
    val withRaw = scoredRows.columns.contains("rawPrediction")
    val rows = scoredRows.select((Seq("id", "features", "prediction") ++
      (if (withRaw) Seq("rawPrediction") else Nil)).map(col): _*).collect().sortBy(_.getLong(0))
    out.check(rows.length == checkIds.size, s"$m: ${rows.length} of ${checkIds.size} checked rows returned")
    rows.zipWithIndex.foreach { case (r, i) =>
      val f = r.getAs[Vector](1)
      val got = r.getDouble(2)
      val pred = if (ctx.corrupt && i == 0) java.lang.Math.nextUp(got) else got
      val want = model.predict(f)
      out.check(java.lang.Double.doubleToLongBits(pred) == java.lang.Double.doubleToLongBits(want),
        s"$m: id ${r.getLong(0)} transform prediction $pred != predict $want")
      (model, withRaw) match {
        case (c: ClassificationModel[Vector @unchecked, _], true) =>
          val gotRaw = r.getAs[Vector](3).toArray
          val wantRaw = c.predictRaw(f).toArray
          out.check(gotRaw.map(java.lang.Double.doubleToLongBits).sameElements(
              wantRaw.map(java.lang.Double.doubleToLongBits)),
            s"$m: id ${r.getLong(0)} rawPrediction differs from predictRaw")
        case _ =>
      }
    }
  }
}

/** `daily_dedup`: the daily ingest chain through the library calls. Day 0
  * builds the MinHash banding artifact over the corpus; each day then reads
  * its JSONL batch, decontaminates it against the eval set, quality-filters
  * it, dedups it against the corpus through the artifact read back from
  * disk, splits the survivors, writes them, and writes the extended
  * artifact. It loads the pipeline operators, the Catalyst kernels, the
  * JSONL source and the planning of composed plans, and runs no ml code.
  */
final class DailyDedup(ctx: Ctx) extends Workload {
  import ctx.spark
  val name = "daily_dedup"
  private val Sizes =
    if (ctx.tiny) Gen.CorpusSizes(corpus = 600, evalDocs = 40, days = 2, batch = 200)
    else Gen.CorpusSizes(corpus = 8000, evalDocs = 200, days = 2, batch = 1500)
  private val Bands = 16
  /** Artifact builds per pass; the pass keeps their median. */
  private val BuildReps = 3
  private val Contamination = 0.10
  private val MinQuality = 0.40
  /** Largest top-bigram share and duplicate-bigram share a doc may have. */
  private val MaxRepetition = Seq(0.15, 0.5)
  private val SplitFractions = Seq(0.7, 0.2, 0.1)
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private var inputs: File = _
  private var corpus: Gen.Corpus = _
  private val probe = mutable.Map[String, Double]().withDefaultValue(0.0)

  def sizes: Seq[(String, Any)] = Seq("corpus_docs" -> Sizes.corpus, "eval_docs" -> Sizes.evalDocs,
    "days" -> Sizes.days, "batch_docs" -> Sizes.batch, "files_per_input" -> ctx.cores,
    "artifact_builds_per_pass" -> BuildReps,
    "planted_per_batch" -> corpus.truth.map(t => Map(
      "contaminated" -> t.contaminated.size, "low_quality" -> t.lowQuality.size,
      "near_dup" -> t.nearDup.size)))

  def generate(dir: File): Unit = {
    corpus = Gen.corpus(ctx.seed, Sizes)
    Gen.writeJsonl(new File(dir, "corpus"), corpus.initial, ctx.cores)
    Gen.writeJsonl(new File(dir, "eval"), corpus.eval, ctx.cores)
    corpus.batches.zipWithIndex.foreach { case (b, d) =>
      Gen.writeJsonl(new File(dir, s"day$d"), b, ctx.cores)
    }
    val truth = corpus.truth.map(t => Map("contaminated" -> t.contaminated.toSeq.sorted,
      "low_quality" -> t.lowQuality.toSeq.sorted, "near_dup" -> t.nearDup.toSeq.sorted))
    java.nio.file.Files.writeString(new File(dir, "truth.json").toPath, Json.value(truth))
  }

  def prepare(dir: File): Unit = inputs = dir

  private def read(sub: String): DataFrame =
    Jsonl.readCorpus(spark, new File(inputs, sub).getPath, schema)

  /** Traced runs persist each stage's output inside its span, so the stage
    * owns its time and rows; untraced runs keep the library's lazy
    * composition.
    */
  private def stage(df: DataFrame, held: mutable.Buffer[DataFrame]): DataFrame =
    if (!ctx.traced) df
    else { df.persist(); held += df; ctx.rows(ctx.action("count")(df.count())); df }

  def pass(p: Int): Pass = {
    val out = new Pass
    val dir = new File(ctx.work, s"dedup-pass-$p")
    Ctx.deleteTree(dir)
    def art(d: Int) = new File(dir, s"artifact-$d").getPath
    def survivorsDir(d: Int) = new File(dir, s"survivors-$d").getPath

    // the last of the builds is the artifact the days use
    val builds = (BuildReps - 1 to 0 by -1).map { r =>
      val path = if (r == 0) art(0) else s"${art(0)}-rep$r"
      Ctx.timed(ctx.span("pipeline", "artifact_build") {
        val corpus0 = ctx.span("sources", "corpus_read")(read("corpus"))
        val built = Dedup.bandedCorpusArtifact(corpus0, "doc_id", "text")
        ctx.action("write")(built.write.parquet(path))
      })._2
    }
    ctx.record(out, Call("artifact_build", Main.median(builds), Sizes.corpus.toLong, build = true))
    var corpusDocs = Sizes.corpus.toLong
    checkArtifact(out, art(0), corpusDocs)

    (0 until Sizes.days).foreach { d =>
      val held = mutable.ArrayBuffer[DataFrame]()
      val ((corpusDf, clean, artDf, cleanRows, survivorRows), s) = Ctx.timed(ctx.span("pipeline", "day") {
        val batch = ctx.span("sources", "jsonl_read")(stage(read(s"day$d"), held))
        val corpusDf = ctx.span("sources", "corpus_read") {
          (0 until d).foldLeft(read("corpus")) { (acc, k) =>
            acc.unionByName(spark.read.parquet(survivorsDir(k)).select("doc_id", "text"))
          }
        }
        val decon = ctx.span("pipeline", "decontaminate") {
          val grams = Decontaminate.evalGramArray(read("eval"), "text", 3)
          stage(Decontaminate.markContaminated(batch, "text", 3, grams)
            .filter(col("contamination") <= Contamination)
            .drop("n_ngrams", "n_hits", "contamination", "contaminated"), held)
        }
        val clean = ctx.span("pipeline", "quality") {
          val repOk = forall(
            zip_with(TF.repetitionSignals(col("text"), 2),
              array(MaxRepetition.map(lit): _*), (x, t) => x <= t),
            b => b)
          stage(decon
            .filter(TF.qualityScore(col("text"), TF.LangStopwords.head._2) >= MinQuality && repOk),
            held)
        }
        val artDf = spark.read.parquet(art(d))
        val survivors = ctx.span("pipeline", "dedup") {
          val sv = Dedup.incrementalDedupSurvivors(corpusDf, clean, "doc_id", "text",
            corpusBanded = Some(artDf))
          held += sv
          if (ctx.traced) ctx.rows(ctx.action("count")(sv.count()))
          sv
        }
        ctx.span("pipeline", "split") {
          val splits = Sampling.hashSplit(survivors, "doc_id", SplitFractions)
          splits.zipWithIndex.foreach { case (df, i) =>
            ctx.action("write")(
              df.write.mode("append").parquet(new File(survivorsDir(d), s"split=$i").getPath))
          }
          if (ctx.traced) ctx.rows(ctx.action("count")(splits.map(_.count()).sum))
        }
        ctx.span("pipeline", "extend_artifact") {
          val extended = Dedup.extendCorpusArtifact(artDf, survivors, "doc_id", "text")
          ctx.action("write")(extended.write.parquet(art(d + 1)))
          if (ctx.traced) ctx.rows(ctx.action("count")(spark.read.parquet(art(d + 1)).count()))
        }
        if (ctx.traced) (corpusDf, clean, artDf, clean.count(), survivors.count())
        else (null, null, null, 0L, 0L)
      })
      ctx.record(out, Call("day", s, Sizes.batch.toLong, build = false))
      if (ctx.traced) dedupProbe(corpusDf, clean, artDf, cleanRows, survivorRows)
      held.foreach(_.unpersist(blocking = false))
      corpusDocs += checkDay(out, d, survivorsDir(d))
      checkArtifact(out, art(d + 1), corpusDocs)
    }
    spark.catalog.clearCache()
    Ctx.deleteTree(dir)
    out
  }

  /** Candidate pairs banding proposes for the day, from the library's own
    * candidate plan; victims are the clean docs the dedup dropped.
    */
  private def dedupProbe(corpusDf: DataFrame, clean: DataFrame, artDf: DataFrame,
      cleanRows: Long, survivorRows: Long): Unit = ctx.span("pipeline", "dedup_probe") {
    val (cands, _, banded) = Dedup.incrementalCandidatesLazy(corpusDf, clean, "doc_id", "text",
      numHashes = 64, bands = Bands, shingleSize = 3, corpusBanded = Some(artDf))
    val n = cands.count()
    banded.unpersist(blocking = false)
    ctx.rows(n)
    probe("days") += 1
    probe("candidates") += n.toDouble
    probe("victims") += (cleanRows - survivorRows).toDouble
  }

  /** The batch docs that survived are exactly those the generator did not
    * plant as contaminated, low-quality or near-dup. Returns the survivors.
    */
  private def checkDay(out: Pass, d: Int, dir: String): Long = {
    val got = spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0))
    val ids = got.toSet
    val seen = if (ctx.corrupt && ids.nonEmpty) ids - ids.min else ids
    val expected = corpus.batches(d).map(_.id).toSet -- corpus.truth(d).dropped
    out.check(got.length == ids.size, s"day $d: ${got.length - ids.size} survivors in two splits")
    out.check(seen == expected,
      s"day $d: ${(expected -- seen).size} docs wrongly dropped, ${(seen -- expected).size} wrongly kept")
    ids.size.toLong
  }

  /** The artifact holds one row per band per doc: bands x (corpus + survivors). */
  private def checkArtifact(out: Pass, path: String, docs: Long): Unit = {
    val n = spark.read.parquet(path).count()
    out.check(n == Bands * docs, s"artifact $path: $n rows, expected ${Bands * docs}")
  }

  override def probes(): Unit = {
    val docs = read("corpus").persist()
    val n = docs.count()
    def probe[T](family: String)(body: => T): T = ctx.span("sql_graft", family) {
      val r = body; ctx.rows(n); r
    }
    probe("tokens")(docs.agg(sum(size(TF.tokens(col("text"))))).first())
    val sigs = probe("shingle_minhash") {
      val s = Dedup.minhashSignatures(docs, "doc_id", "text", 64).persist()
      s.count(); s
    }
    probe("repetition")(docs.agg(sum(element_at(TF.repetitionSignals(col("text"), 2), 1))).first())
    probe("band_hash") {
      val rows = 64 / Bands
      sigs.agg(bit_xor((0 until Bands).map { b =>
        org.apache.spark.sql.graft.GraftExpressions
          .longSliceHash(col("signature"), b * rows, rows, b.toLong)
      }.reduce(_ bitwiseXOR _))).first()
    }
    sigs.unpersist(blocking = false)
    docs.unpersist(blocking = false)
  }

  override def extras: Map[String, Double] = {
    val days = math.max(1.0, probe("days"))
    Map(
      "pipeline.dedup.candidates" -> probe("candidates") / days,
      "pipeline.dedup.victims" -> probe("victims") / days,
      "pipeline.dedup.candidate_yield" ->
        (if (probe("candidates") > 0) probe("victims") / probe("candidates") else 0.0))
  }
}
