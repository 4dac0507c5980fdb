package org.apache.spark.ml.graft

import org.apache.commons.math3.optim.MaxEval
import org.apache.commons.math3.optim.nonlinear.scalar.GoalType
import org.apache.commons.math3.optim.univariate.{
  BrentOptimizer, SearchInterval, UnivariateObjectiveFunction
}
import org.apache.spark.ml.PredictorParams
import org.apache.spark.ml.graft.loss._
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param._
import org.apache.spark.ml.param.shared.{
  HasAggregationDepth, HasCheckpointInterval, HasMaxIter, HasWeightCol
}
import org.apache.spark.ml.regression.{
  DecisionTreeRegressionModel, DecisionTreeRegressor, RegressionModel, Regressor
}
import org.apache.spark.ml.tree.impl.{GradientBoostedTrees => NativeGBT, TreePoint}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s.DefaultFormats
import org.json4s.JsonDSL._

/** Params shared by GBMRegressor / GBMClassifier (reference:
  * boosting/GBMParams.scala:29-131).
  */
private[graft] trait GBMParams
    extends PredictorParams
    with HasBaseLearner
    with HasWeightCol
    with HasMaxIter
    with HasSubBag
    with HasCheckpointInterval
    with HasAggregationDepth
    with HasNativeTreeFastPath {

  final val learningRate: DoubleParam = new DoubleParam(
    this, "learningRate", "shrinkage in (0,1]", ParamValidators.inRange(0, 1, false, true))
  def getLearningRate: Double = $(learningRate)

  /** Line-search the step size (Brent for regression, L-BFGS-B for the
    * K-dim classifier) instead of using 1.0.
    */
  final val optimizedWeights: BooleanParam =
    new BooleanParam(this, "optimizedWeights", "optimize per-iteration step size")
  def getOptimizedWeights: Boolean = $(optimizedWeights)

  /** gradient = fit to -grad; newton = fit to -grad/hess with hessian row
    * weights.
    */
  final val updates: Param[String] = new Param[String](
    this, "updates", "gradient|newton", ParamValidators.inArray(Array("gradient", "newton")))
  def getUpdates: String = $(updates)

  /** Early-stop patience in iterations (with validationIndicatorCol). */
  final val numRounds: IntParam = new IntParam(
    this, "numRounds", "early-stop patience", ParamValidators.gtEq(1))
  def getNumRounds: Int = $(numRounds)

  final val validationTol: DoubleParam = new DoubleParam(
    this, "validationTol", "relative improvement threshold", ParamValidators.gtEq(0))
  def getValidationTol: Double = $(validationTol)

  final val validationIndicatorCol: Param[String] = new Param[String](
    this, "validationIndicatorCol", "boolean column marking validation rows")
  def getValidationIndicatorCol: String = $(validationIndicatorCol)

  /** Convergence tolerance of the per-iteration step-size optimizer
    * (Brent / L-BFGS-B).
    */
  final val tol: DoubleParam = new DoubleParam(
    this, "tol", "step-size optimizer tolerance", ParamValidators.gt(0))
  def getTol: Double = $(tol)

  setDefault(
    learningRate -> 1.0, optimizedWeights -> true, updates -> "gradient",
    maxIter -> 10, numRounds -> 1, validationTol -> 0.01,
    checkpointInterval -> 10, replacement -> false, tol -> 1e-4)
}

private[graft] trait GBMRegressorParams extends GBMParams {

  /** squared | absolute | huber | quantile | logcosh | scaledlogcosh. */
  final val loss: Param[String] = new Param[String](
    this, "loss", "squared|absolute|huber|quantile|logcosh|scaledlogcosh",
    ParamValidators.inArray(
      Array("squared", "absolute", "huber", "quantile", "logcosh", "scaledlogcosh")))
  def getLoss: String = $(loss)

  /** huber quantile cut / quantile-loss level. */
  final val alpha: DoubleParam = new DoubleParam(
    this, "alpha", "alpha in (0,1)", ParamValidators.inRange(0, 1, false, false))
  def getAlpha: Double = $(alpha)

  /** constant (loss-optimal constant) | zero | base. */
  final val initStrategy: Param[String] = new Param[String](
    this, "initStrategy", "constant|zero|base",
    ParamValidators.inArray(Array("constant", "zero", "base")))
  def getInitStrategy: String = $(initStrategy)

  setDefault(loss -> "squared", alpha -> 0.9, initStrategy -> "constant")

  private[graft] def lossObj(delta: Double): GBMRegressionLoss = $(loss) match {
    case "squared" => SquaredLoss
    case "absolute" => AbsoluteLoss
    case "huber" => HuberLoss(if (delta > 0) delta else 1.0)
    case "quantile" => QuantileLoss($(alpha))
    case "logcosh" => LogCoshLoss
    case "scaledlogcosh" => ScaledLogCoshLoss($(alpha))
  }
}

/** Friedman-style gradient boosting generic in the base regressor
  * (reference: regression/GBMRegressor.scala:237-476). Spark-first design
  * choices vs the reference's RDD.zip pipeline: the running prediction
  * `__f` is a DataFrame column carried through the loop (immune to
  * partition-ordering hazards, SURVEY.md §7.0 decision 3); residuals are
  * codegen'd column expressions over a scalar-loss UDF; the line-search
  * objective is a treeAggregate over a cached narrow projection.
  */
class GBMRegressor(override val uid: String)
    extends Regressor[Vector, GBMRegressor, GBMRegressionModel]
    with GBMRegressorParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("GBMRegressor"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setMaxIter(value: Int): this.type = set(maxIter, value)
  def setLoss(value: String): this.type = set(loss, value)
  def setAlpha(value: Double): this.type = set(alpha, value)
  def setInitStrategy(value: String): this.type = set(initStrategy, value)
  def setLearningRate(value: Double): this.type = set(learningRate, value)
  def setOptimizedWeights(value: Boolean): this.type = set(optimizedWeights, value)
  def setUpdates(value: String): this.type = set(updates, value)
  def setReplacement(value: Boolean): this.type = set(replacement, value)
  def setSubsampleRatio(value: Double): this.type = set(subsampleRatio, value)
  def setSubspaceRatio(value: Double): this.type = set(subspaceRatio, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setNumRounds(value: Int): this.type = set(numRounds, value)
  def setValidationTol(value: Double): this.type = set(validationTol, value)
  def setValidationIndicatorCol(value: String): this.type = set(validationIndicatorCol, value)
  def setCheckpointInterval(value: Int): this.type = set(checkpointInterval, value)
  def setAggregationDepth(value: Int): this.type = set(aggregationDepth, value)
  def setTol(value: Double): this.type = set(tol, value)

  override protected def train(dataset: Dataset[_]): GBMRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): GBMRegressionModel = {
    val hasVal = isDefined(validationIndicatorCol) && $(validationIndicatorCol).nonEmpty
    val valCol =
      if (hasVal) col($(validationIndicatorCol)).cast("boolean") else lit(false)
    val instances = SubBagFit.instances(
      dataset, $(labelCol),
      if (isDefined(weightCol)) Some($(weightCol)) else None, $(featuresCol),
      extra = Seq(valCol -> "__val"))
    val nf = GraftUtils.numFeatures(instances, "features")
    instr.logNumFeatures(nf)

    // ---- init model f_0
    val trainOnly = instances.filter(!col("__val"))
    val init: EnsemblePredictionModelType = $(initStrategy) match {
      case "zero" =>
        new DummyRegressionModel(Identifiable.randomUID("gbmZeroInit"), 0.0)
      case "constant" =>
        val strat = $(loss) match {
          case "squared" | "logcosh" | "scaledlogcosh" =>
            new DummyRegressor().setStrategy("mean")
          case "absolute" | "huber" => new DummyRegressor().setStrategy("median")
          case "quantile" =>
            new DummyRegressor().setStrategy("quantile").setQuantile($(alpha))
        }
        Learners.fit(
          strat.setWeightCol("weight").asInstanceOf[EnsemblePredictorType],
          trainOnly, "label", "features", Some("weight"))
      case "base" =>
        Learners.fit($(baseLearner), trainOnly, "label", "features", Some("weight"))
    }

    // the fast path requires iteration-invariant binning: gradient updates
    // keep instance weights constant, so split candidates (which are
    // weighted quantiles of the feature values) are identical every round;
    // newton updates reweight rows by the hessian each round, giving the
    // generic path iteration-specific weighted split candidates the
    // bin-once representation cannot reproduce
    val rounds = new Rounds[EnsemblePredictionModelType, Double](instr)
    $(baseLearner) match {
      case dt: DecisionTreeRegressor
          if $(nativeTreeFastPath) && $(subspaceRatio) >= 1.0 && $(updates) == "gradient" =>
        trainNativeDT(instances, init, nf, hasVal, dt, rounds)
      case _ =>
        trainGeneric(instances, init, nf, hasVal, rounds)
    }
    new GBMRegressionModel(
      uid, init, rounds.weights.toArray, rounds.subspaces.toArray, rounds.members.toArray)
      .setParent(this)
  }

  /** Per-iteration step size over cached (label, f, direction, weight)
    * rows. Squared loss has the closed-form optimum
    * a* = sum(w*d*(y-f)) / sum(w*d^2) — ONE pass instead of Brent's ~25
    * sequential objective jobs (each a full cluster barrier at scale).
    * Losses with an analytic scalar hessian (logcosh, scaled logcosh) run
    * guarded 1-D Newton on phi(a) = sum w*L(y, f + a*d): each iteration is
    * ONE pass computing (phi', phi'') together, and the convex phi
    * converges in 2-3 iterations — same [0, 100] clamp and fall-back-to-1
    * guard rails as the closed form. Only the losses with no usable
    * second derivative (absolute, huber, quantile — piecewise-linear
    * tails) keep the Brent search over [0, 100].
    */
  private def lineSearch(
      data: org.apache.spark.rdd.RDD[(Double, Double, Double, Double)],
      lossB: GBMRegressionLoss): Double = {
    val depth = $(aggregationDepth)
    if ($(loss) == "squared") {
      val (num, den) = data.treeAggregate((0.0, 0.0))(
        (acc, t) => (acc._1 + t._4 * t._3 * (t._1 - t._2), acc._2 + t._4 * t._3 * t._3),
        (a, b) => (a._1 + b._1, a._2 + b._2),
        depth)
      if (den <= 0 || !num.isFinite) 1.0
      else math.min(math.max(num / den, 0.0), 100.0)
    } else if (lossB.isInstanceOf[HasScalarHessian]) {
      val h = lossB.asInstanceOf[GBMRegressionLoss with HasScalarHessian]
      BracketedNewton($(tol)) { step =>
        data.treeAggregate((0.0, 0.0))(
          (acc, t) => {
            val f = t._2 + step * t._3
            (acc._1 + t._4 * t._3 * h.gradient(t._1, f),
              acc._2 + t._4 * t._3 * t._3 * h.hessian(t._1, f))
          },
          (x, y) => (x._1 + y._1, x._2 + y._2),
          depth)
      }
    } else {
      data.count()
      val objective = new UnivariateObjectiveFunction(a =>
        data.treeAggregate(0.0)(
          (acc, t) => acc + t._4 * lossB.loss(t._1, t._2 + a * t._3),
          _ + _,
          depth))
      try {
        new BrentOptimizer($(tol), $(tol) * 1e-2)
          .optimize(
            new MaxEval(25), objective, GoalType.MINIMIZE, new SearchInterval(0.0, 100.0))
          .getPoint
      } catch { case _: Exception => 1.0 }
    }
  }

  /** The generic loop: every iteration re-enters the base learner's own
    * `fit`, so any spark.ml regressor works as the weak learner.
    */
  private def trainGeneric(
      instances: DataFrame,
      init: EnsemblePredictionModelType,
      nf: Int,
      hasVal: Boolean,
      rounds: Rounds[EnsemblePredictionModelType, Double]): Unit = {
    val loop = new IterLoopCache($(checkpointInterval))
    var df = loop.next(
      Learners.transform(init, instances, "__f")
        .select("label", "weight", "features", "__val", "__f"))
    // early stopping needs a STATIONARY metric: huber's delta refreshes
    // every round, so comparing losses computed under different deltas
    // would be apples-to-oranges — freeze the first round's loss object
    // for all validation evaluations
    var valLossObj: GBMRegressionLoss = null

    rounds.run($(maxIter), loop) { i =>
      // Huber delta refresh: alpha-quantile of current absolute residuals
      val currentLoss: GBMRegressionLoss =
        if ($(loss) == "huber") {
          val d = df.filter(!col("__val"))
            .select(abs(col("label") - col("__f")).as("__absr"))
            .stat.approxQuantile("__absr", Array($(alpha)), 0.001).head
          lossObj(math.max(d, 1e-6))
        } else lossObj(0.0)

      val newton = $(updates) == "newton" && currentLoss.isInstanceOf[HasScalarHessian]
      val lossB = currentLoss
      val residUdf = udf { (y: Double, f: Double) => -lossB.gradient(y, f) }
      val newtonUdf =
        if (newton) {
          val h = currentLoss.asInstanceOf[GBMRegressionLoss with HasScalarHessian]
          // clamp like the reference (hess >= 1e-2) or -grad/hess explodes
          // where the loss flattens (regression/GBMRegressor.scala:368-385)
          udf { (y: Double, f: Double) => math.max(h.hessian(y, f), 1e-2) }
        } else null

      // sub-bag of (instance, prediction) pairs — column-aligned by
      // construction, no RDD.zip (reference samples pairs jointly at
      // regression/GBMRegressor.scala:355-366)
      val trainRows = df.filter(!col("__val"))
      val sampled =
        if ($(subsampleRatio) == 1.0 && !$(replacement)) trainRows
        else trainRows.sample($(replacement), $(subsampleRatio), $(seed) + i)
      val indices = GraftUtils.subspace($(subspaceRatio), nf, $(seed) + i)
      val full = indices.length == nf
      val sliceUdf =
        if (full) null else udf((v: Vector) => GraftUtils.sliceVector(v, indices))

      var fitDf = sampled.withColumn("__r", residUdf(col("label"), col("__f")))
      fitDf =
        if (newton) {
          fitDf
            .withColumn("__h", newtonUdf(col("label"), col("__f")))
            .withColumn("__r", col("__r") / col("__h"))
            .withColumn("__w", col("weight") * col("__h"))
        } else fitDf.withColumn("__w", col("weight"))
      if (!full) {
        fitDf = fitDf
          .withColumn("__sf", sliceUdf(col("features")))
          .withMetadata("__sf", GraftUtils.featuresMetadata(indices.length, "__sf"))
      }
      val model = Learners.fit(
        $(baseLearner), fitDf, "__r", if (full) "features" else "__sf", Some("__w"),
        weightRequired = newton)

      // direction on ALL rows (train + validation)
      val withSf =
        if (full) df
        else df
          .withColumn("__sf", sliceUdf(col("features")))
          .withMetadata("__sf", GraftUtils.featuresMetadata(indices.length, "__sf"))
      val withDir = Learners.transformOn(
        model, withSf, if (full) "features" else "__sf", "__d")

      // step size
      val stepAlpha =
        if (!$(optimizedWeights)) 1.0
        else {
          val proj = withDir.filter(!col("__val"))
            .select(col("label"), col("__f"), col("__d"), col("weight"))
          val rdd = proj.rdd.map(r =>
            (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
          rdd.persist(StorageLevel.MEMORY_AND_DISK)
          try lineSearch(rdd, lossB)
          finally rdd.unpersist()
        }

      val w = $(learningRate) * stepAlpha
      rounds.keep(model, w, indices)
      df = loop.next(
        withDir
          .withColumn("__f", col("__f") + lit(w) * col("__d"))
          .select("label", "weight", "features", "__val", "__f"))

      if (hasVal) {
        if (valLossObj == null) valLossObj = lossB
        val frozen = valLossObj
        val lossUdf = udf { (y: Double, f: Double) => frozen.loss(y, f) }
        val agg = df.filter(col("__val"))
          .agg(
            sum(col("weight") * lossUdf(col("label"), col("__f"))).as("l"),
            sum("weight").as("w"))
          .head()
        rounds.validate(agg, $(numRounds), $(validationTol))
      } else RoundEnd.next
    }
  }

  /** Native-tree fast path: bin features ONCE (metadata + findSplits +
    * TreePoint conversion — the per-iteration fixed cost of re-entering
    * `DecisionTreeRegressor.fit`), then per iteration only relabel the
    * binned points with pseudo-residuals and run the core induction
    * (`RandomForest.runBagged`). Trees are identical to the generic path
    * at subsampleRatio=1 because candidate splits depend on feature values
    * only, never on the residual labels (pinned by GBMSuite). Predictions
    * for the line search and state update use the binned representation
    * too (`GradientBoostedTrees.updatePrediction`) — no per-row Vector
    * boxing anywhere in the loop. This is the same amortization Spark's
    * own GBT uses; at 1000 executors it removes i-1 redundant full-data
    * binning passes and their driver barriers from an i-iteration fit.
    */
  private def trainNativeDT(
      instances: DataFrame,
      init: EnsemblePredictionModelType,
      nf: Int,
      hasVal: Boolean,
      dt: DecisionTreeRegressor,
      rounds: Rounds[EnsemblePredictionModelType, Double]): Unit = {
    val bt = new BinnedTrees(
      instances, dt, checkpointInterval = $(checkpointInterval), validation = hasVal)
    val pred = new bt.RowState(bt.train.map(inst => init.predict(inst.features)))
    val valPred =
      if (hasVal) new bt.RowState(bt.valid.map(inst => init.predict(inst.features))) else null
    val bcSplits = bt.bcSplits
    var valLossObj: GBMRegressionLoss = null

    rounds.run($(maxIter), bt) { i =>
      // Huber delta refresh — same alpha-quantile of |residual|, same
      // approx tolerance as the generic path
      val currentLoss: GBMRegressionLoss =
        if ($(loss) == "huber") {
          val absr = bt.points.zip(pred.rdd).map { case (tp, f) => math.abs(tp.label - f) }
          val d = instances.sparkSession
            .createDataset(absr)(org.apache.spark.sql.Encoders.scalaDouble)
            .toDF("__absr")
            .stat.approxQuantile("__absr", Array($(alpha)), 0.001).head
          lossObj(math.max(d, 1e-6))
        } else lossObj(0.0)

      val lossB = currentLoss

      // relabel the binned points with -grad — a narrow map over cached
      // data, THE payoff of the fast path (newton never reaches here: its
      // hessian reweighting needs per-iteration weighted split candidates)
      val relabeled = bt.points.zip(pred.rdd).map { case (tp, f) =>
        new TreePoint(-lossB.gradient(tp.label, f), tp.binnedFeatures, tp.weight)
      }
      val model = bt.runBagged(relabeled, $(subsampleRatio), 1, $(replacement), $(seed) + i)
        .head.asInstanceOf[DecisionTreeRegressionModel]

      // per-row direction via binned prediction (exactly equivalent to
      // Vector prediction for points binned with the fitted splits)
      val data = bt.points.zip(pred.rdd).map { case (tp, f) =>
        (tp.label, f, NativeGBT.updatePrediction(tp, 0.0, model, 1.0, bcSplits.value), tp.weight)
      }
      data.persist(StorageLevel.MEMORY_AND_DISK)
      val stepAlpha =
        if (!$(optimizedWeights)) 1.0
        else lineSearch(data, lossB)

      val w = $(learningRate) * stepAlpha
      rounds.keep(model, w, GraftUtils.subspace($(subspaceRatio), nf, $(seed) + i))
      pred.advance(data.map(t => t._2 + w * t._3))
      data.unpersist(blocking = false)

      if (hasVal) {
        valPred.advance(bt.validPoints.zip(valPred.rdd).map { case (tp, f) =>
          f + w * NativeGBT.updatePrediction(tp, 0.0, model, 1.0, bcSplits.value)
        })
        if (valLossObj == null) valLossObj = lossB
        val frozen = valLossObj
        val (lsum, wsum) = bt.validPoints.zip(valPred.rdd).treeAggregate((0.0, 0.0))(
          (acc, t) => (acc._1 + t._1.weight * frozen.loss(t._1.label, t._2), acc._2 + t._1.weight),
          (a, b) => (a._1 + b._1, a._2 + b._2),
          $(aggregationDepth))
        rounds.validate(lsum, wsum, $(numRounds), $(validationTol))
      } else RoundEnd.next
    }
  }

  override def copy(extra: ParamMap): GBMRegressor = defaultCopy(extra)

  override def write: MLWriter = new GBMRegressor.Writer(this)
}

object GBMRegressor extends MLReadable[GBMRegressor] {

  private[graft] class Writer(instance: GBMRegressor) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftPersistence.saveMetadata(instance, path, sparkSession)
      Learners.save(instance.getBaseLearner, s"$path/learner")
    }
  }

  private class Reader extends MLReader[GBMRegressor] {
    private val className = classOf[GBMRegressor].getName
    override def load(path: String): GBMRegressor = {
      val metadata = GraftPersistence.loadMetadata(path, sparkSession, className)
      val est = new GBMRegressor(metadata.uid)
      metadata.getAndSetParams(est)
      est.setBaseLearner(Learners.loadLearner(s"$path/learner", sparkSession))
    }
  }

  override def read: MLReader[GBMRegressor] = new Reader
  override def load(path: String): GBMRegressor = super.load(path)
}

class GBMRegressionModel(
    override val uid: String,
    val init: EnsemblePredictionModelType,
    val modelWeights: Array[Double],
    val subspaces: Array[Array[Int]],
    val models: Array[EnsemblePredictionModelType])
    extends RegressionModel[Vector, GBMRegressionModel]
    with GBMRegressorParams
    with MLWritable {

  /** f(x) = f_0(x) + sum_i w_i m_i(x|subspace_i) (reference:
    * regression/GBMRegressor.scala:531-539).
    */
  override def predict(features: Vector): Double = {
    var f = init.predict(features)
    var i = 0
    while (i < models.length) {
      val sub = subspaces(i)
      val x = if (sub.length == features.size) features else GraftUtils.sliceVector(features, sub)
      f += modelWeights(i) * models(i).predict(x)
      i += 1
    }
    f
  }

  private[graft] def setBaseLearner(value: EnsemblePredictorType): this.type =
    set(baseLearner, value)

  override def copy(extra: ParamMap): GBMRegressionModel =
    copyValues(new GBMRegressionModel(uid, init, modelWeights, subspaces, models), extra)
      .setParent(parent)

  override def write: MLWriter = new GBMRegressionModel.Writer(this)
}

object GBMRegressionModel extends MLReadable[GBMRegressionModel] {

  private[graft] class Writer(instance: GBMRegressionModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftPersistence.saveMetadata(
        instance, path, sparkSession,
        Some(("numModels" -> instance.models.length) ~
          ("modelWeights" -> instance.modelWeights.toSeq) ~
          ("subspaces" -> instance.subspaces.map(_.toSeq).toSeq)))
      Learners.save(instance.getBaseLearner, s"$path/learner")
      Learners.save(instance.init, s"$path/init")
      instance.models.zipWithIndex.foreach { case (m, i) =>
        Learners.save(m, s"$path/model-$i")
      }
    }
  }

  private class Reader extends MLReader[GBMRegressionModel] {
    private val className = classOf[GBMRegressionModel].getName
    override def load(path: String): GBMRegressionModel = {
      implicit val fmt: DefaultFormats.type = DefaultFormats
      val metadata = GraftPersistence.loadMetadata(path, sparkSession, className)
      val n = (metadata.metadata \ "numModels").extract[Int]
      val weights = (metadata.metadata \ "modelWeights").extract[Seq[Double]].toArray
      val subspaces = (metadata.metadata \ "subspaces").extract[Seq[Seq[Int]]]
        .map(_.toArray).toArray
      val init = Learners.loadModel(s"$path/init", sparkSession)
      val models = Array.tabulate(n)(i => Learners.loadModel(s"$path/model-$i", sparkSession))
      val model = new GBMRegressionModel(metadata.uid, init, weights, subspaces, models)
      metadata.getAndSetParams(model, skipParams = Some(List("baseLearner")))
      model.setBaseLearner(Learners.loadLearner(s"$path/learner", sparkSession))
    }
  }

  override def read: MLReader[GBMRegressionModel] = new Reader
  override def load(path: String): GBMRegressionModel = super.load(path)
}
