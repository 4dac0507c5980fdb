package org.apache.spark.ml.graft

import org.apache.spark.ml.PredictorParams
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{Param, ParamMap, ParamValidators}
import org.apache.spark.ml.param.shared.{
  HasAggregationDepth, HasCheckpointInterval, HasWeightCol
}
import org.apache.spark.ml.regression.{
  DecisionTreeRegressionModel, DecisionTreeRegressor, RegressionModel, Regressor
}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s.DefaultFormats
import org.json4s.JsonDSL._

private[graft] trait BoostingRegressorParams
    extends PredictorParams
    with HasNumBaseLearners
    with HasBaseLearner
    with HasWeightCol
    with HasNativeTreeFastPath
    with HasCheckpointInterval
    // kept for API parity with the reference's treeReduce/treeAggregate
    // depth; the DataFrame aggregations here partial-aggregate map-side,
    // which supersedes multi-level tree reduction
    with HasAggregationDepth {

  /** AdaBoost.R2 loss on the max-normalized absolute error (reference:
    * regression/BoostingRegressor.scala:97-106).
    */
  final val lossType: Param[String] = new Param[String](
    this, "lossType", "exponential|linear|squared",
    ParamValidators.inArray(Array("exponential", "linear", "squared")))
  def getLossType: String = $(lossType)

  /** median (weighted median, AdaBoost.R2 default) | mean (weighted mean). */
  final val votingStrategy: Param[String] = new Param[String](
    this, "votingStrategy", "median|mean",
    ParamValidators.inArray(Array("median", "mean")))
  def getVotingStrategy: String = $(votingStrategy)

  setDefault(lossType -> "exponential", votingStrategy -> "median", checkpointInterval -> 10)
}

/** AdaBoost.R2 (Drucker 1997) meta-regressor. Spark-first shape: the
  * per-row boost weight lives in a DataFrame column updated by codegen'd
  * expressions; the three per-iteration reductions (sum of weights, max
  * error, weighted loss) are DataFrame aggs with map-side partial
  * aggregation (reference dataflow: regression/BoostingRegressor
  * .scala:173-282, re-derived from the published algorithm).
  */
class BoostingRegressor(override val uid: String)
    extends Regressor[Vector, BoostingRegressor, BoostingRegressionModel]
    with BoostingRegressorParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("BoostingRegressor"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setNumBaseLearners(value: Int): this.type = set(numBaseLearners, value)
  def setLossType(value: String): this.type = set(lossType, value)
  def setVotingStrategy(value: String): this.type = set(votingStrategy, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setCheckpointInterval(value: Int): this.type = set(checkpointInterval, value)
  def setAggregationDepth(value: Int): this.type = set(aggregationDepth, value)

  override protected def train(dataset: Dataset[_]): BoostingRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): BoostingRegressionModel = {
    val instances = SubBagFit
      .instances(
        dataset, $(labelCol),
        if (isDefined(weightCol)) Some($(weightCol)) else None, $(featuresCol))
      .withColumn("__bw", col("weight"))
    val rounds = new Rounds[EnsemblePredictionModelType, Double](instr)
    $(baseLearner) match {
      case dt: DecisionTreeRegressor if $(nativeTreeFastPath) => trainNativeDT(instances, dt, rounds)
      case _ => trainGeneric(instances, rounds)
    }
    new BoostingRegressionModel(uid, rounds.weights.toArray, rounds.members.toArray)
      .setParent(this)
  }

  private def trainGeneric(
      instances: DataFrame,
      rounds: Rounds[EnsemblePredictionModelType, Double]): Unit = {
    val loop = new IterLoopCache($(checkpointInterval))
    var df = loop.next(instances)
    rounds.run($(numBaseLearners), loop) { _ =>
      val sumW = df.agg(sum("__bw")).head().getDouble(0)
      val weighted = df.withColumn("__bwn", col("__bw") / sumW)
      val model = Learners.fit($(baseLearner), weighted, "label", "features", Some("__bwn"), weightRequired = true)
      val predicted = Learners
        .transform(model, weighted, "__pred")
        .withColumn("__err", abs(col("__pred") - col("label")))
      predicted.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val maxError = predicted.agg(max("__err")).head().getDouble(0)
        // Column pow/exp run StrictMath; the bin-once closures run
        // math.pow/math.exp — each backend keeps its own arithmetic
        val lossCol = $(lossType) match {
          case "linear" => col("__err") / maxError
          case "squared" => pow(col("__err") / maxError, 2)
          case "exponential" => lit(1.0) - exp(-col("__err") / maxError)
        }
        val withLoss = predicted.withColumn("__loss", lossCol)
        val v = Verdict.r2(
          maxError,
          withLoss.agg(sum(col("__bwn") * col("__loss"))).head().getDouble(0),
          rounds.members.isEmpty)
        if (v.keep) rounds.keep(model, v.weight)
        if (!v.stop) {
          df = loop.next(withLoss
            .withColumn("__bw", col("__bw") * pow(lit(v.update), lit(1.0) - col("__loss")))
            .select("label", "weight", "features", "__bw"))
        }
        RoundEnd(v.error, v.stop)
      } finally predicted.unpersist()
    }
  }

  /** Native-tree fast path for AdaBoost.R2: bin features once, reweight
    * the binned points per boosting round. The candidate split GRID is
    * computed once from the feature values (the hist-gradient-boosting
    * convention — LightGBM/XGBoost-hist bin once the same way); each
    * round's tree still fits the EXACT current boost weights, which enter
    * the induction through the TreePoint weights. The generic path
    * recomputes weighted split candidates per round — a per-round
    * threshold-grid refinement the fixed grid approximates, traded for
    * removing numBaseLearners-1 full binning passes. The round decision is
    * the generic loop's ([[Verdict.r2]]).
    */
  private def trainNativeDT(
      instances: DataFrame,
      dt: DecisionTreeRegressor,
      rounds: Rounds[EnsemblePredictionModelType, Double]): Unit = {
    val bt = new BinnedTrees(
      instances, dt, checkpointInterval = $(checkpointInterval), unitWeights = true)
    val bw = new bt.RowState(bt.points.map(_.weight))
    rounds.run($(numBaseLearners), bt) { i =>
      val sw = BinnedTrees.orderedSum(bw.rdd)
      val model = bt.fitReweighted(bw.rdd, sw, i).asInstanceOf[DecisionTreeRegressionModel]

      // (absolute error via binned prediction, normalized bw, raw bw)
      val bcSplits = bt.bcSplits
      val data = bt.points.zip(bw.rdd).map { case (tp, w) =>
        val pred = model.rootNode.predictBinned(tp.binnedFeatures, bcSplits.value).prediction
        (math.abs(pred - tp.label), w / sw, w)
      }
      data.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val maxError = data.map(_._1).max()
        val lossFn: Double => Double = $(lossType) match {
          case "linear" => e => e / maxError
          case "squared" => e => (e / maxError) * (e / maxError)
          case "exponential" => e => 1.0 - math.exp(-e / maxError)
        }
        val v = Verdict.r2(
          maxError,
          BinnedTrees.orderedSum(data.map { case (e, bwn, _) => bwn * lossFn(e) }),
          rounds.members.isEmpty)
        if (v.keep) rounds.keep(model, v.weight)
        if (!v.stop) {
          val beta = v.update
          bw.advance(data.map { case (e, _, w) => w * math.pow(beta, 1.0 - lossFn(e)) })
        }
        RoundEnd(v.error, v.stop)
      } finally data.unpersist(blocking = false)
    }
  }

  override def copy(extra: ParamMap): BoostingRegressor = defaultCopy(extra)

  override def write: MLWriter = new BoostingRegressor.Writer(this)
}

object BoostingRegressor extends MLReadable[BoostingRegressor] {

  private[graft] class Writer(instance: BoostingRegressor) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftPersistence.saveMetadata(instance, path, sparkSession)
      Learners.save(instance.getBaseLearner, s"$path/learner")
    }
  }

  private class Reader extends MLReader[BoostingRegressor] {
    private val className = classOf[BoostingRegressor].getName
    override def load(path: String): BoostingRegressor = {
      val metadata = GraftPersistence.loadMetadata(path, sparkSession, className)
      val est = new BoostingRegressor(metadata.uid)
      metadata.getAndSetParams(est)
      est.setBaseLearner(Learners.loadLearner(s"$path/learner", sparkSession))
    }
  }

  override def read: MLReader[BoostingRegressor] = new Reader
  override def load(path: String): BoostingRegressor = super.load(path)
}

class BoostingRegressionModel(
    override val uid: String,
    val modelWeights: Array[Double],
    val models: Array[EnsemblePredictionModelType])
    extends RegressionModel[Vector, BoostingRegressionModel]
    with BoostingRegressorParams
    with MLWritable {

  /** Weighted median (default) or weighted mean of base predictions
    * (reference: regression/BoostingRegressor.scala:333-347).
    */
  override def predict(features: Vector): Double = {
    val preds = new Array[Double](models.length)
    var i = 0
    while (i < models.length) { preds(i) = models(i).predict(features); i += 1 }
    $(votingStrategy) match {
      case "median" => GraftUtils.weightedMedian(preds, modelWeights)
      case "mean" =>
        var num = 0.0
        var den = 0.0
        i = 0
        while (i < preds.length) { num += modelWeights(i) * preds(i); den += modelWeights(i); i += 1 }
        if (den == 0.0) preds.sum / preds.length else num / den
    }
  }

  private[graft] def setBaseLearner(value: EnsemblePredictorType): this.type =
    set(baseLearner, value)

  override def copy(extra: ParamMap): BoostingRegressionModel =
    copyValues(new BoostingRegressionModel(uid, modelWeights, models), extra).setParent(parent)

  override def write: MLWriter = new BoostingRegressionModel.Writer(this)
}

object BoostingRegressionModel extends MLReadable[BoostingRegressionModel] {

  private[graft] class Writer(instance: BoostingRegressionModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftPersistence.saveMetadata(
        instance, path, sparkSession,
        Some(("numModels" -> instance.models.length) ~
          ("modelWeights" -> instance.modelWeights.toSeq)))
      Learners.save(instance.getBaseLearner, s"$path/learner")
      instance.models.zipWithIndex.foreach { case (m, i) =>
        Learners.save(m, s"$path/model-$i")
      }
    }
  }

  private class Reader extends MLReader[BoostingRegressionModel] {
    private val className = classOf[BoostingRegressionModel].getName
    override def load(path: String): BoostingRegressionModel = {
      implicit val fmt: DefaultFormats.type = DefaultFormats
      val metadata = GraftPersistence.loadMetadata(path, sparkSession, className)
      val n = (metadata.metadata \ "numModels").extract[Int]
      val weights = (metadata.metadata \ "modelWeights").extract[Seq[Double]].toArray
      val models = Array.tabulate(n)(i => Learners.loadModel(s"$path/model-$i", sparkSession))
      val model = new BoostingRegressionModel(metadata.uid, weights, models)
      metadata.getAndSetParams(model, skipParams = Some(List("baseLearner")))
      model.setBaseLearner(Learners.loadLearner(s"$path/learner", sparkSession))
    }
  }

  override def read: MLReader[BoostingRegressionModel] = new Reader
  override def load(path: String): BoostingRegressionModel = super.load(path)
}
