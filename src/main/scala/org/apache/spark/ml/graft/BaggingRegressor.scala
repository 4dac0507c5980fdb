package org.apache.spark.ml.graft

import scala.concurrent.{ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.ml.PredictorParams
import org.apache.spark.ml.graft.util.GraftUtils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.param.shared.{HasParallelism, HasWeightCol}
import org.apache.spark.ml.regression.{RegressionModel, Regressor}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.ThreadUtils
import org.json4s.DefaultFormats
import org.json4s.JsonDSL._

private[graft] trait BaggingParams
    extends PredictorParams
    with HasNumBaseLearners
    with HasSubBag
    with HasBaseLearner
    with HasWeightCol
    with HasParallelism
    with HasNativeTreeFastPath

/** Shared bootstrap-rows x feature-subspace fit loop (reference:
  * regression/BaggingRegressor.scala:117-172 /
  * classification/BaggingClassifier.scala:149-207). Spark-first shape: the
  * per-learner pipeline is `df.sample` (a Catalyst Sample node, pushed to
  * the cached scan) -> optional vector-slice projection -> nested spark.ml
  * fit; K fits run concurrently from a driver pool, each its own Spark
  * jobs, so `parallelism` trades driver scheduling against cluster slots.
  */
private[graft] object SubBagFit {

  def run(
      instances: DataFrame,
      learner: EnsemblePredictorType,
      numLearners: Int,
      replacement: Boolean,
      subsampleRatio: Double,
      subspaceRatio: Double,
      seed: Long,
      ec: ExecutionContext): Array[(Array[Int], EnsemblePredictionModelType)] = {
    val nf = GraftUtils.numFeatures(instances, "features")
    val futures = Array.tabulate(numLearners) { i =>
      Future {
        val sampled =
          if (subsampleRatio == 1.0 && !replacement) instances
          else instances.sample(replacement, subsampleRatio, seed + i)
        val indices = GraftUtils.subspace(subspaceRatio, nf, seed + i)
        val prepared =
          if (indices.length == nf) sampled
          else {
            val idx = indices
            val sliceUdf = udf((v: Vector) => GraftUtils.sliceVector(v, idx))
            sampled
              .withColumn("features", sliceUdf(col("features")))
              .withMetadata("features", GraftUtils.featuresMetadata(idx.length, "features"))
          }
        (indices, Learners.fit(learner, prepared, "label", "features", Some("weight")))
      }(ec)
    }
    futures.map(ThreadUtils.awaitResult(_, Duration.Inf))
  }

  /** Native-tree fast path: bagging K DecisionTrees over the same dataset
    * IS one RandomForest pass — metadata, candidate splits, and the binned
    * TreePoint table are built once, the K bootstrap draws live in one
    * BaggedPoint RDD (one int[K] count vector per row instead of K sampled
    * copies), and `RandomForest.runBagged(numTrees = K)` grows all K trees
    * in shared passes over the data (each split-finding job aggregates
    * stats for every tree's open nodes at once). The generic path pays K
    * full binning passes plus K inductions; at 1000 executors this is the
    * difference between ~3 and ~3K barriers. Returns None when the base
    * learner is not a Spark DecisionTree — callers fall back to the
    * generic loop. Feature subspacing (subspaceRatio < 1) stays generic:
    * our contract draws the subspace per TREE, while RandomForest's
    * featureSubsetStrategy draws per NODE — different semantics.
    */
  def runNativeTrees(
      instances: DataFrame,
      learner: EnsemblePredictorType,
      numLearners: Int,
      replacement: Boolean,
      subsampleRatio: Double,
      seed: Long,
      numClasses: Option[Int] = None): Option[Array[(Array[Int], EnsemblePredictionModelType)]] = {
    learner match {
      case _: org.apache.spark.ml.regression.DecisionTreeRegressor |
          _: org.apache.spark.ml.classification.DecisionTreeClassifier =>
        val bt = new BinnedTrees(instances, learner, numClasses, numTrees = numLearners)
        try {
          val full = Array.range(0, bt.metadata.numFeatures)
          Some(bt.runBagged(bt.points, subsampleRatio, numLearners, replacement, seed)
            .map(m => (full, m.asInstanceOf[EnsemblePredictionModelType])))
        } finally bt.close()
      case _ => None
    }
  }

  /** Normalize any input dataset to hard-coded (label, weight, features)
    * columns, preserving features metadata (reference:
    * ensemble/ensembleParams.scala:70-80). `extra` appends additional
    * derived columns (e.g. GBM's validation flag) in the same projection.
    */
  def instances(
      dataset: Dataset[_],
      labelCol: String,
      weightCol: Option[String],
      featuresCol: String,
      extra: Seq[(org.apache.spark.sql.Column, String)] = Nil): DataFrame = {
    val w = weightCol.filter(_.nonEmpty).map(c => col(c).cast(DoubleType)).getOrElse(lit(1.0))
    val base = Seq(
      col(labelCol).cast(DoubleType).as("label"),
      w.as("weight"),
      col(featuresCol).as("features"))
    dataset.select(base ++ extra.map { case (c, n) => c.as(n) }: _*)
  }
}

/** Bagging meta-regressor: K base learners on bootstrap samples and random
  * feature subspaces; prediction = unweighted mean (reference:
  * regression/BaggingRegressor.scala).
  */
class BaggingRegressor(override val uid: String)
    extends Regressor[Vector, BaggingRegressor, BaggingRegressionModel]
    with BaggingParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("BaggingRegressor"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setNumBaseLearners(value: Int): this.type = set(numBaseLearners, value)
  def setReplacement(value: Boolean): this.type = set(replacement, value)
  def setSubsampleRatio(value: Double): this.type = set(subsampleRatio, value)
  def setSubspaceRatio(value: Double): this.type = set(subspaceRatio, value)
  def setSeed(value: Long): this.type = set(seed, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setParallelism(value: Int): this.type = set(parallelism, value)

  override protected def train(dataset: Dataset[_]): BaggingRegressionModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): BaggingRegressionModel = {
    val instances = SubBagFit.instances(
      dataset, $(labelCol),
      if (isDefined(weightCol)) Some($(weightCol)) else None, $(featuresCol))
    val handlePersist = dataset.storageLevel == StorageLevel.NONE
    if (handlePersist) instances.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bags = {
        val native =
          if ($(nativeTreeFastPath) && $(subspaceRatio) >= 1.0)
            SubBagFit.runNativeTrees(
              instances, $(baseLearner), $(numBaseLearners), $(replacement),
              $(subsampleRatio), $(seed))
          else None
        native.getOrElse(SubBagFit.run(
          instances, $(baseLearner), $(numBaseLearners), $(replacement),
          $(subsampleRatio), $(subspaceRatio), $(seed), getExecutionContext))
      }
      new BaggingRegressionModel(uid, bags.map(_._1), bags.map(_._2)).setParent(this)
    } finally if (handlePersist) instances.unpersist()
  }

  override def copy(extra: ParamMap): BaggingRegressor = defaultCopy(extra)

  override def write: MLWriter = new BaggingRegressor.Writer(this)
}

object BaggingRegressor extends MLReadable[BaggingRegressor] {

  private[graft] class Writer(instance: BaggingRegressor) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftPersistence.saveMetadata(instance, path, sparkSession)
      Learners.save(instance.getBaseLearner, s"$path/learner")
    }
  }

  private class Reader extends MLReader[BaggingRegressor] {
    private val className = classOf[BaggingRegressor].getName
    override def load(path: String): BaggingRegressor = {
      val metadata = GraftPersistence.loadMetadata(path, sparkSession, className)
      val est = new BaggingRegressor(metadata.uid)
      metadata.getAndSetParams(est)
      est.setBaseLearner(Learners.loadLearner(s"$path/learner", sparkSession))
    }
  }

  override def read: MLReader[BaggingRegressor] = new Reader
  override def load(path: String): BaggingRegressor = super.load(path)
}

class BaggingRegressionModel(
    override val uid: String,
    val subspaces: Array[Array[Int]],
    val models: Array[EnsemblePredictionModelType])
    extends RegressionModel[Vector, BaggingRegressionModel]
    with BaggingParams
    with MLWritable {

  private val numModels = models.length

  /** Mean of base predictions over per-model subspaces (reference:
    * regression/BaggingRegressor.scala:221-228). Runs inside Spark's own
    * prediction UDF — no extra jobs at transform time.
    */
  override def predict(features: Vector): Double = {
    var s = 0.0
    var i = 0
    while (i < numModels) {
      val sub = subspaces(i)
      val f = if (sub.length == features.size) features else GraftUtils.sliceVector(features, sub)
      s += models(i).predict(f)
      i += 1
    }
    s / numModels
  }

  private[graft] def setBaseLearner(value: EnsemblePredictorType): this.type =
    set(baseLearner, value)

  override def copy(extra: ParamMap): BaggingRegressionModel =
    copyValues(new BaggingRegressionModel(uid, subspaces, models), extra).setParent(parent)

  override def write: MLWriter = new BaggingRegressionModel.Writer(this)
}

object BaggingRegressionModel extends MLReadable[BaggingRegressionModel] {

  private[graft] class Writer(instance: BaggingRegressionModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftPersistence.saveMetadata(
        instance, path, sparkSession,
        Some(("numModels" -> instance.models.length) ~
          ("subspaces" -> instance.subspaces.map(_.toSeq).toSeq)))
      Learners.save(instance.getBaseLearner, s"$path/learner")
      instance.models.zipWithIndex.foreach { case (m, i) =>
        Learners.save(m, s"$path/model-$i")
      }
    }
  }

  private class Reader extends MLReader[BaggingRegressionModel] {
    private val className = classOf[BaggingRegressionModel].getName
    override def load(path: String): BaggingRegressionModel = {
      implicit val fmt: DefaultFormats.type = DefaultFormats
      val metadata = GraftPersistence.loadMetadata(path, sparkSession, className)
      val numModels = (metadata.metadata \ "numModels").extract[Int]
      val subspaces = (metadata.metadata \ "subspaces").extract[Seq[Seq[Int]]]
        .map(_.toArray).toArray
      val models = Array.tabulate(numModels)(i =>
        Learners.loadModel(s"$path/model-$i", sparkSession))
      val model = new BaggingRegressionModel(metadata.uid, subspaces, models)
      metadata.getAndSetParams(model, skipParams = Some(List("baseLearner")))
      model.setBaseLearner(Learners.loadLearner(s"$path/learner", sparkSession))
    }
  }

  override def read: MLReader[BaggingRegressionModel] = new Reader
  override def load(path: String): BaggingRegressionModel = super.load(path)
}
