package org.apache.spark.ml.graft

import org.apache.spark.ml.classification.{
  DecisionTreeClassificationModel, DecisionTreeClassifier, ProbabilisticClassificationModel,
  ProbabilisticClassifier
}
import org.apache.spark.ml.impl.Utils.EPSILON
import org.apache.spark.ml.linalg.{DenseVector, Vector, Vectors}
import org.apache.spark.ml.param.{Param, ParamMap, ParamValidators}
import org.apache.spark.ml.param.shared.{
  HasAggregationDepth, HasCheckpointInterval, HasWeightCol
}
import org.apache.spark.ml.util._
import org.apache.spark.ml.util.Instrumentation.instrumented
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s.DefaultFormats
import org.json4s.JsonDSL._

private[graft] trait BoostingClassifierParams
    extends org.apache.spark.ml.classification.ProbabilisticClassifierParams
    with HasNumBaseLearners
    with HasBaseLearner
    with HasWeightCol
    with HasNativeTreeFastPath
    with HasCheckpointInterval
    with HasAggregationDepth {

  /** discrete = SAMME (0/1 error reweighting), real = SAMME.R
    * (probability-coded reweighting) — Zhu et al. 2009 (reference:
    * classification/BoostingClassifier.scala:54-67).
    */
  final val algorithm: Param[String] = new Param[String](
    this, "algorithm", "discrete|real",
    ParamValidators.inArray(Array("discrete", "real")))
  def getAlgorithm: String = $(algorithm)

  setDefault(algorithm -> "discrete", checkpointInterval -> 10)
}

/** SAMME / SAMME.R AdaBoost meta-classifier (reference:
  * classification/BoostingClassifier.scala:135-282). Same DataFrame-native
  * loop shape as BoostingRegressor: boost weights are a column, the
  * per-iteration error is one partial-aggregated sum.
  */
class BoostingClassifier(override val uid: String)
    extends ProbabilisticClassifier[Vector, BoostingClassifier, BoostingClassificationModel]
    with BoostingClassifierParams
    with MLWritable {

  def this() = this(Identifiable.randomUID("BoostingClassifier"))

  def setBaseLearner(value: EnsemblePredictorType): this.type = set(baseLearner, value)
  def setNumBaseLearners(value: Int): this.type = set(numBaseLearners, value)
  def setAlgorithm(value: String): this.type = set(algorithm, value)
  def setWeightCol(value: String): this.type = set(weightCol, value)
  def setCheckpointInterval(value: Int): this.type = set(checkpointInterval, value)
  def setAggregationDepth(value: Int): this.type = set(aggregationDepth, value)

  override protected def train(dataset: Dataset[_]): BoostingClassificationModel = instrumented {
    instr =>
      GraftInstrumentation.logFit(instr, this, dataset)
      trainImpl(dataset, instr)
  }

  private def trainImpl(dataset: Dataset[_], instr: Instrumentation): BoostingClassificationModel = {
    val numClasses = getNumClasses(dataset)
    if ($(algorithm) == "real") {
      require(
        $(baseLearner).isInstanceOf[ProbabilisticClassifier[_, _, _]],
        "SAMME.R requires a probabilistic base classifier")
    }
    val instances = SubBagFit
      .instances(
        dataset, $(labelCol),
        if (isDefined(weightCol)) Some($(weightCol)) else None, $(featuresCol))
      .withColumn("__bw", col("weight"))
    val rounds = new Rounds[EnsemblePredictionModelType, Double](instr)
    $(baseLearner) match {
      case dt: DecisionTreeClassifier if $(nativeTreeFastPath) =>
        val bt = new BinnedTrees(
          instances, dt, Some(numClasses), $(checkpointInterval), unitWeights = true)
        if ($(algorithm) == "discrete") trainNativeDT(bt, numClasses, rounds)
        else trainNativeSammeR(bt, numClasses, rounds)
      case _ => trainGeneric(instances, numClasses, rounds)
    }
    new BoostingClassificationModel(
      uid, numClasses, rounds.weights.toArray, rounds.members.toArray).setParent(this)
  }

  private def trainGeneric(
      instances: DataFrame,
      numClasses: Int,
      rounds: Rounds[EnsemblePredictionModelType, Double]): Unit = {
    val loop = new IterLoopCache($(checkpointInterval))
    var df = loop.next(instances)
    rounds.run($(numBaseLearners), loop) { _ =>
      val sumW = df.agg(sum("__bw")).head().getDouble(0)
      val weighted = df.withColumn("__bwn", col("__bw") / sumW)
      val model = Learners.fit($(baseLearner), weighted, "label", "features", Some("__bwn"), weightRequired = true)
      val predicted = $(algorithm) match {
        case "discrete" => Learners.transform(model, weighted, "__pred")
        case "real" =>
          val prob = model.asInstanceOf[ProbabilisticClassificationModel[Vector, _]]
          prob.transform(weighted, ParamMap(
            prob.predictionCol.w("__pred"),
            prob.rawPredictionCol.w("__raw"),
            prob.probabilityCol.w("__prob")))
      }
      predicted.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val err = predicted
          .agg(sum(when(col("__pred") =!= col("label"), col("__bwn")).otherwise(0.0)))
          .head().getDouble(0)
        val v = $(algorithm) match {
          case "discrete" => Verdict.samme(err, numClasses, rounds.members.isEmpty)
          case "real" => Verdict.sammeR(err)
        }
        if (v.keep) rounds.keep(model, v.weight)
        if (!v.stop) {
          val k = numClasses
          val bw = $(algorithm) match {
            case "discrete" =>
              when(col("__pred") =!= col("label"), col("__bw") * math.exp(v.update))
                .otherwise(col("__bw"))
            case "real" =>
              val factorUdf = udf { (label: Double, p: Vector) =>
                // w *= exp(-(K-1)/K * sum_k code_k * log p_k),
                // code = 1 at the true class, -1/(K-1) elsewhere
                var s = 0.0
                val li = label.toInt
                var j = 0
                while (j < k) {
                  val pj = math.max(p(j), EPSILON)
                  val code = if (j == li) 1.0 else -1.0 / (k - 1.0)
                  s += code * math.log(pj)
                  j += 1
                }
                math.exp(-(k - 1.0) / k * s)
              }
              col("__bw") * factorUdf(col("label"), col("__prob"))
          }
          df = loop.next(
            predicted.withColumn("__bw", bw).select("label", "weight", "features", "__bw"))
        }
        RoundEnd(v.error, v.stop)
      } finally predicted.unpersist()
    }
  }

  /** Native-tree fast path for discrete SAMME (see
    * [[BoostingRegressor.trainNativeDT]] for the binning argument): one
    * binning pass, per-round reweighting of the binned points, the generic
    * loop's round decision ([[Verdict.samme]]) — misprediction via binned
    * leaf lookup.
    */
  private def trainNativeDT(
      bt: BinnedTrees,
      numClasses: Int,
      rounds: Rounds[EnsemblePredictionModelType, Double]): Unit = {
    val bw = new bt.RowState(bt.points.map(_.weight))
    rounds.run($(numBaseLearners), bt) { i =>
      val sw = BinnedTrees.orderedSum(bw.rdd)
      val model = bt.fitReweighted(bw.rdd, sw, i).asInstanceOf[DecisionTreeClassificationModel]

      // (mispredicted flag via binned leaf lookup, normalized bw, raw bw)
      val bcSplits = bt.bcSplits
      val data = bt.points.zip(bw.rdd).map { case (tp, w) =>
        val pred = model.rootNode.predictBinned(tp.binnedFeatures, bcSplits.value).prediction
        (pred != tp.label, w / sw, w)
      }
      data.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val err =
          BinnedTrees.orderedSum(data.map { case (mis, bwn, _) => if (mis) bwn else 0.0 })
        val v = Verdict.samme(err, numClasses, rounds.members.isEmpty)
        if (v.keep) rounds.keep(model, v.weight)
        if (!v.stop) {
          val alpha = v.update
          bw.advance(data.map { case (mis, _, w) => if (mis) w * math.exp(alpha) else w })
        }
        RoundEnd(v.error, v.stop)
      } finally data.unpersist(blocking = false)
    }
  }

  /** Native-tree fast path for SAMME.R: same bin-once scaffold as the
    * discrete path, but each round consumes the leaf's calibrated class
    * probabilities (normalized `impurityStats` — exactly what
    * `DecisionTreeClassificationModel.predictProbability` returns) through
    * a binned leaf lookup, and applies Zhu et al.'s probability-coded
    * weight recursion (reference:
    * classification/BoostingClassifier.scala:198-230).
    */
  private def trainNativeSammeR(
      bt: BinnedTrees,
      numClasses: Int,
      rounds: Rounds[EnsemblePredictionModelType, Double]): Unit = {
    val bw = new bt.RowState(bt.points.map(_.weight))
    rounds.run($(numBaseLearners), bt) { i =>
      val sw = BinnedTrees.orderedSum(bw.rdd)
      val model = bt.fitReweighted(bw.rdd, sw, i).asInstanceOf[DecisionTreeClassificationModel]
      val bcSplits = bt.bcSplits
      val k = numClasses
      // (normalized error contribution, next round's raw weight).
      // The probability-coded score s(label) = Σ_j code_j·log(p_j) only
      // depends on the LEAF and the label, so it is computed once per
      // (leaf, label) in a per-partition identity cache instead of
      // k logs + k divisions per ROW — trees have tens of leaves, rows
      // are millions. Identity keying is safe here: within one task the
      // deserialized tree is a single object graph, so equal leaves ARE
      // the same reference. Expanded form of the score used below:
      // s(li) = (k/(k-1))·log(p_li) − (Σ_j log p_j)/(k−1).
      val data = bt.points.zip(bw.rdd).mapPartitions { iter =>
        val leafScores = new java.util.IdentityHashMap[AnyRef, Array[Double]]()
        iter.map { case (tp, w) =>
          val leaf = model.rootNode.predictBinned(tp.binnedFeatures, bcSplits.value)
          var s = leafScores.get(leaf)
          if (s == null) {
            val stats = leaf.impurityStats.stats
            var tot = 0.0
            var j = 0
            while (j < k) { tot += stats(j); j += 1 }
            val logs = new Array[Double](k)
            var sumLog = 0.0
            j = 0
            while (j < k) {
              logs(j) = math.log(math.max(stats(j) / tot, EPSILON))
              sumLog += logs(j)
              j += 1
            }
            s = new Array[Double](k)
            j = 0
            while (j < k) {
              s(j) = (k / (k - 1.0)) * logs(j) - sumLog / (k - 1.0)
              j += 1
            }
            leafScores.put(leaf, s)
          }
          val errContrib = if (leaf.prediction != tp.label) w / sw else 0.0
          (errContrib, w * math.exp(-(k - 1.0) / k * s(tp.label.toInt)))
        }
      }
      data.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val v = Verdict.sammeR(BinnedTrees.orderedSum(data.map(_._1)))
        rounds.keep(model, v.weight)
        if (!v.stop) bw.advance(data.map(_._2))
        RoundEnd(v.error, v.stop)
      } finally data.unpersist(blocking = false)
    }
  }

  override def copy(extra: ParamMap): BoostingClassifier = defaultCopy(extra)

  override def write: MLWriter = new BoostingClassifier.Writer(this)
}

object BoostingClassifier extends MLReadable[BoostingClassifier] {

  private[graft] class Writer(instance: BoostingClassifier) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftPersistence.saveMetadata(instance, path, sparkSession)
      Learners.save(instance.getBaseLearner, s"$path/learner")
    }
  }

  private class Reader extends MLReader[BoostingClassifier] {
    private val className = classOf[BoostingClassifier].getName
    override def load(path: String): BoostingClassifier = {
      val metadata = GraftPersistence.loadMetadata(path, sparkSession, className)
      val est = new BoostingClassifier(metadata.uid)
      metadata.getAndSetParams(est)
      est.setBaseLearner(Learners.loadLearner(s"$path/learner", sparkSession))
    }
  }

  override def read: MLReader[BoostingClassifier] = new Reader
  override def load(path: String): BoostingClassifier = super.load(path)
}

class BoostingClassificationModel(
    override val uid: String,
    override val numClasses: Int,
    val modelWeights: Array[Double],
    val models: Array[EnsemblePredictionModelType])
    extends ProbabilisticClassificationModel[Vector, BoostingClassificationModel]
    with BoostingClassifierParams
    with MLWritable {

  /** Decision function (reference:
    * classification/BoostingClassifier.scala:348-382): discrete sums
    * weight x (one-hot with -1/(K-1) off-diagonal); real sums the
    * symmetric log-probability code (K-1)(log p - mean log p).
    */
  override def predictRaw(features: Vector): Vector = {
    val raw = new Array[Double](numClasses)
    $(algorithm) match {
      case "discrete" =>
        var i = 0
        while (i < models.length) {
          val k = models(i).predict(features).toInt
          val w = modelWeights(i)
          var j = 0
          while (j < numClasses) {
            raw(j) += w * (if (j == k) 1.0 else -1.0 / (numClasses - 1.0))
            j += 1
          }
          i += 1
        }
      case "real" =>
        var i = 0
        while (i < models.length) {
          val p = models(i)
            .asInstanceOf[ProbabilisticClassificationModel[Vector, _]]
            .predictProbability(features)
          val logp = new Array[Double](numClasses)
          var mean = 0.0
          var j = 0
          while (j < numClasses) {
            logp(j) = math.log(math.max(p(j), EPSILON))
            mean += logp(j)
            j += 1
          }
          mean /= numClasses
          j = 0
          while (j < numClasses) {
            raw(j) += (numClasses - 1.0) * (logp(j) - mean)
            j += 1
          }
          i += 1
        }
    }
    Vectors.dense(raw)
  }

  /** softmax(raw / (K-1)) (reference:
    * classification/BoostingClassifier.scala:342-346).
    */
  override protected def raw2probabilityInPlace(rawPrediction: Vector): Vector =
    rawPrediction match {
      case d: DenseVector =>
        var j = 0
        while (j < d.size) { d.values(j) /= (numClasses - 1.0); j += 1 }
        org.apache.spark.ml.impl.Utils.softmax(d.values)
        d
      case v => throw new IllegalArgumentException(s"unexpected raw vector $v")
    }

  private[graft] def setBaseLearner(value: EnsemblePredictorType): this.type =
    set(baseLearner, value)

  override def copy(extra: ParamMap): BoostingClassificationModel =
    copyValues(new BoostingClassificationModel(uid, numClasses, modelWeights, models), extra)
      .setParent(parent)

  override def write: MLWriter = new BoostingClassificationModel.Writer(this)
}

object BoostingClassificationModel extends MLReadable[BoostingClassificationModel] {

  private[graft] class Writer(instance: BoostingClassificationModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      GraftPersistence.saveMetadata(
        instance, path, sparkSession,
        Some(("numModels" -> instance.models.length) ~
          ("numClasses" -> instance.numClasses) ~
          ("modelWeights" -> instance.modelWeights.toSeq)))
      Learners.save(instance.getBaseLearner, s"$path/learner")
      instance.models.zipWithIndex.foreach { case (m, i) =>
        Learners.save(m, s"$path/model-$i")
      }
    }
  }

  private class Reader extends MLReader[BoostingClassificationModel] {
    private val className = classOf[BoostingClassificationModel].getName
    override def load(path: String): BoostingClassificationModel = {
      implicit val fmt: DefaultFormats.type = DefaultFormats
      val metadata = GraftPersistence.loadMetadata(path, sparkSession, className)
      val n = (metadata.metadata \ "numModels").extract[Int]
      val k = (metadata.metadata \ "numClasses").extract[Int]
      val weights = (metadata.metadata \ "modelWeights").extract[Seq[Double]].toArray
      val models = Array.tabulate(n)(i => Learners.loadModel(s"$path/model-$i", sparkSession))
      val model = new BoostingClassificationModel(metadata.uid, k, weights, models)
      metadata.getAndSetParams(model, skipParams = Some(List("baseLearner")))
      model.setBaseLearner(Learners.loadLearner(s"$path/learner", sparkSession))
    }
  }

  override def read: MLReader[BoostingClassificationModel] = new Reader
  override def load(path: String): BoostingClassificationModel = super.load(path)
}
