package graft

import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.graft._
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.DataFrame

/** Golden pins for every boosting training loop: GBM regressor and
  * classifier on the generic and the bin-once DecisionTree path (both with
  * a validation early stop), AdaBoost.R2, SAMME and SAMME.R on both paths.
  * Each case pins the member count exactly, every model weight / step, and
  * the predictions on eight fixed rows to a relative 1e-9. The oracle
  * gates fit boosting on Dummy bases only, so these are the pins on the
  * DecisionTree paths. A mismatch prints the new values as a literal.
  */
class BoostingGoldenSuite extends SparkSpec {

  private case class Golden(members: Int, weights: Seq[Double], preds: Seq[Double])

  private val relTol = 1e-9

  private lazy val regDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(29)
    (0 until 240).map { i =>
      val x = Array.fill(3)(rng.nextDouble() * 10)
      (x(0) * 1.5 - x(1) + math.sin(x(2)) + rng.nextGaussian() * 2.0, Vectors.dense(x), i % 4 == 0)
    }.toDF("label", "features", "isVal")
  }

  private lazy val clsDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    (0 until 240).map { i =>
      val x = Array.fill(3)(rng.nextDouble() * 10)
      val noisy = x(0) + x(1) * 0.5 + rng.nextGaussian()
      ((noisy / 5).toInt.max(0).min(2).toDouble, Vectors.dense(x), i % 4 == 0)
    }.toDF("label", "features", "isVal")
  }

  private val probes: Seq[Vector] = Seq(
    Vectors.dense(0.5, 9.0, 1.0), Vectors.dense(2.0, 2.0, 2.0),
    Vectors.dense(3.3, 7.1, 4.4), Vectors.dense(5.0, 5.0, 5.0),
    Vectors.dense(6.2, 0.4, 8.8), Vectors.dense(7.5, 3.0, 0.1),
    Vectors.dense(8.8, 8.8, 3.3), Vectors.dense(9.9, 1.1, 6.6))

  private def regTree = new DecisionTreeRegressor().setMaxDepth(3).setSeed(1)
  private def clsTree = new DecisionTreeClassifier().setMaxDepth(2).setSeed(1)

  private def gbmReg(fast: Boolean): Golden = {
    val m = new GBMRegressor()
      .setBaseLearner(regTree)
      .setMaxIter(15)
      .setLearningRate(0.8)
      .setValidationTol(0.02)
      .setValidationIndicatorCol("isVal")
      .setNumRounds(1)
      .setNativeTreeFastPath(fast)
      .setSeed(3L)
      .fit(regDf)
    Golden(m.models.length, m.modelWeights.toSeq, probes.map(m.predict))
  }

  private def gbmCls(fast: Boolean): Golden = {
    val m = new GBMClassifier()
      .setBaseLearner(regTree)
      .setMaxIter(10)
      .setLearningRate(0.3)
      .setValidationIndicatorCol("isVal")
      .setNumRounds(1)
      .setNativeTreeFastPath(fast)
      .setSeed(3L)
      .fit(clsDf)
    Golden(m.models.length, m.modelWeights.toSeq.flatten, probes.flatMap(m.predictRaw(_).toArray))
  }

  private def adaR2(fast: Boolean): Golden = {
    val m = new BoostingRegressor()
      .setBaseLearner(regTree)
      .setNumBaseLearners(6)
      .setLossType("linear")
      .setNativeTreeFastPath(fast)
      .fit(regDf)
    Golden(m.models.length, m.modelWeights.toSeq, probes.map(m.predict))
  }

  private def samme(algorithm: String, fast: Boolean): Golden = {
    val m = new BoostingClassifier()
      .setBaseLearner(clsTree)
      .setNumBaseLearners(6)
      .setAlgorithm(algorithm)
      .setNativeTreeFastPath(fast)
      .fit(clsDf)
    Golden(m.models.length, m.modelWeights.toSeq, probes.flatMap(m.predictRaw(_).toArray))
  }

  private val cases: Seq[(String, () => Golden)] = Seq(
    "gbm_reg_generic" -> (() => gbmReg(false)),
    "gbm_reg_native" -> (() => gbmReg(true)),
    "gbm_cls_generic" -> (() => gbmCls(false)),
    "gbm_cls_native" -> (() => gbmCls(true)),
    "ada_r2_generic" -> (() => adaR2(false)),
    "ada_r2_native" -> (() => adaR2(true)),
    "samme_generic" -> (() => samme("discrete", false)),
    "samme_native" -> (() => samme("discrete", true)),
    "samme_r_generic" -> (() => samme("real", false)),
    "samme_r_native" -> (() => samme("real", true)))

  // regenerate only for an intended change to a fitted model; a failing
  // case prints its new literal
  private val expected: Map[String, Golden] = Map(
    "gbm_reg_generic" -> Golden(
      4,
      Seq(
        0.8, 0.7999999999999997, 0.7999999999999994, 0.7999999999999996),
      Seq(
        -11.05483040229664, 1.15056957010047, -2.5208876696801252, 4.137235287046068,
        7.539884669668503, 10.605788212087402, 4.8627313013251605, 15.947905977241192)),
    "gbm_reg_native" -> Golden(
      4,
      Seq(
        0.8, 0.7999999999999998, 0.7999999999999994, 0.7999999999999998),
      Seq(
        -11.05483040229664, 1.1505695701004697, -2.5208876696801252, 4.137235287046068,
        7.539884669668503, 10.605788212087402, 4.8627313013251605, 15.947905977241193)),
    "gbm_cls_generic" -> Golden(
      3,
      Seq(
        1.7538776661420994, 1.8944199859360276, 2.0740470248686886, 1.8983227066582125,
        1.8146442034043362, 2.562227701307857, 3.0786912030599116, 4.0482905378885095,
        2.73108617403568),
      Seq(
        0.3615307481429453, -0.566581908877129, -2.4886596624953796, 0.796932760578382,
        -0.6524867287896807, -2.4319478295106713, -2.3671761156010414, 0.19866910026126,
        -2.4886596624953796, -2.2571715840873394, 0.19866910026126, -2.4319478295106713,
        -1.7635675251497462, 0.9584179669016837, -2.4987197014838416, -2.348246510670382,
        -0.5031049239981138, -1.420215248552124, -2.348246510670382, -1.8663791194847876,
        1.5939511624745732, -2.10320113817649, -0.4122914245229346, 0.3142538560037941)),
    "gbm_cls_native" -> Golden(
      3,
      Seq(
        1.7538776661420994, 1.8944199859360276, 2.0740470248686886, 1.8983227066582127,
        1.814644203404336, 2.5622277013078567, 3.0786912030599116, 4.04829053788851,
        2.73108617403568),
      Seq(
        0.3615307481429453, -0.5665819088771291, -2.4886596624953796, 0.7969327605783821,
        -0.6524867287896807, -2.4319478295106713, -2.3671761156010414, 0.19866910026126,
        -2.4886596624953796, -2.25717158408734, 0.19866910026126, -2.4319478295106713,
        -1.763567525149746, 0.9584179669016839, -2.4987197014838416, -2.348246510670382,
        -0.5031049239981138, -1.4202152485521238, -2.348246510670382, -1.8663791194847876,
        1.5939511624745728, -2.10320113817649, -0.41229142452293466, 0.314253856003794)),
    "ada_r2_generic" -> Golden(
      6,
      Seq(
        1.1648921589405927, 0.8936360071164718, 1.0102403369450828, 0.6387245436705808,
        0.8385781739974103, 0.7862455724885887),
      Seq(
        -6.136788110983895, 1.026335125616775, -0.5169415758464023, 0.1026391837929399,
        7.023142291704693, 10.899036114156061, 6.063131690792067, 11.638084022266586)),
    "ada_r2_native" -> Golden(
      6,
      Seq(
        1.1648921589405936, 0.8757104769569517, 0.6680227443459066, 0.831073327542896,
        0.8175981941326095, 0.7869030278447952),
      Seq(
        -6.720136034752306, 0.5248800369790516, -0.19335109008725965, 0.22291896392956842,
        6.886480292802787, 10.89903611415606, 6.063131690792071, 11.587641918869673)),
    "samme_generic" -> Golden(
      6,
      Seq(
        1.906169820405799, 2.0979720286733237, 1.5931178228025564, 2.0878503587766697,
        1.7300226209758374, 1.3256753407718664),
      Seq(
        2.6091392837284766, 2.76126471247455, -5.370403996203026, 5.286519330333597,
        0.08388466586942833, -5.370403996203026, -0.2501154468802218, 5.620519443083248,
        -5.370403996203026, -5.370403996203026, 5.620519443083248, -0.2501154468802218,
        -0.3856933305354354, 0.6358087774156572, -0.2501154468802218, -5.370403996203026,
        2.76126471247455, 2.6091392837284766, -5.370403996203026, -2.77537006473927,
        8.145774060942296, -5.370403996203026, 3.2308427088794134, 2.1395612873236125)),
    "samme_native" -> Golden(
      6,
      Seq(
        1.9061698204058009, 2.033992944649143, 1.5981532571750794, 1.739738767883272,
        1.5939034386430773, 1.4244360331694903),
      Seq(
        4.84817495918953, 0.30002217177340196, -5.148197130962931, 5.046284373352545,
        0.10191275761038576, -5.148197130962931, -3.0115430812086954, 8.159740212171627,
        -5.148197130962931, -5.148197130962931, 5.768885054207011, -0.6206879232440796,
        -0.36011208723569643, 5.508309218198629, -5.148197130962931, -2.757341972998315,
        0.5124004378356912, 2.2449415351626243, -5.148197130962931, -5.148197130962931,
        10.296394261925862, -2.757341972998315, 0.7620470166194839, 1.9952949563788311)),
    "samme_r_generic" -> Golden(
      6,
      Seq(
        1.0, 1.0, 1.0, 1.0, 1.0, 1.0),
      Seq(
        97.39381519025966, 90.8083638729628, -188.20217906322245, 70.36018797629315,
        77.67633438781789, -148.03652236411102, -0.7684652963144423, 71.59558083136703,
        -70.82711553505258, -96.41891589703044, 51.046336738292474, 45.37257915873796,
        41.05358111980468, 37.3272454313367, -78.38082655114138, -216.2252135856452,
        112.04847646076945, 104.1767371248757, -269.95967511264223, 108.31347054967746,
        161.64620456296473, -169.55342820669426, 103.7242350020695, 65.82919320462474)),
    "samme_r_native" -> Golden(
      6,
      Seq(
        1.0, 1.0, 1.0, 1.0, 1.0, 1.0),
      Seq(
        63.77092995977446, 59.97698116655694, -123.74791112633142, 59.6026731827192,
        58.48958515015321, -118.0922583328724, -3.918050789399132, 39.625367595624446,
        -35.70731680622531, -72.28774785627068, 35.88261322711081, 36.405134629159875,
        32.92004316241485, 34.22676166699438, -67.14680482940923, -109.13255294310875,
        69.27358148094025, 39.85897146216849, -205.15312903721886, 76.96450547724828,
        128.18862355997052, -103.04018280676567, 68.44670846659245, 34.59347434017319)))

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= relTol * math.max(math.abs(a), math.abs(b))

  private def literal(g: Golden): String =
    s"Golden(${g.members}, Seq(${g.weights.mkString(", ")}), Seq(${g.preds.mkString(", ")}))"

  for ((name, fit) <- cases) {
    test(s"golden: $name") {
      val got = fit()
      val want = expected.getOrElse(name, fail(s"no golden for $name; got\n${literal(got)}"))
      val ok = got.members == want.members &&
        got.weights.length == want.weights.length &&
        got.weights.zip(want.weights).forall { case (a, b) => close(a, b) } &&
        got.preds.length == want.preds.length &&
        got.preds.zip(want.preds).forall { case (a, b) => close(a, b) }
      assert(ok, s"$name drifted from its golden; got\n${literal(got)}\nwant\n${literal(want)}")
    }
  }
}
