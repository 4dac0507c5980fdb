package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the reference's `Instrumentation.instrumented` logging parity:
  * every estimator family logs its pipeline stage, params, and dataset at
  * fit time (reference: regression/BaggingRegressor.scala:117-131 wraps
  * train the same way).
  */
class InstrumentationSuite extends SparkSpec {

  private lazy val df: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(5)
    (0 until 200).map { _ =>
      val x = Array.fill(3)(rng.nextDouble())
      (x.sum + rng.nextGaussian() * 0.1, Vectors.dense(x))
    }.toDF("label", "features")
  }

  private lazy val clsDf: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(6)
    (0 until 200).map { _ =>
      val x = Array.fill(3)(rng.nextDouble())
      (if (x.sum > 1.5) 1.0 else 0.0, Vectors.dense(x))
    }.toDF("label", "features")
  }

  /** Capture log events from the spark.ml Instrumentation logger while
    * running `body` (suites run at WARN, so the logger level is raised to
    * INFO just for the capture).
    */
  private def captureInstrumentation(body: => Unit): Seq[String] = {
    val messages = ArrayBuffer.empty[String]
    val loggerName = "org.apache.spark.ml.util.Instrumentation"
    val appender = new AbstractAppender(
        "graft-instr-capture", null, null, false, Array.empty) {
      override def append(event: LogEvent): Unit =
        if (event.getLoggerName == loggerName) {
          messages.synchronized { messages += event.getMessage.getFormattedMessage }
        }
    }
    appender.start()
    // resolve the context through Spark's own classloader — sbt's layered
    // classloaders can otherwise hand back a different LoggerContext than
    // the one Spark logs through
    val ctx = LogManager
      .getContext(org.apache.spark.SparkContext.getClass.getClassLoader, false)
      .asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val root = cfg.getRootLogger
    val prevLevel = root.getLevel
    root.addAppender(appender, Level.INFO, null)
    org.apache.logging.log4j.core.config.Configurator.setLevel(loggerName, Level.INFO)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender("graft-instr-capture")
      org.apache.logging.log4j.core.config.Configurator.setLevel(loggerName, prevLevel)
      ctx.updateLoggers()
      appender.stop()
    }
    messages.toSeq
  }

  test("every estimator family logs params + dataset at fit time") {
    val dt = () => new DecisionTreeRegressor().setMaxDepth(2).setSeed(1)
    val fits: Seq[(String, () => Unit)] = Seq(
      "DummyRegressor" -> (() => { new DummyRegressor().setStrategy("mean").fit(df); () }),
      "BaggingRegressor" -> (() =>
        { new BaggingRegressor().setBaseLearner(dt()).setNumBaseLearners(2).setSeed(1).fit(df); () }),
      "BoostingRegressor" -> (() =>
        { new BoostingRegressor().setBaseLearner(dt()).setNumBaseLearners(2).fit(df); () }),
      "StackingRegressor" -> (() =>
        { new StackingRegressor().setBaseLearners(Array(dt(), dt()))
            .setStacker(new DummyRegressor()).fit(df); () }),
      "GBMRegressor" -> (() =>
        { new GBMRegressor().setBaseLearner(dt()).setMaxIter(2).setSeed(1).fit(df); () }),
      "GBMClassifier" -> (() =>
        { new GBMClassifier().setBaseLearner(dt()).setLoss("bernoulli")
            .setMaxIter(2).setSeed(1).fit(clsDf); () }))
    fits.foreach { case (name, fit) =>
      val logs = captureInstrumentation(fit())
      assert(logs.exists(_.contains("training: numPartitions")),
        s"$name: no dataset log in ${logs.take(5)}")
      assert(logs.exists(m => m.contains("{\"") && m.contains("\":")),
        s"$name: no params JSON log in ${logs.take(5)}")
      assert(logs.exists(_.contains(name)), s"$name: no pipeline-stage log")
    }
  }

  test("boosting loops log one record per round: index, weight, statistic, ms") {
    val dt = () => new DecisionTreeRegressor().setMaxDepth(2).setSeed(1)
    val record = """boosting round (\d+): weight=(\S+) stat=(\S+) ms=(\d+)""".r.unanchored
    def records(fit: => Unit): Seq[(Int, String, Double)] =
      captureInstrumentation(fit).collect { case record(i, w, stat, _) => (i.toInt, w, stat.toDouble) }

    // AdaBoost.R2 on the bin-once path: the statistic is the round's error
    val ada = records(new BoostingRegressor().setBaseLearner(dt()).setNumBaseLearners(3).fit(df))
    assert(ada.map(_._1) === Seq(0, 1, 2))
    assert(ada.forall { case (_, w, err) => w.toDouble > 0 && err >= 0 && err < 0.5 }, ada)

    // GBM with a validation split: the statistic is the validation loss
    val withVal = df.withColumn("isVal", org.apache.spark.sql.functions.rand(3) > 0.7)
    val gbm = records(new GBMRegressor().setBaseLearner(dt()).setMaxIter(3).setSeed(1)
      .setValidationIndicatorCol("isVal").setNumRounds(3).fit(withVal))
    assert(gbm.map(_._1) === Seq(0, 1, 2))
    assert(gbm.forall { case (_, w, loss) => w.toDouble > 0 && loss > 0 }, gbm)

    // K-dim GBM logs the step vector
    val cls = records(new GBMClassifier().setBaseLearner(dt()).setMaxIter(2).setSeed(1).fit(clsDf))
    assert(cls.map(_._1) === Seq(0, 1))
    assert(cls.forall { case (_, w, loss) => w.startsWith("[") && loss.isNaN }, cls)
  }
}
