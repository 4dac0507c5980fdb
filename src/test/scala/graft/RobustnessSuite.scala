package graft

import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.graft._
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Error paths, weight plumbing, determinism (SURVEY.md §5 category 6). */
class RobustnessSuite extends SparkSpec {

  private lazy val df: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(53)
    (0 until 300).map { _ =>
      val x = Array.fill(3)(rng.nextDouble() * 10)
      (x(0) * 2 - x(1), Vectors.dense(x))
    }.toDF("label", "features")
  }

  test("missing label column throws analysis-time error") {
    val bad = df.withColumnRenamed("label", "y")
    val e = intercept[Exception] {
      new BaggingRegressor()
        .setBaseLearner(new DecisionTreeRegressor())
        .setNumBaseLearners(2)
        .fit(bad)
    }
    assert(e.getMessage.toLowerCase.contains("label"))
  }

  test("non-vector features column throws") {
    val s = spark
    import s.implicits._
    val bad = Seq((1.0, 2.0)).toDF("label", "features")
    intercept[Exception] {
      new DummyRegressor().setStrategy("mean").fit(bad).transform(bad).collect()
    }
  }

  test("reliable checkpoint mode: loop survives cached-block loss and cleans up files") {
    import org.apache.spark.sql.graft.DatasetUtils
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isDefined) // SparkSpec sets it session-wide
    val ckptDir = sc.getCheckpointDir.get
    val ckptRoot =
      if (ckptDir.startsWith("file:")) new java.io.File(new java.net.URI(ckptDir))
      else new java.io.File(ckptDir)

    // 1) Dataset.checkpoint(true) under a checkpoint dir is RELIABLE:
    //    wiping every cached block (the executor-storage-loss simulation —
    //    localCheckpoint dies here by contract) must not lose the data.
    val base = df.withColumn("wt", lit(1.0)).persist()
    base.count()
    val cp = base.checkpoint(eager = true)
    val file = DatasetUtils.checkpointFile(cp)
    assert(file.isDefined, "reliable checkpoint must report its file")
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    DatasetUtils.freeCheckpointBlocks(cp)
    assert(cp.count() === 300, "checkpointed data must recompute from files after block loss")
    assert(cp.agg(sum("wt")).head().getDouble(0) === 300.0)
    DatasetUtils.deleteCheckpointFile(file.get, cp)

    // 2) a boosting fit checkpointing EVERY iteration through the same
    //    path: fit works and close() leaves no checkpoint files behind
    def rddDirs() = Option(ckptRoot.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("rdd-"))
    // both loop implementations must clean up: the native-tree fast path
    // (PeriodicRDDCheckpointer over the boost-weight RDD) and the generic
    // DataFrame loop (IterLoopCache)
    for (fast <- Seq(true, false)) {
      val before = rddDirs().map(_.getName).toSet
      val model = new BoostingRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
        .setNumBaseLearners(4)
        .setCheckpointInterval(1)
        .setNativeTreeFastPath(fast)
        .fit(df)
      assert(model.transform(df).select("prediction").count() === 300)
      val leftover = rddDirs().map(_.getName).toSet -- before
      assert(leftover.isEmpty, s"fast=$fast fit must delete its checkpoints, leaked: $leftover")
    }

    // GBM fast path checkpoints its prediction-state RDD the same way
    val before = rddDirs().map(_.getName).toSet
    val gbm = new org.apache.spark.ml.graft.GBMRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
      .setMaxIter(4)
      .setCheckpointInterval(1)
      .setSeed(1L)
      .fit(df)
    assert(gbm.transform(df).select("prediction").count() === 300)
    val leftover = rddDirs().map(_.getName).toSet -- before
    assert(leftover.isEmpty, s"GBM fast path leaked checkpoints: $leftover")

    // 3) a fit that throws mid-loop (the base learner's second fit fails)
    //    must still release its loop caches and checkpoint files
    val failing: Seq[(String, () => Any)] = Seq(
      "BoostingRegressor" -> (() => new BoostingRegressor()
        .setBaseLearner(new SecondFitFailsTree().setMaxDepth(2))
        .setNumBaseLearners(4)
        .setCheckpointInterval(1)
        .setNativeTreeFastPath(false)
        .fit(df)),
      "GBMRegressor" -> (() => new org.apache.spark.ml.graft.GBMRegressor()
        .setBaseLearner(new SecondFitFailsTree().setMaxDepth(2))
        .setMaxIter(4)
        .setCheckpointInterval(1)
        .setNativeTreeFastPath(false)
        .fit(df)))
    for ((name, fit) <- failing) {
      val dirsBefore = rddDirs().map(_.getName).toSet
      val rddsBefore = sc.getPersistentRDDs.keySet.toSet
      SecondFitFailsTree.fits.set(0)
      val e = intercept[IllegalStateException](fit())
      assert(SecondFitFailsTree.fits.get() === 2, s"$name: ${e.getMessage}")
      val dirsLeft = rddDirs().map(_.getName).toSet -- dirsBefore
      assert(dirsLeft.isEmpty, s"failed $name fit leaked checkpoints: $dirsLeft")
      val rddsLeft = sc.getPersistentRDDs.keySet.toSet -- rddsBefore
      assert(rddsLeft.isEmpty, s"failed $name fit leaked persisted RDDs: $rddsLeft")
    }
  }

  test("a bin-once fit that fails while binning leaks no cached instances") {
    val sc = spark.sparkContext
    val fits: Seq[(String, () => Any)] = Seq(
      // all-zero instance weights fail the bin-once AdaBoost precondition
      "BoostingRegressor" -> (() => new BoostingRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
        .setWeightCol("w")
        .fit(df.withColumn("w", lit(0.0)))),
      // no rows: tree metadata rejects the empty input
      "BaggingRegressor" -> (() => new BaggingRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
        .fit(df.limit(0))))
    for ((name, fit) <- fits) {
      val before = sc.getPersistentRDDs.keySet.toSet
      intercept[IllegalArgumentException](fit())
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"failed $name fit leaked persisted RDDs: $left")
    }
  }

  test("zero-weight validation rows do not stop a GBM fit early (both paths)") {
    // every validation row has weight 0: the validation loss is 0/0, so no
    // round may count as non-improving
    val zeroVal = df
      .withColumn("isVal", monotonically_increasing_id() % 3 === 0)
      .withColumn("w", when(col("isVal"), 0.0).otherwise(1.0))
    for (fast <- Seq(true, false)) {
      val m = new org.apache.spark.ml.graft.GBMRegressor()
        .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(2))
        .setMaxIter(4)
        .setWeightCol("w")
        .setValidationIndicatorCol("isVal")
        .setNumRounds(1)
        .setNativeTreeFastPath(fast)
        .setSeed(1L)
        .fit(zeroVal)
      assert(m.models.length === 4, s"fast=$fast stopped at ${m.models.length} members")
    }
  }

  test("instance weights steer boosting") {
    val s = spark
    import s.implicits._
    // two clusters with contradictory labels; weights decide which wins
    val data = (0 until 200).map { i =>
      val heavy = i < 100
      val w = if (heavy) 100.0 else 0.01
      val label = if (heavy) 1.0 else 0.0
      (label, w, Vectors.dense(5.0, 5.0))
    }
    val wdf = data.toDF("label", "w", "features")
    val model = new BoostingClassifier()
      .setBaseLearner(new DecisionTreeClassifier().setMaxDepth(2))
      .setNumBaseLearners(2)
      .setWeightCol("w")
      .fit(wdf)
    val pred = model.transform(wdf.limit(1)).select("prediction").head().getDouble(0)
    assert(pred === 1.0, "heavily-weighted class must win on identical features")
  }

  test("boosting rejects base learners that cannot consume instance weights") {
    val s = spark
    import s.implicits._
    val cls = Seq(
      (0.0, Vectors.dense(0.0, 1.0)), (1.0, Vectors.dense(1.0, 0.0)),
      (0.0, Vectors.dense(0.1, 0.9)), (1.0, Vectors.dense(0.9, 0.1))
    ).toDF("label", "features")
    // MultilayerPerceptronClassifier has no weightCol: fitting it unweighted
    // every round would silently degenerate AdaBoost, so it must be rejected
    val e = intercept[IllegalArgumentException] {
      new BoostingClassifier()
        .setBaseLearner(new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
          .setLayers(Array(2, 2)).setMaxIter(1))
        .setNumBaseLearners(2)
        .fit(cls)
    }
    assert(e.getMessage.contains("instance weights"))
  }

  test("same seed reproduces the ensemble; different seed varies the bags") {
    def fit(seed: Long) = new BaggingRegressor()
      .setBaseLearner(new DecisionTreeRegressor().setMaxDepth(4))
      .setNumBaseLearners(3)
      .setSubsampleRatio(0.5)
      .setSubspaceRatio(0.7)
      .setSeed(seed)
      .fit(df)
    val a = fit(7L)
    val b = fit(7L)
    val c = fit(8L)
    assert(a.subspaces.map(_.toSeq).toSeq === b.subspaces.map(_.toSeq).toSeq)
    val pa = a.transform(df).select("prediction").collect().map(_.getDouble(0))
    val pb = b.transform(df).select("prediction").collect().map(_.getDouble(0))
    assert(pa.toSeq === pb.toSeq)
    assert(a.subspaces.map(_.toSeq).toSeq !== c.subspaces.map(_.toSeq).toSeq)
  }

  test("null-text documents have defined behavior in the round-11 operators") {
    val s = spark
    import s.implicits._
    import graft.pipeline.{Chunking, CorpusStats, Dedup}
    val docs = Seq(
      (1L, "src", Option("a b c d e")),
      (2L, "src", Option.empty[String]), // null text
      (3L, "src", Option("f g h"))
    ).toDF("doc_id", "source", "text")

    // chunking: a null-text doc yields no chunks (explode of null), the
    // rest of the corpus is untouched
    val chunks = Chunking.chunkDocuments(docs, "text", 3, 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(chunks === Set(1L, 3L))

    // packing: a null-text doc emits a zero-width row (null coordinates)
    // and does NOT shift later documents' offsets
    val packed = Chunking.packConcat(docs, "doc_id", "text", 4, 1)
      .orderBy("doc_id").collect()
    assert(packed.length === 3)
    assert(packed(1).isNullAt(2) && packed(1).isNullAt(5)) // n_tokens, last_seq
    val without = Chunking.packConcat(docs.filter($"doc_id" =!= 2L),
      "doc_id", "text", 4, 1).orderBy("doc_id").collect()
    assert(packed(2).getLong(3) === without(1).getLong(3),
      "null-text doc must not shift later offsets")

    // paragraph dedup: a null-text doc simply drops (no paragraphs)
    val paras = Dedup.paragraphDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(paras === Set(1L, 3L))

    // span removal: null text passes through as null, untouched
    val removed = Dedup.removeRepeatedSpans(docs, "doc_id", "text", 2, 2)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(removed.keySet === Set(1L, 2L, 3L) && removed(2L))

    // source stats: null text counts as a doc; token/quality terms skip it
    val stats = CorpusStats.sourceStats(docs, "source", "text").head()
    assert(stats.getLong(1) === 3L)
  }

  test("degenerate inputs have defined behavior in the second-half operators") {
    val s = spark
    import s.implicits._
    import graft.pipeline.{AsofJoin, Dedup, IntervalJoin, Sampling, TextFunctions => TF}

    // as-of join: empty right side -> every left row survives, unmatched
    val left = Seq((1L, "k", 10L), (2L, "k", 20L)).toDF("id", "k", "t")
    val emptyR = Seq.empty[(String, Long, String)].toDF("k", "t", "tag")
    val asof = AsofJoin.asofJoin(left, emptyR, "k", "t").collect()
    assert(asof.length === 2 && asof.forall(_.isNullAt(3)))

    // interval join: empty interval side -> empty output, preflight quiet
    val emptyI = Seq.empty[(String, Long, Long, Long)].toDF("k", "iid", "s", "e")
    assert(IntervalJoin.intervalJoin(left, emptyI, "k", "t", "s", "e", 10L).count() === 0)
    // degenerate zero/negative-width intervals are dropped, not exploded
    val degen = Seq(("k", 1L, 10L, 10L), ("k", 2L, 9L, 5L)).toDF("k", "iid", "s", "e")
    assert(IntervalJoin.intervalJoin(left, degen, "k", "t", "s", "e", 10L).count() === 0)

    // exact-k sampling: k beyond every group returns the full groups
    val df = Seq(("g", 1L), ("g", 2L), ("h", 3L)).toDF("grp", "id")
    assert(Sampling.exactKPerGroup(df, "grp", "id", 100).count() === 3)

    // URL dedup: null URLs collapse into one null-canonical group
    // instead of crashing; real URLs are unaffected
    val urls = Seq((1L, Option("https://a.com/x")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("doc_id", "url")
    val survivors = Dedup.urlDedupSurvivors(urls, "doc_id", "url")
      .collect().map(r => Option(r.getString(1)) -> r.getLong(2)).toMap
    assert(survivors(Some("https://a.com/x")) === 1L && survivors(None) === 2L)

    // corpus diff: empty new snapshot -> everything 'removed'
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.corpusDiff(docs, none, "doc_id", "text")
      .collect().forall(_.getString(1) == "removed"))

    // boilerplate removal with an EMPTY key set: pure passthrough
    val out = Dedup.removeBoilerplate(docs, "text", Array.emptyLongArray)
      .collect().map(r => (r.getString(1), r.getLong(3))).toSeq
    assert(out.forall(_._2 == 0L))

    // canonicalizeUrl: null in, null out
    assert(urls.select(TF.canonicalizeUrl(col("url"))).collect().count(_.isNullAt(0)) === 2)
  }

  test("custom SQL functions usable from SQL text and Column API") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.graft.GraftExpressions
    GraftExpressions.register(s)
    Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b").createOrReplaceTempView("vv")
    assert(s.sql("SELECT array_dot(a, b) FROM vv").head().getDouble(0) === 11.0)
    val viaExpr = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(GraftExpressions.arrayDot(col("a"), col("b")))
      .head().getDouble(0)
    assert(viaExpr === 11.0)
    // every registered SQL function == its Column-API twin on the same input
    val tdf = Seq(("some text here and more", Seq("some", "text", "here"), 2.5, 1.0))
      .toDF("txt", "toks", "v", "w")
    tdf.createOrReplaceTempView("tv")
    def one(sql: String): org.apache.spark.sql.Row = s.sql(sql).head()
    assert(one("SELECT simhash64(toks) FROM tv").getLong(0) ===
      tdf.select(GraftExpressions.simhash64(col("toks"))).head().getLong(0))
    assert(one("SELECT fnv1a_fingerprint(txt) FROM tv").getLong(0) ===
      tdf.select(GraftExpressions.fnv1aFingerprint(col("txt"))).head().getLong(0))
    assert(one("SELECT slice_hash(shingle_hashes(toks, 2), 0, 2, 42) FROM tv").getLong(0) ===
      tdf.select(GraftExpressions.longSliceHash(
        org.apache.spark.sql.graft.ShingleHashesFn.shingle_hashes(col("toks"), 2), 0, 2, 42L))
        .head().getLong(0))
    assert(one("SELECT weighted_median(v, w) FROM tv").getDouble(0) === 2.5)
    // non-literal codegen parameter -> clear error, not a wrong plan
    val err = intercept[Exception](s.sql("SELECT shingle_hashes(toks, v) FROM tv").head())
    assert(err.getMessage.contains("integer literal")
      || err.getCause != null && err.getCause.getMessage.contains("integer literal"))
    // the SparkSessionExtensions hook wires the same builder table at build time
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new org.apache.spark.sql.graft.GraftExtensions()(ext) // must not throw
  }
}

/** A DecisionTreeRegressor whose second fit (counted across the copies
  * `fit(df, paramMap)` makes) throws, to fail a boosting loop mid-way.
  */
class SecondFitFailsTree(uid: String) extends DecisionTreeRegressor(uid) {
  def this() = this(org.apache.spark.ml.util.Identifiable.randomUID("secondFitFails"))

  override protected def train(
      dataset: org.apache.spark.sql.Dataset[_]
  ): org.apache.spark.ml.regression.DecisionTreeRegressionModel = {
    if (SecondFitFailsTree.fits.incrementAndGet() == 2) {
      throw new IllegalStateException("second fit fails")
    }
    super.train(dataset)
  }
}

object SecondFitFailsTree {
  val fits = new java.util.concurrent.atomic.AtomicInteger(0)
}
