package graft

import graft.pipeline.{Decontaminate, Dedup, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, udf}

/** Materialized pipeline results are rooted at a leaf: a daily
  * incremental dedup chain's plans stay the size of one stage however
  * many stages and days sit upstream, and the caches a call makes are all
  * gone once its returned result is unpersisted.
  */
class LeafRootSuite extends SparkSpec {

  /** Ceiling on the survivors frame's formatted executed plan. Before
    * results were leaf-rooted the same chain printed 12,127 lines on day 0
    * and 17,568 on day 1 (each cached stage re-embedded the ones below
    * it); rooted at a leaf it prints 16 on both days.
    */
  private val PlanLineCeiling = 64

  /** Ceiling on the plans composed on the survivors, where downstream
    * stages pay for the survivors' plan: a `hashSplit` split and the
    * extended corpus artifact. Before leaf-rooting they printed 12,132 and
    * 12,178 lines on day 0, 17,573 and 17,619 on day 1; now 21 and 72.
    */
  private val ComposedPlanLineCeiling = 256

  test("a two-day incremental dedup chain keeps its plans small and leaks no cache") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("leaf-root").toFile
    def path(name: String) = new java.io.File(dir, name).getPath
    val rng = new scala.util.Random(11)
    def text() = Seq.fill(40)(s"w${rng.nextInt(300)}").mkString(" ")
    def nearDup(t: String) = (t.split(" ").dropRight(3) ++ Seq("x", "y", "z")).mkString(" ")
    val corpus = (0 until 80).map(i => (i.toLong, text()))
    // each day: 8 fresh docs and 4 near-dups of corpus docs (dropped)
    val batches = (1 to 2).map { d =>
      ((0 until 8).map(i => (1000L * d + i, text())) ++
        (0 until 4).map(i => (1000L * d + 100 + i, nearDup(corpus(d * 4 + i)._2))))
        .toDF("doc_id", "text")
    }
    Dedup.bandedCorpusArtifact(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .write.parquet(path("artifact-0"))

    val lines = batches.indices.map { d =>
      val corpusDf = (0 until d).foldLeft(corpus.toDF("doc_id", "text")) { (acc, k) =>
        acc.unionByName(spark.read.parquet(path(s"survivors-$k")).select("doc_id", "text"))
      }
      val art = spark.read.parquet(path(s"artifact-$d"))
      val before = sc.getPersistentRDDs.keySet.toSet
      val survivors: DataFrame = Dedup.incrementalDedupSurvivors(
        corpusDf, batches(d), "doc_id", "text", corpusBanded = Some(art))
      val splits = Sampling.hashSplit(survivors, "doc_id", Seq(0.8, 0.1, 0.1))
      splits.zipWithIndex.foreach {
        case (split, i) => split.write.parquet(path(s"survivors-$d/split=$i"))
      }
      val extended = Dedup.extendCorpusArtifact(art, survivors, "doc_id", "text")
      extended.write.parquet(path(s"artifact-${d + 1}"))
      assert(spark.read.parquet(path(s"survivors-$d")).count() === 8)
      val n = Seq(survivors, splits.head, extended)
        .map(_.queryExecution.explainString(FormattedMode).split('\n').length)
      survivors.unpersist(blocking = true)
      assert(sc.getPersistentRDDs.keySet.toSet === before, s"day $d left caches behind")
      n
    }
    info(s"plan lines per day (survivors, split, extended artifact): ${lines.mkString(", ")}")
    for ((name, ceiling, i) <- Seq(
        ("survivors", PlanLineCeiling, 0),
        ("hashSplit split", ComposedPlanLineCeiling, 1),
        ("extended artifact", ComposedPlanLineCeiling, 2))) {
      val perDay = lines.map(_(i))
      assert(perDay.forall(_ <= ceiling),
        s"$name plans of ${perDay.mkString(", ")} lines exceed $ceiling")
      assert(perDay(1) <= perDay(0), s"day 1's $name plan grew: ${perDay.mkString(" -> ")}")
    }
  }

  test("connected components that fail leave no cache behind") {
    val s = spark
    import s.implicits._
    val sc = spark.sparkContext
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val boom = udf { (x: Long) =>
      if (x == 5L) throw new IllegalStateException("boom")
      x
    }
    val failures: Seq[(String, () => Any)] = Seq(
      // the first materialization over the persisted edges throws
      "failing input" -> (() => Dedup.connectedComponentsWithStats(
        chain.withColumn("b", boom(col("b"))), "a", "b")),
      // labels still change in the last allowed round: the edges cache
      // built fine and must be released on the way out
      "non-convergence" -> (() => Dedup.connectedComponentsWithStats(
        chain, "a", "b", maxIter = 1)))
    for ((name, run) <- failures) {
      val before = sc.getPersistentRDDs.keySet.toSet
      intercept[Exception](run())
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"$name left persisted RDDs: $left")
    }
  }

  test("a leaf-rooted result composes with AQE off (planned sort orders over aliased columns)") {
    // with AQE off the executed plan's sort order can name a column under
    // its pre-alias id; the leaf must not carry such an order into the
    // cache, or every plan composed on the result fails to resolve it
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val evalDocs = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val report = Decontaminate.nearDupContaminationReport(
        train, "doc_id", "text", evalDocs, "eval_id", "text")
      assert(report.orderBy("doc_id").count() === train.count())
      report.unpersist(blocking = true)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

