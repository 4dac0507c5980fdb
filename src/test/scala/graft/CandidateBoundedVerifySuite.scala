package graft

import graft.pipeline.{Decontaminate, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ShingleHashes

/** Pins the r16 candidate-bounded verification: the exact-Jaccard verify
  * stage (and the near-dup contamination report's corpus side) semi-join
  * the corpus to the LSH candidate ids BEFORE re-tokenizing/shingling, so
  * verification cost is proportional to the candidate count rather than
  * corpus-linear. These tests pin (a) that the prune cannot change any
  * result — verified pair sets and per-doc reports are identical to the
  * exact corpus-wide computation, including on corpora where most docs
  * have NO candidates and would previously still have been shingled —
  * and (b) that the pruning semi-join sits below the shingle-index explode
  * in the verify query's executed plan.
  */
class CandidateBoundedVerifySuite extends SparkSpec {

  /** 60 unique docs + 6 planted near-dups of docs 0-5: the candidate set
    * is a small fraction of the corpus, which is exactly the regime the
    * prune exists for.
    */
  private lazy val docs: DataFrame = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(97)
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu", "pine", "oak", "elm")
    val base = (0 until 60).map { i =>
      (i.toLong, Array.fill(40)(vocab(rng.nextInt(vocab.length))).mkString(" "))
    }
    val dups = (0 until 6).map { i =>
      val toks = base(i)._2.split(" ")
      (1000L + i, (toks.dropRight(3) ++ Array("x", "y", "z")).mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("minhashPairsVerified equals the exact all-pairs computation " +
    "(candidate-bounded index changes nothing)") {
    val verified = Dedup.minhashPairsVerified(docs, "doc_id", "text", 64, 16,
      shingleSize = 3, threshold = 0.5)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    assert(pairSet(verified) === pairSet(exact))
    verified.unpersist(blocking = false)
    exact.unpersist(blocking = false)
  }

  test("simhashPairsVerified equals the exact all-pairs computation") {
    val verified = Dedup.simhashPairsVerified(docs, "doc_id", "text",
      maxHamming = 8, shingleSize = 3, threshold = 0.5)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    assert(pairSet(verified) === pairSet(exact))
    verified.unpersist(blocking = false)
    exact.unpersist(blocking = false)
  }

  /** Every node of a physical plan, descending into AQE wrappers, query
    * stages and the cached plans behind in-memory scans.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case _ => p.children.flatMap(nodes)
  })

  test("the verify stage's shingle index is candidate-bounded (LeftSemi in plan)") {
    // the verify query's own plan (the returned result is a leaf): every
    // shingle explode must sit above the semi-join that prunes the corpus
    // to candidate ids — a semi-join elsewhere in the plan does not count
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 64, 3).persist()
    val cands = Dedup.minhashCandidatePairs(sigs, 16, 64)
    sigs.unpersist(blocking = false)
    val (verified, sh) =
      Dedup.verifyPairsExactJaccardLazy(docs, "doc_id", "text", cands, 3, 0.5)
    val plan = verified.queryExecution.executedPlan
    val index = nodes(plan).collect {
      case g: GenerateExec if g.generator.exists(_.isInstanceOf[ShingleHashes]) => g
    }
    assert(index.nonEmpty, s"no shingle-index explode in the verify plan:\n$plan")
    index.foreach { g =>
      assert(nodes(g).exists {
        case j: BaseJoinExec => j.joinType == LeftSemi
        case _ => false
      }, s"verify-side shingle index is no longer candidate-pruned:\n$g")
    }
    sh.unpersist(blocking = false)
    cands.unpersist(blocking = false)
  }

  test("incrementalDedupSurvivors is unchanged by the candidate-bounded verify, " +
    "including batches with zero candidates") {
    val corpus = docs.filter(col("doc_id") < 1000L)
    val batch = docs.filter(col("doc_id") >= 1000L)
    val out = Dedup.incrementalDedupSurvivors(corpus, batch, "doc_id", "text")
    // every planted batch doc near-dups a corpus doc -> all dropped
    assert(out.count() === 0)
    out.unpersist(blocking = false)
    // batch of brand-new unique docs: no candidates at all -> the pruned
    // index is EMPTY and every batch doc survives (the previously
    // corpus-wide index would have shingled all 60 corpus docs here)
    val s = spark
    import s.implicits._
    val fresh = Seq(
      (2000L, "completely new content about rivers and stones"),
      (2001L, "another novel document mentioning mountains and snow"))
      .toDF("doc_id", "text")
    val out2 = Dedup.incrementalDedupSurvivors(corpus, fresh, "doc_id", "text")
    assert(out2.count() === 2)
    out2.unpersist(blocking = false)
  }

  test("nearDupContaminationReport is unchanged: every corpus doc keeps a row, " +
    "matches are exact") {
    val evalDocs = docs.filter(col("doc_id") < 6)
      .select(col("doc_id").as("eval_id"), col("text"))
    val train = docs.filter(col("doc_id") >= 1000L || (col("doc_id") >= 6 && col("doc_id") < 1000L))
    val report = Decontaminate.nearDupContaminationReport(
      train, "doc_id", "text", evalDocs, "eval_id", "text")
    val rows = report.collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))
    // EVERY train doc has a row, clean docs with 0 matches and null max
    assert(rows.length === train.count())
    val hits = rows.filter(_._2 > 0).map(_._1).toSet
    // exactly the planted near-dups of eval docs 0-5 are contaminated
    assert(hits === (0 until 6).map(i => 1000L + i).toSet,
      s"contaminated set: $hits")
    assert(rows.filter(r => !hits.contains(r._1)).forall(r => r._2 == 0 && r._3 == null))
    report.unpersist(blocking = false)
  }
}
