package org.apache.spark.ml.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.DecisionTreeRegressor
import org.apache.spark.ml.tree.{DecisionTreeModel, Split}
import org.apache.spark.ml.tree.impl.{
  BaggedPoint, DecisionTreeMetadata, GraftTreeShim, RandomForest, TreePoint
}
import org.apache.spark.ml.util.{Instrumentation, MetadataUtils}
import org.apache.spark.mllib.tree.configuration.{Strategy => OldStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.rdd.util.PeriodicRDDCheckpointer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** Iteration-state cache manager: persists the per-iteration weighted
  * dataset, eagerly materializes it, drops the previous one, and truncates
  * lineage every `checkpointInterval` iterations via a checkpoint —
  * without it an N-iteration boosting loop carries O(N) plan depth
  * (reference uses PeriodicRDDCheckpointer: regression/BoostingRegressor
  * .scala:202-206).
  *
  * Checkpoint mode follows the session: when
  * `SparkContext.setCheckpointDir` is set, iterations checkpoint RELIABLY
  * to that directory (data survives executor loss — at 1000 executors
  * with dynamic allocation, localCheckpoint's cached-blocks-only contract
  * is a real failure mode), keeping the latest two checkpoints and
  * deleting older files exactly like the reference's
  * PeriodicRDDCheckpointer. Without a checkpoint dir it falls back to
  * localCheckpoint (single-JVM / test mode).
  */
private[graft] class IterLoopCache(checkpointInterval: Int) extends AutoCloseable {
  private var prev: DataFrame = _
  private var iter = 0
  private val checkpointFiles = scala.collection.mutable.Queue.empty[String]

  private def release(df: DataFrame): Unit = {
    // Dataset.unpersist is a no-op on localCheckpoint blocks (they bypass
    // the CacheManager) — free the underlying RDD cache explicitly or each
    // checkpointed iteration's full dataset lingers in executor storage.
    // Safe here: the successor iteration is already materialized, so the
    // freed lineage is never re-entered (reliable checkpoint files are
    // managed separately and outlive the cached blocks).
    df.unpersist()
    org.apache.spark.sql.graft.DatasetUtils.freeCheckpointBlocks(df)
  }

  def next(df: DataFrame): DataFrame = {
    iter += 1
    val out =
      if (checkpointInterval > 0 && iter % checkpointInterval == 0) {
        if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
          val cp = df.checkpoint(eager = true)
          org.apache.spark.sql.graft.DatasetUtils.checkpointFile(cp)
            .foreach(checkpointFiles.enqueue(_))
          // keep the newest checkpoint plus its predecessor (persisted
          // successor blocks may still recompute through it on loss) —
          // the PeriodicRDDCheckpointer retention policy
          while (checkpointFiles.size > 2) {
            org.apache.spark.sql.graft.DatasetUtils
              .deleteCheckpointFile(checkpointFiles.dequeue(), cp)
          }
          cp
        } else df.localCheckpoint(true)
      } else { df.persist(StorageLevel.MEMORY_AND_DISK); df.count(); df }
    if (prev != null) release(prev)
    prev = out
    out
  }

  /** Runs when the fit ends, also when it fails: every per-iteration
    * result is collected by then, so both the cached blocks and any
    * remaining reliable checkpoint files are dead weight — free them all.
    */
  override def close(): Unit = if (prev != null) {
    val last = prev
    release(prev)
    prev = null
    while (checkpointFiles.nonEmpty) {
      org.apache.spark.sql.graft.DatasetUtils
        .deleteCheckpointFile(checkpointFiles.dequeue(), last)
    }
  }
}

/** What a round reports to [[Rounds]]: its statistic (AdaBoost error, GBM
  * validation loss; NaN when it has none) and whether boosting stops.
  */
private[graft] final case class RoundEnd(stat: Double, stop: Boolean)

private[graft] object RoundEnd {
  val next: RoundEnd = RoundEnd(Double.NaN, stop = false)
}

/** The boosting round driver shared by every AdaBoost and GBM loop, on
  * either backend. It runs `round(i)` for i = 0, 1, ... until `maxRounds`
  * or until a round says stop. It owns the member / model-weight /
  * subspace buffers and the validation early stop, logs one
  * `Instrumentation` record per round (index, weight or step vector,
  * statistic, elapsed ms — values the round computed anyway, so no extra
  * Spark job), and closes the loop state it is handed in `finally`: a fit
  * that throws mid-loop leaks no caches and no reliable checkpoint
  * directories (ContextCleaner never deletes those).
  */
private[graft] final class Rounds[M, W](instr: Instrumentation) {
  val members = ArrayBuffer.empty[M]
  val weights = ArrayBuffer.empty[W]
  val subspaces = ArrayBuffer.empty[Array[Int]]
  private var kept: Option[W] = None
  private var bestLoss = Double.PositiveInfinity
  private var badRounds = 0

  def keep(member: M, weight: W, subspace: Array[Int] = null): Unit = {
    members += member
    weights += weight
    if (subspace != null) subspaces += subspace
    kept = Some(weight)
  }

  def run(maxRounds: Int, state: AutoCloseable)(round: Int => RoundEnd): Unit =
    try {
      var i = 0
      var stop = false
      while (i < maxRounds && !stop) {
        val t0 = System.nanoTime()
        kept = None
        val end = round(i)
        val w = kept.map {
          case a: Array[_] => a.mkString("[", ",", "]")
          case x => x.toString
        }.getOrElse("none")
        instr.logInfo(s"boosting round $i: weight=$w stat=${end.stat} " +
          s"ms=${(System.nanoTime() - t0) / 1000000}")
        stop = end.stop
        i += 1
      }
    } finally state.close()

  /** Validation early stop on the weighted validation loss lsum / wsum.
    * A round with no validation weight is skipped (0/0 must not become
    * the baseline). The first loss sets the baseline (Inf - loss > tol*Inf
    * is false, which would mis-count round one); a round that improves
    * the best loss by less than `tol` relative is bad, and after
    * `patience` bad rounds in a row the bad tail is dropped (reference:
    * take(i - v), regression/GBMRegressor.scala:474) and boosting stops.
    */
  def validate(lsum: Double, wsum: Double, patience: Int, tol: Double): RoundEnd = {
    if (!(wsum > 0)) return RoundEnd.next
    val loss = lsum / wsum
    if (bestLoss.isPosInfinity ||
      bestLoss - loss > tol * math.max(math.abs(bestLoss), 1e-12)) {
      bestLoss = loss
      badRounds = 0
      RoundEnd(loss, stop = false)
    } else {
      badRounds += 1
      val stop = badRounds >= patience
      if (stop) {
        val drop = members.length - math.max(members.length - badRounds, 1)
        members.dropRightInPlace(drop)
        weights.dropRightInPlace(drop)
        subspaces.dropRightInPlace(drop)
      }
      RoundEnd(loss, stop)
    }
  }

  /** [[validate]] over a (loss sum, weight sum) aggregate row, where the
    * SQL sums over no rows are null.
    */
  def validate(agg: Row, patience: Int, tol: Double): RoundEnd = validate(
    if (agg.isNullAt(0)) 0.0 else agg.getDouble(0),
    if (agg.isNullAt(1)) 0.0 else agg.getDouble(1),
    patience, tol)
}

/** One AdaBoost round's scalar decision: the round's error, the member's
  * vote weight, whether to keep the member, whether to stop, and the
  * scalar the boost-weight update uses (AdaBoost.R2's beta, SAMME's
  * alpha). The generic and the bin-once backend call the same decision.
  */
private[graft] final case class Verdict(
    error: Double, weight: Double, keep: Boolean, stop: Boolean, update: Double = Double.NaN)

private[graft] object Verdict {

  /** AdaBoost.R2 (Drucker 1997). A perfect fit is kept with full
    * confidence and stops; `error` (a full pass) is only evaluated when
    * maxError > 0. error >= 0.5 breaks the boosting assumption: keep the
    * member only if it is the first (so the ensemble is non-empty, voting
    * with full weight like the classifier's degenerate case), then stop.
    */
  def r2(maxError: Double, error: => Double, first: Boolean): Verdict =
    if (maxError == 0.0) Verdict(0.0, 1.0, keep = true, stop = true)
    else {
      val e = error
      if (e >= 0.5) Verdict(e, 1.0, keep = first, stop = true)
      else {
        val beta = e / (1.0 - e)
        Verdict(e, math.log(1.0 / beta), keep = true, stop = false, beta)
      }
    }

  /** SAMME (Zhu et al. 2009): stop on a perfect round, or on a round worse
    * than random under the SAMME bound (kept only if first).
    */
  def samme(error: Double, numClasses: Int, first: Boolean): Verdict =
    if (error <= 0.0) Verdict(error, 1.0, keep = true, stop = true)
    else if (error >= 1.0 - 1.0 / numClasses) Verdict(error, 1.0, keep = first, stop = true)
    else {
      val alpha = math.log((1.0 - error) / error) + math.log(numClasses - 1.0)
      Verdict(error, alpha, keep = true, stop = false, alpha)
    }

  /** SAMME.R: every member votes with weight 1; the reference stops once a
    * round's classifier is perfect on the weighted sample
    * (classification/BoostingClassifier.scala:203-212).
    */
  def sammeR(error: Double): Verdict = Verdict(error, 1.0, keep = true, stop = error <= 0.0)
}

/** The bin-once scaffold for Spark DecisionTree base learners, shared by
  * bagging, AdaBoost and GBM: metadata, candidate splits (a broadcast) and
  * the binned TreePoint table are built ONCE per fit — feature binning
  * depends on feature values only — instead of once per tree. Per-row
  * loop state (boost weights, predictions) rides alongside the binned
  * points as [[BinnedTrees.RowState]] RDDs. `close()` frees every cache,
  * checkpoint file and the broadcast.
  *
  * `validation` bins the rows flagged `__val` separately
  * (`validPoints`); the splits come from the training rows only.
  *
  * `unitWeights` (AdaBoost) normalizes the instance weights to SUM 1
  * before metadata/split building, because `DecisionTreeMetadata` bakes
  * `minWeightPerNode = minWeightFractionPerNode * weightedNumExamples` at
  * build time and every boosting round trains on weights re-normalized to
  * sum 1 — building metadata on the raw scale would make the fraction
  * threshold unsatisfiable (the generic loop rebuilds metadata per round
  * from the normalized weight column, so sum-1 is the scale that matches
  * it). Split candidates are weighted quantiles and therefore
  * scale-invariant; all boosting statistics (normalized losses, beta,
  * alpha) are scale-invariant too.
  */
private[graft] final class BinnedTrees(
    instances: DataFrame,
    learner: EnsemblePredictorType,
    numClasses: Option[Int] = None,
    checkpointInterval: Int = -1,
    numTrees: Int = 1,
    unitWeights: Boolean = false,
    validation: Boolean = false) extends AutoCloseable {
  import BinnedTrees.toInstance

  private val sc = instances.sparkSession.sparkContext

  private val (strategy, treeSeed): (OldStrategy, Long) = {
    val categorical = MetadataUtils.getCategoricalFeatures(instances.schema("features"))
    learner match {
      case dt: DecisionTreeRegressor => (dt.getOldStrategy(categorical), dt.getSeed)
      case dt: DecisionTreeClassifier =>
        // the caller MUST resolve numClasses (label metadata aware);
        // deriving it here from max(label)+1 would disagree with the
        // model's numClasses whenever metadata declares classes absent
        // from the training rows
        val k = numClasses.getOrElse(throw new IllegalArgumentException(
          "binning a DecisionTreeClassifier requires the caller's metadata-resolved numClasses"))
        (dt.getOldStrategy(categorical, k), dt.getSeed)
    }
  }

  private val flagged: RDD[(Instance, Boolean)] =
    if (!validation) null
    else instances.select("label", "weight", "features", "__val").rdd
      .map(r => (toInstance(r), r.getBoolean(3)))
      .persist(StorageLevel.MEMORY_AND_DISK)

  private val raw: RDD[Instance] =
    if (validation) flagged.filter(!_._2).map(_._1)
    else instances.select("label", "weight", "features").rdd.map(toInstance)
      .persist(StorageLevel.MEMORY_AND_DISK)

  private val cached: RDD[_] = if (validation) flagged else raw

  /** Runs a construction step; a failure releases the instance cache,
    * since no caller holds a scaffold to close yet.
    */
  private def building[T](step: => T): T =
    try step
    catch { case e: Throwable => cached.unpersist(blocking = false); throw e }

  /** Training rows as instances (validation rows excluded). */
  val train: RDD[Instance] =
    if (!unitWeights) raw
    else {
      val total = building {
        val t = BinnedTrees.orderedSum(raw.map(_.weight))
        require(t > 0.0, s"boosting needs positive total instance weight, got $t")
        t
      }
      raw.map(i => Instance(i.label, i.weight / total, i.features))
    }

  /** Validation rows as instances; null without `validation`. */
  val valid: RDD[Instance] = if (validation) flagged.filter(_._2).map(_._1) else null

  val metadata: DecisionTreeMetadata =
    building(DecisionTreeMetadata.buildMetadata(train, strategy, numTrees, "all"))
  private val splits = building(GraftTreeShim.findSplits(train, metadata, treeSeed))
  val bcSplits: Broadcast[Array[Array[Split]]] = sc.broadcast(splits)
  val points: RDD[TreePoint] = TreePoint.convertToTreeRDD(train, splits, metadata)
    .persist(StorageLevel.MEMORY_AND_DISK)
  val validPoints: RDD[TreePoint] =
    if (validation) TreePoint.convertToTreeRDD(valid, splits, metadata)
      .persist(StorageLevel.MEMORY_AND_DISK)
    else null

  private val checkpointers = ArrayBuffer.empty[PeriodicRDDCheckpointer[_]]

  /** Per-row loop state aligned with `points` (or `validPoints`): each
    * generation is registered with a checkpointer (persist, lineage cut
    * every `checkpointInterval` generations) and materialized.
    */
  final class RowState[T](first: RDD[T]) {
    private val ck = new PeriodicRDDCheckpointer[T](checkpointInterval, sc)
    checkpointers += ck
    var rdd: RDD[T] = _
    advance(first)

    def advance(next: RDD[T]): Unit = {
      ck.update(next)
      next.count()
      rdd = next
    }
  }

  /** Grow `numTrees` trees on `data`, bagged with `subsample` /
    * `replacement` at `seed`; the bags are cached for the induction only.
    */
  def runBagged(
      data: RDD[TreePoint],
      subsample: Double,
      numTrees: Int,
      replacement: Boolean,
      seed: Long): Array[DecisionTreeModel] = {
    val bagged = BaggedPoint.convertToBaggedRDD(
      data, subsample, numTrees, replacement, (tp: TreePoint) => tp.weight, seed)
    bagged.persist(StorageLevel.MEMORY_AND_DISK)
    try grow(bagged, numTrees)
    finally bagged.unpersist(blocking = false)
  }

  /** Core induction over already-bagged binned points. */
  def grow(bagged: RDD[BaggedPoint[TreePoint]], numTrees: Int = 1): Array[DecisionTreeModel] =
    RandomForest.runBagged(bagged, metadata, bcSplits, strategy, numTrees, "all", treeSeed, None)

  /** One AdaBoost tree: the binned points carry the round's boost weights
    * normalized by `sumW` (labels never change in AdaBoost, only the
    * weights); the whole sample, a per-round seed.
    */
  def fitReweighted(bw: RDD[Double], sumW: Double, round: Int): DecisionTreeModel = {
    val relabeled = points.zip(bw).map { case (tp, w) =>
      new TreePoint(tp.label, tp.binnedFeatures, w / sumW)
    }
    runBagged(relabeled, 1.0, 1, replacement = false, treeSeed + round).head
  }

  /** Runs when the fit ends, also when it fails: frees the loop-state
    * caches and checkpoint files, the binned tables, the instance cache
    * and the splits broadcast.
    */
  override def close(): Unit = {
    checkpointers.foreach { ck => ck.unpersistDataSet(); ck.deleteAllCheckpoints() }
    points.unpersist(blocking = false)
    if (validPoints != null) validPoints.unpersist(blocking = false)
    cached.unpersist(blocking = false)
    bcSplits.destroy()
  }
}

private[graft] object BinnedTrees {

  private def toInstance(r: Row): Instance =
    Instance(r.getDouble(0), r.getDouble(1), r.getAs[Vector](2))

  /** Deterministic distributed double sum: per-partition sums combined in
    * PARTITION ORDER on the driver. `RDD.sum` folds partition results in
    * task-completion order, which perturbs float sums by ulps run-to-run —
    * enough to flip a split choice and break the fast path's
    * same-seed-same-model guarantee.
    */
  def orderedSum(rdd: RDD[Double]): Double =
    rdd.mapPartitionsWithIndex { (i, it) =>
        var s = 0.0
        it.foreach(s += _)
        Iterator.single((i, s))
      }
      .collect()
      .sortBy(_._1)
      .foldLeft(0.0)(_ + _._2)
}

/** Guarded 1-D Newton for a GBM step size on a convex
  * phi(a) = sum w * L(y, f + a * d). `probe(a)` is ONE pass returning
  * (phi'(a), phi''(a)). The sign of phi' keeps a shrinking [lo, hi]
  * bracket in [0, 100]; a Newton step that escapes it falls back to the
  * midpoint (hessians that vanish in saturated regions — logcosh, large
  * margins — make the raw step oscillate between the clamps), except that
  * a step escaping toward a NOT-yet-probed clamp probes the clamp directly:
  * near-constant directions put the optimum at the clamp, and bisection
  * would spend log2(range/tol) passes getting there. At most 12 probes,
  * typically 2-3; 1.0 when a probe goes non-finite.
  */
private[graft] object BracketedNewton {
  def apply(tol: Double)(probe: Double => (Double, Double)): Double = {
    var lo = 0.0
    var hi = 100.0
    var loProbed = false
    var hiProbed = false
    var a = 1.0
    var it = 0
    var converged = false
    var failed = false
    while (it < 12 && !converged && !failed) {
      val (dphi, d2phi) = probe(a)
      if (!dphi.isFinite || !d2phi.isFinite) failed = true
      else {
        val wantRight = dphi <= 0
        if (dphi > 0) { hi = a; hiProbed = true } else { lo = a; loProbed = true }
        val newton = if (d2phi > 0) a - dphi / d2phi else Double.NaN
        val next =
          if (newton.isFinite && newton > lo && newton < hi) newton
          else if (wantRight && !hiProbed) hi
          else if (!wantRight && !loProbed) lo
          else (lo + hi) / 2.0
        if (math.abs(next - a) < tol || hi - lo < tol) converged = true
        a = next
      }
      it += 1
    }
    if (failed) 1.0 else a
  }
}
