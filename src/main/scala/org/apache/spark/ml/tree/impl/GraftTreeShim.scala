package org.apache.spark.ml.tree.impl

import org.apache.spark.ml.feature.Instance
import org.apache.spark.ml.tree.Split
import org.apache.spark.rdd.RDD

/** Access shim: [[RandomForest.findSplits]] is `protected[tree]`, so the
  * graft bin-once scaffold (`BinnedTrees`, package ml.graft) cannot call
  * it directly. Everything else it needs (TreePoint / BaggedPoint /
  * runBagged / DecisionTreeMetadata) is `private[spark]` and reachable.
  */
private[spark] object GraftTreeShim {

  /** Candidate split thresholds per feature — computed ONCE per fit and
    * reused by every tree of it (splits depend on feature values only,
    * never on the residual labels or boost weights being re-fit).
    */
  def findSplits(
      input: RDD[Instance],
      metadata: DecisionTreeMetadata,
      seed: Long): Array[Array[Split]] =
    RandomForest.findSplits(input, metadata, seed)
}
