package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Small Dataset plumbing that needs sql-internal access. */
object DatasetUtils extends org.apache.spark.internal.Logging {

  /** Run `result` once into a persisted, materialized DataFrame whose
    * logical plan is a single `LogicalRDD` leaf, then free the persisted
    * `release` frames it was built from. On failure the leaf and every
    * `release` frame are freed before the error propagates.
    *
    * Why a leaf: a persisted `result` keeps its whole lineage, and every
    * stage composed on it re-embeds the cached plans below it
    * (InMemoryRelation inside InMemoryRelation), so each write, count and
    * AQE re-plan downstream analyses and formats the full nested tree
    * again — in a composed daily dedup chain that was ~10^5 executed-plan
    * lines per day. The leaf is a plain `LogicalRDD` over the result's
    * internal rows that claims no partitioning or ordering. Under AQE the
    * planned result reports none anyway; with AQE off,
    * `LogicalRDD.fromDataset` (the `Dataset.localCheckpoint` construction)
    * would carry a sort order that can name a column under its pre-alias
    * id, which then fails to resolve in every plan composed on the cached
    * leaf. Once materialized, the cache supplies the real size and row
    * count.
    *
    * Caller contract: the returned frame is persisted and already
    * materialized; `unpersist()` it (or `spark.catalog.clearCache()`)
    * when done. It is eager: the result runs at call time, and filters
    * composed on the returned frame do not push into it.
    */
  def materializeAtLeaf(result: Dataset[_], release: Dataset[_]*): DataFrame =
    materializeAtLeafCounting(result, _.count(), release: _*)._1

  /** [[materializeAtLeaf]] with `count` as the materializing action over
    * the persisted leaf (a filtered count still builds the whole cache),
    * returned beside the frame — for loops that need one number per round
    * without a second job.
    */
  def materializeAtLeafCounting(
      result: Dataset[_],
      count: DataFrame => Long,
      release: Dataset[_]*): (DataFrame, Long) = {
    val origin = castToImpl(result)
    var leaf: DataFrame = null
    try {
      val qe = origin.queryExecution
      // under AQE, toRdd runs the shuffle stages: keep them in a SQL execution
      val rows = SQLExecution.withNewExecutionId(qe, Some("materializeAtLeaf"))(qe.toRdd)
      leaf = org.apache.spark.sql.classic.Dataset.ofRows(origin.sparkSession,
        LogicalRDD(origin.logicalPlan.output, rows)(origin.sparkSession))
      leaf.persist()
      (leaf, count(leaf))
    } catch {
      case e: Throwable =>
        if (leaf != null) leaf.unpersist(blocking = false)
        throw e
    } finally release.foreach(_.unpersist(blocking = false))
  }

  /** Free the cached blocks behind a localCheckpoint'd Dataset. Its plan
    * is a LogicalRDD over the checkpointed (block-cached) RDD, which
    * `Dataset.unpersist` never touches. No-op for non-checkpointed plans.
    */
  def freeCheckpointBlocks(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The reliable-checkpoint directory behind a `Dataset.checkpoint(true)`
    * result (None for localCheckpoint / non-checkpointed plans).
    */
  def checkpointFile(df: Dataset[_]): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD if lr.rdd.getCheckpointFile.isDefined =>
        lr.rdd.getCheckpointFile.get
    }

  /** Delete a checkpoint's files — the cleanup half of the
    * PeriodicRDDCheckpointer pattern (Spark never deletes reliable
    * checkpoints on its own unless the whole context is torn down).
    */
  def deleteCheckpointFile(path: String, df: Dataset[_]): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    // a swallowed failure here leaks rdd-* checkpoint dirs unbounded in
    // production with no signal — log it (matching PeriodicRDDCheckpointer)
    try p.getFileSystem(conf).delete(p, true)
    catch {
      case e: java.io.IOException =>
        logWarning(
          s"Failed to delete checkpoint $path " +
            "(checkpoint directory will leak until manual cleanup)", e)
    }
  }
}
