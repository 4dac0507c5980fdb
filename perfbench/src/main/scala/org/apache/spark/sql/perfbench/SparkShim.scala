package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The engine internals the trace needs, which Spark keeps package-private:
  * the job tags a job was submitted with, the finished query behind an
  * execution-end event (for its phase times and executed plan), and a way
  * to wait until the listener bus has delivered every event posted so far.
  */
object SparkShim {
  def jobTags(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .toSeq.flatMap(_.split(SparkContext.SPARK_JOB_TAGS_SEP))

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
