package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkShim

/** Engine work attributed to a span: scheduler and executor counts from the
  * listener, Catalyst phase times and executed-plan shape from each
  * finished SQL execution.
  */
final class Counts {
  var jobs, stages, tasks, taskMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes, outputBytes = 0L
  var queries, planMs, execMs, planLines, exchanges = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    queries += o.queries; planMs += o.planMs; execMs += o.execMs
    planLines += o.planLines; exchanges += o.exchanges
  }

  def toMap: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "queries" -> queries, "plan_ms" -> planMs, "exec_ms" -> execMs,
    "plan_lines" -> planLines, "exchanges" -> exchanges)
}

/** One call into a layer. Times are epoch milliseconds with sub-millisecond
  * precision, on the same clock as the listener's task times.
  */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
    val startMs: Double) {
  var endMs: Double = Double.NaN
  /** JVM GC time during the span, children included. */
  var gcMs = 0L
  /** Rows the call produced, when the call materializes them; -1 if not. */
  var rows = -1L
  /** Work attributed to this span and not to a child. */
  val own = new Counts
  /** `own` plus every descendant's. */
  val incl = new Counts
  /** Wall time inside the span during which no task was running. */
  var idleMs = 0.0
  def wallMs: Double = endMs - startMs
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. Engine work is attributed to the
  * innermost span open when it was submitted: every span adds a Spark job
  * tag while it is open, and jobs and SQL executions carry the tags set at
  * submission. Work submitted from a thread that does not inherit the tags
  * falls back to the innermost span open at its submission time, which is
  * exact here because one client thread makes every call in sequence.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  import Tracer._
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val TagPrefix = "perfbench-span-"

  def apply[T](layer: String, name: String)(body: => T): T = {
    val s = new Span(spans.size + 1, open.headOption.fold(0)(_.id), layer, name, nowMs)
    spans += s
    open = s :: open
    val tag = TagPrefix + s.id
    sc.addJobTag(tag)
    val gc0 = Tracer.gcTotalMs()
    try body
    finally {
      s.gcMs = Tracer.gcTotalMs() - gc0
      s.endMs = nowMs
      sc.removeJobTag(tag)
      open = open.tail
    }
  }

  /** Record the row count of the innermost open span. */
  def rows(n: Long): Unit = open.headOption.foreach(_.rows = n)

  private val jobRecs = mutable.ArrayBuffer[JobRec]()
  private val stagesRun = mutable.ArrayBuffer[Int]()
  private val taskRecs = mutable.ArrayBuffer[TaskRec]()
  private val sqlStarts = mutable.HashMap[Long, (Int, Long)]()
  private val sqlRecs = mutable.ArrayBuffer[SqlRec]()

  private def tagSpan(tags: Iterable[String]): Int =
    tags.collect { case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt }
      .foldLeft(0)(math.max)

  // Listener callbacks run on the listener-bus thread; they only append raw
  // records (under the tracer's lock), and `finish` attributes them.
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobRecs += JobRec(e.jobId, tagSpan(SparkShim.jobTags(e.properties)), e.time, e.stageIds)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized { stagesRun += e.stageInfo.stageId }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) taskRecs += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        sqlStarts(s.executionId) = (tagSpan(s.jobTags), s.time)
      }
      case x: SparkListenerSQLExecutionEnd =>
        SparkShim.queryExecution(x).foreach { qe =>
          val planMs = qe.tracker.phases.values.map(_.durationMs).sum
          val tree = qe.executedPlan.treeString.split('\n')
          val exchanges = tree.count(_.contains("Exchange"))
          Tracer.this.synchronized {
            val (span, t0) = sqlStarts.remove(x.executionId).getOrElse((0, x.time))
            sqlRecs += SqlRec(span, t0, planMs, x.time - t0, tree.length.toLong, exchanges.toLong)
          }
        }
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** Innermost span whose interval holds `t`, for work without a tag. */
  private def spanAt(t: Double): Int =
    spans.reverseIterator.find(s => s.startMs <= t && t <= s.endMs).fold(0)(_.id)

  /** Wait for every listener event, attribute the records to spans and
    * roll the counts up the span tree. Call once, after the last span.
    */
  def finish(): Unit = {
    SparkShim.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      def resolve(tagged: Int, t: Double): Option[Span] =
        byId.get(if (tagged > 0) tagged else spanAt(t))
      val stageSpan = mutable.HashMap[Int, Span]()
      jobRecs.foreach { j =>
        resolve(j.tagSpan, j.timeMs.toDouble).foreach { s =>
          s.own.jobs += 1
          j.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
        }
      }
      stagesRun.foreach(st => stageSpan.get(st).foreach(_.own.stages += 1))
      taskRecs.foreach { t =>
        stageSpan.get(t.stageId).foreach { s =>
          val c = s.own
          c.tasks += 1; c.taskMs += t.runMs
          c.shuffleRead += t.shuffleRead; c.shuffleWrite += t.shuffleWrite; c.spill += t.spill
          c.inputBytes += t.inputBytes; c.outputBytes += t.outputBytes
        }
      }
      sqlRecs.foreach { q =>
        resolve(q.tagSpan, q.timeMs.toDouble).foreach { s =>
          val c = s.own
          c.queries += 1; c.planMs += q.planMs; c.execMs += q.execMs
          c.planLines += q.planLines; c.exchanges += q.exchanges
        }
      }
      // children have larger ids than their parents
      spans.foreach(s => s.incl.add(s.own))
      spans.reverseIterator.foreach(s => byId.get(s.parent).foreach(_.incl.add(s.incl)))

      val busy = Tracer.union(taskRecs.map(t => (t.launchMs.toDouble, t.finishMs.toDouble)).toSeq)
      spans.foreach { s =>
        val covered = busy.iterator.map { case (a, b) =>
          math.max(0.0, math.min(b, s.endMs) - math.max(a, s.startMs))
        }.sum
        s.idleMs = math.max(0.0, s.wallMs - covered)
      }
    }
  }

  def toJson: String = Json.arr(spans.toSeq.map { s =>
    Json.Raw(Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "run_id" -> runId, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "gc_ms" -> s.gcMs, "rows" -> s.rows, "idle_ms" -> s.idleMs,
      "own" -> Json.Raw(Json.obj(s.own.toMap)), "incl" -> Json.Raw(Json.obj(s.incl.toMap)))))
  })
}

object Tracer {
  private final case class JobRec(jobId: Int, tagSpan: Int, timeMs: Long, stageIds: Seq[Int])
  private final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, inputBytes: Long, outputBytes: Long)
  private final case class SqlRec(tagSpan: Int, timeMs: Long, planMs: Long, execMs: Long,
      planLines: Long, exchanges: Long)

  def gcTotalMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Union of intervals, as disjoint sorted intervals. */
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer[(Double, Double)]()
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }
}
