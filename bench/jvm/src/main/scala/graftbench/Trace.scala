package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are nanoseconds on the harness clock
  * (`System.nanoTime` for the harness's own calls; listener event times,
  * which Spark stamps in epoch milliseconds, are mapped onto it). */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, op: Int, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name,
    "start_ns" -> start, "end_ns" -> end, "parent" -> parent, "op" -> op) ++ attrs
}

/** Counters of one operation, filled from Spark's listeners. */
final class OpCounters {
  var sqlExecs = 0
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputFiles = 0L
  var filesRead = 0L
  var topkExecs = 0L
  var topkPassThrough = 0L
  var topkHeapRows = 0L
  var topkSortFallbacks = 0L
  var asofExecs = 0L
  var asofRows = 0L
  var asofMatched = 0L

  def toMap: Map[String, Any] = Map(
    "sql_execs" -> sqlExecs, "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "executor_run_ms" -> executorRunMs,
    "executor_cpu_ns" -> executorCpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "output_files" -> outputFiles, "files_read" -> filesRead,
    "topk_execs" -> topkExecs, "topk_pass_through_rows" -> topkPassThrough,
    "topk_heap_rows" -> topkHeapRows, "topk_sort_fallbacks" -> topkSortFallbacks,
    "asof_execs" -> asofExecs, "asof_rows" -> asofRows, "asof_matched" -> asofMatched)
}

/** The traced run's recorder. Spans and counters stay in memory and are
  * written out when the run ends. Listener events are attributed to the
  * current operation; the harness drains the listener bus after each
  * operation, so no event of one operation lands on the next. */
final class Tracer(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  @volatile var op: Int = -1
  @volatile var opSpan: Long = 0L
  @volatile var counters: OpCounters = new OpCounters
  // wall-clock ms -> harness ns
  private val nsAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = nsAtEpoch + ms * 1000000L

  private val sqlOpen = mutable.Map.empty[Long, (Long, Long)] // exec -> (span id, start)
  private val jobOpen = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, start, parent)
  private val stageParent = mutable.Map.empty[Int, Long] // stage -> job span
  private var lastSql = 0L

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(x => sqlOpen.get(x.toLong).map(_._1)).getOrElse(opSpan)
      val id = newId()
      jobOpen(e.jobId) = (id, ns(e.time), parent)
      e.stageIds.foreach(stageParent(_) = id)
      counters.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOpen.remove(e.jobId).foreach { case (id, st, parent) =>
        spans += Span(id, "job", st, ns(e.time), parent, op)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val c = counters
      c.stages += 1
      c.tasks += si.numTasks
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
      for (st <- si.submissionTime; en <- si.completionTime)
        spans += Span(newId(), "stage", ns(st), ns(en),
          stageParent.getOrElse(si.stageId, opSpan), op,
          Map("tasks" -> si.numTasks))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          // nested executions (a command running its query) parent to
          // the execution that was open when they started
          val parent = sqlOpen.get(lastSql).map(_._1).getOrElse(opSpan)
          val id = newId()
          sqlOpen(s.executionId) = (id, ns(s.time))
          lastSql = s.executionId
          counters.sqlExecs += 1
          spans += Span(id, "sql", ns(s.time), ns(s.time), parent, op)
        case s: SparkListenerSQLExecutionEnd =>
          sqlOpen.remove(s.executionId).foreach { case (id, st) =>
            val i = spans.lastIndexWhere(_.id == id)
            if (i >= 0) spans(i) = spans(i).copy(end = ns(s.time))
          }
        case _ => ()
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
    val c = counters
    qe.tracker.phases.foreach { case (phase, summary) =>
      phase match {
        case "analysis" => c.analysisMs += summary.durationMs
        case "optimization" => c.optimizationMs += summary.durationMs
        case "planning" => c.planningMs += summary.durationMs
        case _ => ()
      }
    }
    nodes(qe.executedPlan).foreach { p =>
      val cls = p.getClass.getSimpleName
      def metric(k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      if (cls == "TopKPerGroupExec") {
        c.topkExecs += 1
        c.topkPassThrough += metric("numPassThrough")
        c.topkHeapRows += metric("numHeapRows")
        c.topkSortFallbacks += metric("numSortFallbacks")
      } else if (cls == "AsOfJoinExec") {
        c.asofExecs += 1
        c.asofRows += metric("numOutputRows")
        c.asofMatched += metric("numMatched")
      } else if (p.metrics.contains("numFiles")) {
        if (cls.contains("Scan")) c.filesRead += metric("numFiles")
        else c.outputFiles += metric("numFiles")
      }
    }
  }

  /** Every physical node of an executed plan, through adaptive query
    * stages and subqueries. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case r: ReusedExchangeExec => go(r.child)
      case other =>
        out += other
        other.children.foreach(go)
        other.subqueries.foreach(go)
    }
    go(plan)
    out.toSeq
  }

  /** Start listening; events still queued from untraced operations are
    * delivered first, so none lands on a traced one. */
  def install(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}
