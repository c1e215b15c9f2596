package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbenchbridge.SqlEndBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with the span that caused it. Times are
  * epoch milliseconds with a fractional part, so bench-side spans and
  * Spark's event times share one clock. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: String, kind: String)

/** Spans recorded from the bench's own files around each layer call, plus
  * Spark job and stage spans parented to the enclosing op span, task
  * metrics summed per stage and Catalyst phase times per query. All of it
  * is kept in memory and written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  private var nextId = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  val stages = mutable.ArrayBuffer.empty[Map[String, Any]]

  private val opProp = "perfbench.op"
  private val opSpanProp = "perfbench.opspan"
  // job id -> (op, op span id, span id of the job)
  private val jobs = mutable.HashMap.empty[Int, (String, Int, Int)]
  private val jobStart = mutable.HashMap.empty[Int, Double]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[(Int, Int), Array[Double]]
  private val openSql = mutable.HashSet.empty[Long]
  private var sqlEnds = 0L
  private val tagPrefix = "perfbench-op="
  // SQL execution id -> op, for executions started under a traced op's tag
  // while the Spark listener is attached
  private val execOp = mutable.HashMap.empty[Long, String]
  // Catalyst records by SQL execution id, attributed to an op when read.
  // A query callback and the Spark listener both handle the execution's end
  // event, one after the other; whichever runs second pairs the record with
  // the id, matching them by their QueryExecution.
  private val queryRecords = mutable.ArrayBuffer.empty[(Long, Map[String, Any])]
  private var pendingQuery: Option[(QueryExecution, Map[String, Any])] = None
  private var pendingEnd: Option[(QueryExecution, Long)] = None

  private def pair(): Unit = (pendingQuery, pendingEnd) match {
    case (Some((q, rec)), Some((e, id))) if q eq e =>
      queryRecords += id -> rec
      pendingQuery = None
      pendingEnd = None
    case _ => ()
  }

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def newId(): Int = lock.synchronized { nextId += 1; nextId }

  def record(name: String, start: Double, end: Double, parent: Int,
      op: String, kind: String, id: Int = -1): Int = lock.synchronized {
    val sid = if (id >= 0) id else newId()
    spans += Span(sid, name, start, end, parent, op, kind)
    sid
  }

  /** Time `f` as a span named `name` under `parent`. */
  def span[A](name: String, parent: Int, op: String, kind: String = "layer")(
      f: => A): A = {
    val t0 = now()
    try f finally record(name, t0, now(), parent, op, kind)
  }

  /** An op span: Spark jobs started inside `f` are tagged with the op id so
    * the listener parents them here. `sql` ops wait for the listener to
    * catch up before returning. Returns the span id with the result. */
  def op[A](name: String, opId: String, sql: Boolean = true)(
      f: Int => A): (Int, A) = {
    val sid = newId()
    val sqlBefore = lock.synchronized(sqlEnds)
    sc.setLocalProperty(opProp, opId)
    sc.setLocalProperty(opSpanProp, sid.toString)
    sc.addJobTag(tagPrefix + opId)
    val t0 = now()
    val r = try f(sid) finally {
      record(name, t0, now(), 0, opId, "op", sid)
      sc.removeJobTag(tagPrefix + opId)
      sc.setLocalProperty(opProp, null)
      sc.setLocalProperty(opSpanProp, null)
    }
    if (sql) settle(opId, sqlBefore)
    (sid, r)
  }

  /** Wait until the listener has seen the op's SQL executions and jobs
    * end, so the next op starts with the listener caught up. */
  private def settle(opId: String, sqlBefore: Long): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def quiet: Boolean = lock.synchronized {
      sqlEnds > sqlBefore && openSql.isEmpty &&
        !jobs.exists { case (j, (o, _, _)) => o == opId && jobStart.contains(j) }
    }
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(1)
  }

  /** Catalyst records of the traced ops. A query belongs to the op whose
    * job tag its SQL execution started under; executions of untraced ops
    * and of output checks carry no tag or start while the listener is
    * detached, and are not attributed. */
  def queries: Seq[Map[String, Any]] = {
    Thread.sleep(200)
    lock.synchronized(queryRecords.toSeq.flatMap { case (id, q) =>
      execOp.get(id).map(op => q + ("op" -> op))
    })
  }

  /** SQL executions started under each traced op's tag. */
  def sqlExecutions: Map[String, Int] = lock.synchronized(
    execOp.values.groupBy(identity).view.mapValues(_.size).toMap)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(opProp)))
      val parent = props.flatMap(p => Option(p.getProperty(opSpanProp)))
      (op, parent) match {
        case (Some(o), Some(p)) => lock.synchronized {
          jobs(e.jobId) = (o, p.toInt, newId())
          jobStart(e.jobId) = e.time.toDouble
          e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
        }
        case _ => ()
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      for ((o, parent, sid) <- jobs.get(e.jobId);
           t0 <- jobStart.remove(e.jobId)) {
        spans += Span(sid, s"job-${e.jobId}", t0, e.time.toDouble, parent, o,
          "job")
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (stageJob.contains(e.stageId) && e.taskInfo != null) {
        val ti = e.taskInfo
        val m = e.taskMetrics
        val acc = stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          new Array[Double](2))
        val dur = (ti.finishTime - ti.launchTime).toDouble
        if (m != null) {
          val sched = dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - ti.gettingResultTime
          acc(0) += math.max(0.0, sched)
        }
        acc(1) += 1
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val si = e.stageInfo
        for (job <- stageJob.get(si.stageId); (o, _, jobSpan) <- jobs.get(job)) {
          val m = si.taskMetrics
          val t = stageTasks.remove((si.stageId, si.attemptNumber()))
            .getOrElse(new Array[Double](2))
          val t0 = si.submissionTime.map(_.toDouble).getOrElse(0.0)
          val t1 = si.completionTime.map(_.toDouble).getOrElse(t0)
          spans += Span(newId(), s"stage-${si.stageId}", t0, t1, jobSpan,
            o, "stage")
          stages += Map(
            "op" -> o, "job" -> job, "stage" -> si.stageId,
            "tasks" -> si.numTasks,
            "task_s" -> (if (m == null) 0.0 else m.executorRunTime / 1e3),
            "cpu_s" -> (if (m == null) 0.0 else m.executorCpuTime / 1e9),
            "gc_s" -> (if (m == null) 0.0 else m.jvmGCTime / 1e3),
            "sched_delay_s" -> t(0) / 1e3,
            "input_mb" -> (if (m == null) 0.0
              else m.inputMetrics.bytesRead / 1048576.0),
            "shuffle_write_mb" -> (if (m == null) 0.0
              else m.shuffleWriteMetrics.bytesWritten / 1048576.0),
            "shuffle_read_mb" -> (if (m == null) 0.0
              else m.shuffleReadMetrics.totalBytesRead / 1048576.0),
            "spill_mb" -> (if (m == null) 0.0
              else (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0))
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized {
          openSql += s.executionId
          s.jobTags.find(_.startsWith(tagPrefix))
            .foreach(t => execOp(s.executionId) = t.stripPrefix(tagPrefix))
        }
      case s: SparkListenerSQLExecutionEnd =>
        lock.synchronized {
          if (openSql.remove(s.executionId)) sqlEnds += 1
          SqlEndBridge.queryExecution(s).foreach { qe =>
            pendingEnd = Some(qe -> s.executionId)
            pair()
          }
        }
      case _ => ()
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble)
        .getOrElse(0.0)
      val plan: SparkPlan = qe.executedPlan
      val exchanges = collectWithSubqueries(plan) { case x: Exchange => x }.size
      val expands = collectWithSubqueries(plan) { case x: ExpandExec => x }.size
      lock.synchronized {
        pendingQuery = Some(qe -> Map("func" -> funcName,
          "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"),
          "plan_exchanges" -> exchanges, "plan_expands" -> expands))
        pair()
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** The Catalyst listener stays registered for the whole traced run: its
    * callbacks can arrive after an op's last listener event, and one
    * unregistered in between would drop them. */
  def attachQueries(): Unit = spark.listenerManager.register(queryListener)

  def attach(): Unit = sc.addSparkListener(sparkListener)

  def detach(): Unit = sc.removeSparkListener(sparkListener)
}
