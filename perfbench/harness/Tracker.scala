package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchSql
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

/** Counters of one op (or, at op id -1, of work outside any op).
  * Spark and streaming events arrive on different listener threads. */
final class OpCounters {
  private val n = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = synchronized { n(k) += v }
  def toMap: Map[String, Double] = synchronized { n.toMap }
}

/** A job as seen by the scheduler, for spans and no-job time. */
final case class JobSpan(id: Int, op: Int, startMs: Long, var endMs: Long)

/** Marker the client posts right before (`open`) and right after the
  * timed action of op `op`, so the listener knows which SQL executions
  * that action ran. */
final case class TimedAction(op: Int, open: Boolean) extends SparkListenerEvent

/** One SQL action run inside a timed window: its name, whether its
  * optimized plan still ends in a Sort, and its output columns. */
final case class ActionPlan(name: String, keepsSort: Boolean, columns: Seq[String])

/** Spark and streaming listener that charges every job, task, block
  * and micro-batch to the op that caused it. Ops run one at a time
  * from one client thread, which sets the job group `op-<id>` and
  * [[current]]; jobs from streaming threads (which set their own job
  * group) fall back to [[current]]. Counters are read after the
  * listener bus has drained, so late events are never lost.
  */
final class Tracker extends SparkListener {
  @volatile var current: Int = -1
  private val counters = mutable.Map.empty[Int, OpCounters]
  private val stageOp = mutable.Map.empty[Int, Int]
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val jobById = mutable.Map.empty[Int, JobSpan]

  def of(op: Int): OpCounters = synchronized {
    counters.getOrElseUpdate(op, new OpCounters)
  }

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("op-") => g.stripPrefix("op-").toInt }
      .getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    e.stageIds.foreach(stageOp(_) = op)
    val j = JobSpan(e.jobId, op, e.time, e.time)
    jobs += j; jobById(e.jobId) = j
    of(op).add("scheduler.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      of(stageOp.getOrElse(e.stageInfo.stageId, current))
        .add("scheduler.stages", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageOp.getOrElse(e.stageId, current))
    c.add("scheduler.tasks", 1)
    if (e.taskInfo != null && e.taskInfo.failed) c.add("scheduler.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("task.run_s", m.executorRunTime / 1e3)
      c.add("task.cpu_s", m.executorCpuTime / 1e9)
      c.add("task.gc_s", m.jvmGCTime / 1e3)
      c.add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
      c.add("exchange.shuffle_write_bytes",
        m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("exchange.shuffle_read_bytes",
        m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("exchange.spill_bytes", m.diskBytesSpilled.toDouble)
      c.add("write.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      c.add("write.output_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  private val timedActions = mutable.Map.empty[Int, mutable.ArrayBuffer[ActionPlan]]
  private var timedOp: Option[Int] = None

  /** SQL actions run inside op `op`'s timed window, in order. */
  def actionsOf(op: Int): Seq[ActionPlan] = synchronized {
    timedActions.get(op).map(_.toSeq).getOrElse(Nil)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case TimedAction(op, open) =>
        timedOp = if (open) Some(op) else None
        if (open) timedActions(op) = mutable.ArrayBuffer.empty
      case end: SparkListenerSQLExecutionEnd =>
        for (op <- timedOp; (name, qe) <- PerfbenchSql.action(end))
          timedActions(op) += ActionPlan(name, Tracker.finalSort(qe.optimizedPlan).isDefined,
            qe.optimizedPlan.output.map(_.name))
      case _ =>
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val lvl = e.blockUpdatedInfo.storageLevel
    if (lvl == StorageLevel.NONE || !lvl.isValid)
      of(current).add("storage.blocks_dropped", 1)
  }

  /** Micro-batch progress of the streaming keys. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double =
        if (d.containsKey(k)) d.get(k).doubleValue / 1e3 else 0.0
      val c = of(current)
      c.add("streaming.batches", 1)
      c.add("streaming.trigger_s", ms("triggerExecution"))
      c.add("streaming.add_batch_s", ms("addBatch"))
      c.add("streaming.query_planning_s", ms("queryPlanning"))
      c.add("streaming.wal_commit_s", ms("walCommit"))
      c.add("streaming.commit_offsets_s", ms("commitOffsets"))
      c.add("streaming.latest_offset_s", ms("latestOffset"))
      c.add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      Tracker.this.synchronized {
        triggers += ((current, java.time.Instant.parse(p.timestamp).toEpochMilli,
          (ms("triggerExecution") * 1e3).toLong))
      }
    }
  }

  /** (op, start ms, duration ms) of each micro-batch trigger. */
  val triggers = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

object Tracker {
  /** The Sort that orders a plan's result, looking through the
    * row-preserving nodes that may sit above it. */
  def finalSort(p: LogicalPlan): Option[Sort] = p match {
    case s: Sort => Some(s)
    case _: Project | _: SubqueryAlias | _: GlobalLimit | _: LocalLimit |
         _: Filter | _: Offset => finalSort(p.children.head)
    case _ => None
  }
}
