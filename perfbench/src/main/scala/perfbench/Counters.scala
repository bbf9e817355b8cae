package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op counters from Spark's public listener APIs: scheduler events
  * (jobs, stages, tasks and their metrics), finished query executions
  * (planning phases, executed-plan shape, files written) and streaming
  * progress. Jobs are keyed to ops by the job group the harness sets;
  * query-execution and streaming events by the op that was running when
  * they were delivered (the harness drains the bus after every op).
  */
final class Counters(spark: SparkSession) {
  @volatile var currentOp: Int = -1

  private val perOp = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val stageReads = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val lastState = mutable.HashMap.empty[java.util.UUID, (Long, Long)]
  /** (op, phase, startMs, endMs) of each planning phase. */
  val phases = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  /** Shuffle-read skew (max / mean task read) of each stage with >= 2 reading tasks. */
  val skews = mutable.ArrayBuffer.empty[(Int, Double)]

  private def add(op: Int, key: String, v: Double): Unit = synchronized {
    val m = perOp.getOrElseUpdate(op, mutable.HashMap.empty)
    m(key) = m.getOrElse(key, 0d) + v
  }

  def forOp(op: Int): Map[String, Double] = synchronized {
    perOp.get(op).map(_.toMap).getOrElse(Map.empty)
  }

  private def groupOp(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith(Counters.GroupPrefix) =>
        g.stripPrefix(Counters.GroupPrefix).toInt }
      .getOrElse(currentOp)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Counters.this.synchronized {
      val op = groupOp(e.properties)
      e.stageIds.foreach(stageOp(_) = op)
      add(op, "exec.jobs", 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Counters.this.synchronized {
      val id = e.stageInfo.stageId
      val op = stageOp.getOrElse(id, currentOp)
      add(op, "exec.stages", 1)
      stageReads.remove(id).filter(_.size >= 2).foreach { reads =>
        val mean = reads.sum.toDouble / reads.size
        if (mean > 0) skews += ((op, reads.max / mean))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Counters.this.synchronized {
      val op = stageOp.getOrElse(e.stageId, currentOp)
      add(op, "exec.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime.toDouble
        add(op, "exec.task_run_ms", run)
        add(op, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add(op, "exec.gc_ms", m.jvmGCTime.toDouble)
        val busy = run + m.executorDeserializeTime + m.resultSerializationTime +
          e.taskInfo.gettingResultTime
        add(op, "exec.sched_delay_ms", math.max(0d, e.taskInfo.duration - busy))
        val read = m.shuffleReadMetrics.totalBytesRead
        add(op, "shuffle.read_bytes", read.toDouble)
        add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
        add(op, "sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(op, "sources.input_records", m.inputMetrics.recordsRead.toDouble)
        add(op, "sinks.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        if (read > 0) stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read
      }
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val op = currentOp
    qe.tracker.phases.foreach { case (name, p) =>
      add(op, s"phase.$name", (p.endTimeMs - p.startTimeMs).toDouble)
      synchronized(phases += ((op, name, p.startTimeMs, p.endTimeMs)))
    }
    val plan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) {
      var graftExprs, fallback, files = 0L
      def walk(p: SparkPlan): Unit = {
        p.expressions.foreach(_.foreach { e =>
          if (e.getClass.getName.startsWith("graft.")) graftExprs += 1
          if (e.isInstanceOf[CodegenFallback]) fallback += 1
        })
        p match {
          case w: DataWritingCommandExec =>
            files += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ =>
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case _                        => p.children
        }
        kids.foreach(walk)
        p.subqueries.foreach(walk)
      }
      walk(plan)
      add(op, "expr.graft_nodes", graftExprs.toDouble)
      add(op, "expr.non_codegen_nodes", fallback.toDouble)
      add(op, "sinks.files_written", files.toDouble)
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = currentOp
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0d)
      add(op, "streaming.batches", 1)
      add(op, "streaming.add_batch_ms", d("addBatch"))
      add(op, "streaming.planning_ms", d("queryPlanning"))
      add(op, "streaming.wal_commit_ms", d("walCommit"))
      add(op, "streaming.trigger_ms", d("triggerExecution"))
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      val mem = p.stateOperators.map(_.memoryUsedBytes).sum
      synchronized(lastState(p.runId) = (rows, mem))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      synchronized(lastState.remove(e.runId)).foreach { case (rows, mem) =>
        add(currentOp, "streaming.state_rows", rows.toDouble)
        add(currentOp, "streaming.state_mem_bytes", mem.toDouble)
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streams)
  }

  /** Waits until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Counters {
  val GroupPrefix = "perfbench-op-"
}
