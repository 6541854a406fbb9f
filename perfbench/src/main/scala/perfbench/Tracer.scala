package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans of one execution, taken from outside the engine: the harness's own
  * timestamps around `Q.fn`, plan forcing and the drain, plus what the
  * public listeners report (Spark jobs and their task metrics, AQE plan
  * updates, the QueryExecutions actions ran inside the span, streaming
  * progress). The benchmark runs one client in a closed loop and drains the
  * listener bus before installing the listeners and again after the
  * execution, so every buffered event belongs to the execution that just
  * ended.
  *
  * Span times are epoch microseconds; Spark stamps jobs in milliseconds,
  * which bounds the resolution of job attribution. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap[Int, JobAcc]()
  private val stageJob = mutable.HashMap[Int, JobAcc]()
  private var aqeUpdates = 0
  private val qes = mutable.ArrayBuffer[QueryExecution]()
  private val batches = mutable.ArrayBuffer[StreamingQueryProgress]()

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def us(nanoTime: Long): Long = (nanoTime + epochOffsetNs) / 1000L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val j = new JobAcc(e.jobId, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => lock.synchronized(aqeUpdates += 1)
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      lock.synchronized(qes += qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      lock.synchronized(qes += qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized(batches += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def remove(): Unit = {
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Wait for the listener bus, then turn everything buffered since the
    * last call into the spans of execution `id`. `marks` are the nanoTime
    * stamps of: `Q.fn` called, it returned, the plan was forced, the last
    * row was drained. `finalQe` is the frame `Q.fn` returned (null if it
    * threw); `attrs` are the counter deltas the harness took around it. */
  def spans(id: String, marks: Seq[Long], finalQe: QueryExecution,
            attrs: Map[String, Any]): Seq[Map[String, Any]] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val (js, updates, seen, progress) = lock.synchronized {
      val out = (jobs.values.toList, aqeUpdates, qes.toList, batches.toList)
      jobs.clear(); stageJob.clear(); aqeUpdates = 0; qes.clear(); batches.clear()
      out
    }
    val Seq(t0, t1, t2, t3) = marks.map(us)
    val children = Seq(("queries.build", t0, t1), ("plans.plan", t1, t2), ("exec.run", t2, t3))
    // a job belongs to whichever child span was open when it started
    def parentOf(startUs: Long): String =
      children.find { case (_, s, e) => startUs < e }.getOrElse(children.last)._1

    val frames = (Option(finalQe).toList ++ seen.filterNot(_ eq finalQe))
      .distinctBy(System.identityHashCode)
    def phaseMs(name: String): Double =
      frames.flatMap(_.tracker.phases.get(name)).map(_.durationMs.toDouble).sum
    def ruleMs(suffix: String): Double = frames.flatMap(_.tracker.rules.collect {
      case (rule, s) if rule.endsWith(suffix) => s.totalTimeNs / 1e6
    }).sum

    val root = Map[String, Any]("id" -> id, "parent" -> None, "name" -> "query",
      "start_us" -> t0, "end_us" -> t3) ++ attrs ++ Map(
      "analyze_ms" -> phaseMs("analysis"),
      "optimize_ms" -> phaseMs("optimization"),
      "physical_ms" -> phaseMs("planning"),
      "uct_rule_ms" -> ruleMs("UctJoinReorderRule"),
      "wcoj_rule_ms" -> ruleMs("WcojJoinRule"),
      "switch_rule_ms" -> ruleMs("RuntimeOrderSwitchRule"),
      "aqe_updates" -> updates)
    val childSpans = children.map { case (name, s, e) =>
      Map[String, Any]("id" -> s"$id/$name", "parent" -> id, "name" -> name,
        "start_us" -> s, "end_us" -> e)
    }
    val jobSpans = js.map { j =>
      val s = j.startMs * 1000L
      Map[String, Any]("id" -> s"$id/job${j.id}", "parent" -> s"$id/${parentOf(s)}",
        "name" -> "spark.job", "start_us" -> s, "end_us" -> math.max(s, j.endMs * 1000L),
        "stages" -> j.stages, "tasks" -> j.tasks, "executor_run_ms" -> j.runMs,
        "executor_cpu_ms" -> j.cpuNs / 1e6, "task_gc_ms" -> j.gcMs,
        "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
        "spill_bytes" -> j.spill)
    }
    val batchSpans = progress.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      Map[String, Any]("id" -> s"$id/batch-${p.runId}-${p.batchId}",
        "parent" -> s"$id/queries.build", "name" -> "streaming.batch",
        "start_us" -> s, "end_us" -> (s + d.getOrElse("triggerExecution", 0L) * 1000L),
        "run_id" -> p.runId.toString, "batch_id" -> p.batchId,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
    (root +: childSpans) ++ jobSpans ++ batchSpans
  }
}

object Tracer {
  final class JobAcc(val id: Int, val startMs: Long) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
}
