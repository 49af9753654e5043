package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkInternals, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call layer counters and spans for the traced passes.
  *
  * Three benchmark-registered listeners feed it: a `SparkListener` (jobs,
  * stages, tasks with their metrics), a `QueryExecutionListener` (Catalyst
  * phase times from `QueryExecution.tracker`) and a
  * `StreamingQueryListener` (micro-batch phase times and state-store
  * work). Calls run one at a time, so `begin` drains and clears the event
  * buffers and `end` drains them again: everything buffered then belongs
  * to that call. Spans are kept in memory and written out with the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private var stages = 0

  /** Spans as JSON objects: id, parent, name, start and end in epoch ms. */
  val spans = mutable.ArrayBuffer.empty[String]

  def span(id: String, parent: String, name: String, startMs: Long, endMs: Long): Unit =
    spans += Json.obj("id" -> Json.str(id), "parent" -> Json.str(parent),
      "name" -> Json.str(name), "start_ms" -> Json.num(startMs.toDouble),
      "end_ms" -> Json.num(endMs.toDouble))

  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time, -1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      tasks += Task(i.launchTime, i.finishTime, e.reason != Success,
        metric(_.executorRunTime), metric(_.executorCpuTime), metric(_.jvmGCTime),
        metric(_.shuffleWriteMetrics.bytesWritten), metric(_.shuffleReadMetrics.totalBytesRead),
        metric(_.shuffleReadMetrics.fetchWaitTime), metric(_.diskBytesSpilled))
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      plans += Plan(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        batches += Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.numRowsUpdated).sum)
      }
  }

  def install(): Unit = {
    sc.addSparkListener(sched)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    SparkInternals.drainListeners(sc)
    sc.removeSparkListener(sched)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def begin(): Unit = {
    SparkInternals.drainListeners(sc)
    synchronized {
      jobs.clear(); tasks.clear(); plans.clear(); batches.clear(); stages = 0
    }
  }

  /** Counters of the call that just ended, into `rec.counters`, plus its
    * spans: call, then build and exec, then Catalyst phases, Spark jobs and
    * micro-batches under whichever of build or exec they started in.
    */
  def end(rec: Harness.CallRec): Unit = {
    SparkInternals.drainListeners(sc)
    synchronized {
      val c = rec.counters
      val (t0, tb, t1) = (rec.startMs, rec.buildEndMs, rec.endMs)
      val mb = 1e6
      c("build.jobs") = jobs.count(_.submitMs < tb)
      c("spark.jobs") = jobs.size
      c("spark.stages") = stages
      c("spark.tasks") = tasks.size
      c("spark.tasks_failed") = tasks.count(_.failed)
      c("spark.task_run_s") = tasks.map(_.runMs).sum / 1e3
      c("spark.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
      c("spark.gc_s") = tasks.map(_.gcMs).sum / 1e3
      c("shuffle.write_mb") = tasks.map(_.shuffleWrite).sum / mb
      c("shuffle.read_mb") = tasks.map(_.shuffleRead).sum / mb
      c("shuffle.fetch_wait_s") = tasks.map(_.fetchWaitMs).sum / 1e3
      c("shuffle.spill_mb") = tasks.map(_.spill).sum / mb
      // wall time inside the call during which no task ran
      val busy = tasks.map(t => (math.max(t.launchMs, t0), math.min(t.finishMs, t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
        }._1
      c("spark.idle_s") = math.max(0L, t1 - t0 - busy) / 1e3
      def phase(k: String) = plans.flatMap(_.phases.get(k)).map { case (a, b) => b - a }.sum / 1e3
      c("plans.analysis_s") = phase("analysis")
      c("plans.optimization_s") = phase("optimization")
      c("plans.planning_s") = phase("planning")
      def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum / 1e3
      c("streaming.batches") = batches.size
      c("streaming.add_batch_s") = dur("addBatch")
      c("streaming.query_planning_s") = dur("queryPlanning")
      c("streaming.wal_commit_s") = dur("walCommit")
      c("streaming.commit_offsets_s") = dur("commitOffsets")
      c("streaming.latest_offset_s") = dur("latestOffset")
      c("streaming.state_commit_s") = batches.map(_.stateCommitMs).sum / 1e3
      c("streaming.state_rows") = batches.map(_.stateRows).sum.toDouble

      val id = s"${rec.pass}/${rec.name}"
      span(id, s"pass${rec.pass}", rec.name, t0, t1)
      span(s"$id/build", id, "build", t0, tb)
      span(s"$id/exec", id, "exec", tb, t1)
      def under(startMs: Long) = if (startMs < tb) s"$id/build" else s"$id/exec"
      plans.zipWithIndex.foreach { case (p, i) =>
        p.phases.foreach { case (k, (a, b)) => span(s"$id/plan$i/$k", under(a), s"plan.$k", a, b) }
      }
      jobs.foreach(j => span(s"$id/job${j.id}", under(j.submitMs), "spark.job", j.submitMs,
        if (j.endMs < 0) t1 else j.endMs))
      batches.zipWithIndex.foreach { case (b, i) =>
        span(s"$id/batch$i", under(b.startMs), "streaming.batch", b.startMs,
          b.startMs + b.durations.getOrElse("triggerExecution", 0L))
      }
    }
  }
}

private object Tracer {
  final case class Job(id: Int, submitMs: Long, var endMs: Long)
  final case class Task(launchMs: Long, finishMs: Long, failed: Boolean,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      fetchWaitMs: Long, spill: Long)
  final case class Plan(phases: Map[String, (Long, Long)])
  final case class Batch(startMs: Long, durations: Map[String, Long],
      stateCommitMs: Long, stateRows: Long)
}
