package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side events from Spark's public listener interfaces, kept in
  * memory with their wall-clock timestamps (epoch ms). Calls run one at
  * a time, so every event is later attributed to the call whose time
  * window contains it ([[Tracer.attribute]]). Listener buses deliver
  * asynchronously; [[Tracer.quiesce]] waits for them to catch up. */
final class Tracer {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[TaskEnd]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  @volatile private var lastEvent = System.currentTimeMillis()
  private def touch(): Unit = lastEvent = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.add(Job(e.jobId, e.time)); touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time); touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.add(java.lang.Long.valueOf(
        e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      tasks.add(
        if (m == null) TaskEnd(e.taskInfo.finishTime, e.reason == TaskSuccess,
          0L, 0L, 0L, 0L, 0L, 0L, 0L)
        else TaskEnd(e.taskInfo.finishTime, e.reason == TaskSuccess,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
      touch()
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add(Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum / 1e3))
      touch()
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("addBatch"), ms("walCommit"), ms("commitOffsets"),
        p.stateOperators.map(_.commitTimeMs).sum))
      touch()
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait (at most `maxMs`) until every started job has ended and no
    * event arrived for `idleMs`. */
  def quiesce(idleMs: Long = 300L, maxMs: Long = 10000L): Unit = {
    val t0 = System.currentTimeMillis()
    def busy = jobs.asScala.exists(_.end < 0) ||
      System.currentTimeMillis() - lastEvent < idleMs
    while (busy && System.currentTimeMillis() - t0 < maxMs) Thread.sleep(50)
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, var end: Long = -1L)
  final case class TaskEnd(time: Long, ok: Boolean, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      outputBytes: Long)
  final case class Plan(start: Long, seconds: Double)
  final case class Progress(time: Long, addBatchMs: Long, walCommitMs: Long,
      commitOffsetsMs: Long, stateCommitMs: Long)

  /** Engine-layer totals of one call window [t0, t1] (epoch ms). */
  def attribute(tr: Tracer, t0: Long, t1: Long, wallS: Double): Map[String, Double] = {
    def in(t: Long) = t >= t0 && t <= t1
    val jobs = tr.jobs.asScala.filter(j => in(j.start)).toSeq
    val tasks = tr.tasks.asScala.filter(t => in(t.time)).toSeq
    val prog = tr.progress.asScala.filter(p => in(p.time)).toSeq
    // union of the call's job intervals, clipped to the call window
    val spans = jobs.map(j => (j.start, math.min(if (j.end < 0) t1 else j.end, t1)))
      .sortBy(_._1)
    var covered = 0L
    var edge = Long.MinValue
    spans.foreach { case (s, e) =>
      val from = math.max(s, edge)
      if (e > from) { covered += e - from; edge = e }
    }
    Map(
      "plan.s" -> tr.plans.asScala.filter(p => in(p.start)).map(_.seconds).sum,
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> tr.stages.asScala.count(s => in(s)).toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.task_failures" -> tasks.count(!_.ok).toDouble,
      "sched.gap_s" -> math.max(0.0, wallS - covered / 1e3),
      "exec.run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "shuffle.write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "shuffle.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "commit.bytes_written" -> tasks.map(_.outputBytes).sum.toDouble,
      "stream.batches" -> prog.size.toDouble,
      "stream.add_batch_s" -> prog.map(_.addBatchMs).sum / 1e3,
      "stream.wal_commit_s" -> prog.map(_.walCommitMs).sum / 1e3,
      "stream.commit_offsets_s" -> prog.map(_.commitOffsetsMs).sum / 1e3,
      "stream.state_commit_s" -> prog.map(_.stateCommitMs).sum / 1e3)
  }
}
