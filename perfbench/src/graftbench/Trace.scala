package graftbench

import scala.collection.mutable

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds derived from one
  * wall-clock reading plus `System.nanoTime`, so spans and listener
  * events (epoch milliseconds) share a clock. `parent` is -1 for roots. */
final case class Span(id: Int, parent: Int, name: String, start_ns: Long, end_ns: Long)

/** A Spark job as seen by the scheduler listener. `span` is the span
  * whose job group was set when the job was submitted; a job that carried
  * another group (streaming micro-batches set their own) goes to the span
  * that was current when its start event arrived. */
final case class JobRec(
    job: Int, group: String, span: Int, start_ms: Long, var end_ms: Long,
    var stages: Int = 0, var tasks: Int = 0, var run_ms: Long = 0, var cpu_ns: Long = 0,
    var gc_ms: Long = 0, var result_bytes: Long = 0, var shuffle_write_bytes: Long = 0,
    var spill_bytes: Long = 0)

final case class SqlRec(span: Int, func: String, plan_ms: Long)

final case class BatchRec(
    span: Int, run_id: String, batch: Long, start_ms: Long, trigger_ms: Long,
    add_batch_ms: Long, commit_ms: Long, plan_ms: Long, input_rows: Long,
    state_rows: Long, state_bytes: Long)

/** Spans plus the three listeners of a traced run. Spans are held in
  * memory and written out with the run's result. Jobs are attributed to
  * spans by the job group the harness sets around each call; SQL
  * executions and streaming batches, which do not carry that group, go
  * to the span that was current when the bus delivered them — the
  * harness drains the bus before it closes a span, so that is the span
  * whose call ran them. */
final class Trace(spark: SparkSession) {
  import Trace.GroupPrefix

  private val wall0Ns = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs(): Long = wall0Ns + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val sql = mutable.ArrayBuffer.empty[SqlRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  @volatile private var current = -1
  private val stageJob = mutable.HashMap.empty[Int, Int]

  /** Runs `f` inside a span: sets the span's job group, makes it current
    * for SQL/streaming attribution, and drains the bus at its end. */
  def span[T](name: String, parent: Int)(f: Int => T): T = {
    val id = spans.synchronized { spans += null; spans.length - 1 }
    val start = nowNs()
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevCurrent = current
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    current = id
    try f(id)
    finally {
      GraftBenchBus.flush(sc)
      current = prevCurrent
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
      spans.synchronized { spans(id) = Span(id, parent, name, start, nowNs()) }
    }
  }

  val jobListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = JobRec(e.jobId, group, Trace.spanOfGroup(group).getOrElse(current),
        e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end_ms = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.run_ms += m.executorRunTime
          j.cpu_ns += m.executorCpuTime
          j.gc_ms += m.jvmGCTime
          j.result_bytes += m.resultSize
          j.shuffle_write_bytes += m.shuffleWriteMetrics.bytesWritten
          j.spill_bytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  val sqlListener: QueryExecutionListener = new QueryExecutionListener {
    private def planMs(qe: QueryExecution): Long =
      Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      sql.synchronized { sql += SqlRec(current, func, planMs(qe)) }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      sql.synchronized { sql += SqlRec(current, func, planMs(qe)) }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.synchronized {
        batches += BatchRec(current, p.runId.toString, p.batchId, start, d("triggerExecution"),
          d("addBatch"), d("walCommit") + d("commitOffsets"), d("queryPlanning"),
          p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    GraftBenchBus.flush(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  val GroupPrefix = "graftbench-span-"

  /** The span a job belongs to, from the job group the harness set. */
  def spanOfGroup(group: String): Option[Int] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .flatMap(g => g.substring(GroupPrefix.length).toIntOption)
}
