package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed operation of a workload's closed loop. */
final case class OpRec(window: Int, kind: String, name: String, layer: String,
    startMs: Double, endMs: Double, rows: Long, ok: Boolean, error: String)

/** A benchmark span around a public engine call made inside an op. */
final case class SpanRec(window: Int, name: String, layer: String, startMs: Double, endMs: Double)

/** Ops, spans and counters of one run. Times are epoch milliseconds on the
  * same clock the Spark listener bus stamps job events with, so spans and
  * jobs can be intersected afterwards.
  */
final class Recorder {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[SpanRec]
  /** Measured window of the ops being recorded: 0, or 1 for the traced
    * window; -1 outside both (set-up, warm-up, checks).
    */
  @volatile var window: Int = -1
  /** Spans are recorded only while this is set (the traced window). */
  @volatile var tracing: Boolean = false

  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val t0 = nowMs
      try body
      finally spans.synchronized { spans += SpanRec(window, name, layer, t0, nowMs) }
    }

  /** Time one op. `body` returns whether its output was correct; a thrown
    * error or a wrong output both count the op as failed.
    */
  def op(kind: String, name: String, layer: String, rows: Long)(body: => Boolean): Boolean = {
    val t0 = nowMs
    val (ok, err) =
      try (body, "")
      catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val t1 = nowMs
    ops.synchronized { ops += OpRec(window, kind, name, layer, t0, t1, rows, ok, if (ok) "" else err) }
    if (tracing) spans.synchronized { spans += SpanRec(window, name, layer, t0, t1) }
    ok
  }
}

/** Per-job record: wall interval, where it was called from, and the task
  * metrics of its stages.
  */
final class JobRec(val id: Int, val startMs: Long, val execId: Option[Long],
    val stageFrames: Seq[String], val stageSite: String) {
  @volatile var endMs: Long = -1L
  @volatile var ok: Boolean = true
  var taskMs, gcMs, shuffleReadB, shuffleWriteB, spillB, outputB, outputRows, inputRows,
      failedTasks = 0L
}

/** Listener installed by the benchmark for the traced window. It records
  * every job with the call site of the SQL execution that ran it (the
  * `details` of `SparkListenerSQLExecutionStart`, joined through the
  * `spark.sql.execution.id` job property) and falls back to the result
  * stage's call site for jobs outside any SQL execution. Only `graft.*`
  * frames of a call site are kept; the layer is chosen afterwards.
  */
final class LayerListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val execFrames = new ConcurrentHashMap[Long, (Seq[String], String)]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execFrames.put(e.executionId, (LayerListener.graftFrames(e.details), LayerListener.site(e.details)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val details = result.map(_.details).getOrElse("")
    val r = new JobRec(e.jobId, e.time, execId, LayerListener.graftFrames(details),
      LayerListener.site(details))
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageToJob.putIfAbsent(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { r =>
      r.ok = e.jobResult == JobSucceeded
      r.endMs = e.time
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.failed)
      Option(stageToJob.get(e.stageId)).foreach(r => r.synchronized(r.failedTasks += 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).foreach { r =>
      val m = e.stageInfo.taskMetrics
      if (m != null) r.synchronized {
        r.taskMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        r.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        r.outputB += m.outputMetrics.bytesWritten
        r.outputRows += m.outputMetrics.recordsWritten
        r.inputRows += m.inputMetrics.recordsRead
      }
    }

  /** Waits (bounded) until every recorded job has its end event: the bus is
    * asynchronous.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline && jobs.values.asScala.exists(_.endMs < 0)) Thread.sleep(20)
    Thread.sleep(200) // stage-completed events trail the job end
  }

  def frames(r: JobRec): (Seq[String], String) =
    r.execId.flatMap(id => Option(execFrames.get(id))).getOrElse((Nil, ""))
}

object LayerListener {
  /** `graft.*` frames of a long-form call site, innermost first. */
  def graftFrames(details: String): Seq[String] =
    Option(details).getOrElse("").split('\n').iterator.map(_.trim)
      .filter(_.startsWith("graft.")).take(16).toSeq

  /** First two lines of a call site: the Spark method and the first frame
    * outside Spark (diagnostics only).
    */
  def site(details: String): String =
    Option(details).getOrElse("").split('\n').iterator.map(_.trim).take(2).mkString(" <- ").take(300)
}
