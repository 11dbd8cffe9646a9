// job-timeline probe: `sbt "runMain graft.JobProbe <sfDir> q_name ..."`
// runs each contract query end-to-end (builder + final count) with a
// listener that records every Spark job's wall time, task time and first
// stage name, plus the DRIVER GAPS between consecutive jobs (planning,
// parquet commit, state I/O — work the stage metrics never see). Purpose
// (optimization round): multi-job contract queries (frontier waves,
// manifest publishes, curation stages) spend much of their bench seconds
// OUTSIDE any one query plan; this attributes the wall to jobs vs gaps so
// the fix targets the real cost.
package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

object JobProbe {
  private final case class JobRec(id: Int, start: Long, var end: Long = -1L,
      var desc: String = "", var callSite: String = "", var taskTimeMs: Long = 0L,
      var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId, e.time)
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        r.callSite = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.put(e.jobId, r)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val sid = e.stageInfo.stageId
        Option(stageToJob.get(sid)).map(jobs.get).filter(_ != null).foreach { r =>
          r.taskTimeMs += e.stageInfo.taskMetrics.executorRunTime
          r.tasks += e.stageInfo.numTasks
        }
      }
    })
    // optional warmup pass mirroring Bench's default rhythm
    sys.env.get("GRAFT_PROBE_WARMUP").foreach { wdir =>
      args.drop(1).distinct.foreach { q =>
        try SparkEntry.queries(q)(spark, wdir).count()
        catch { case _: Throwable => () }
      }
    }
    args.drop(1).foreach { q =>
      jobs.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, sfDir).count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // listener bus is async — poll until every recorded job has its
      // end event (bounded), instead of a fixed sleep that under load
      // reported dur=0 for late-arriving ends and inflated the gap
      // attribution this tool exists to measure
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
          jobs.values.toArray(Array.empty[JobRec]).exists(_.end < 0)) Thread.sleep(50)
      val recs = jobs.values.toArray(Array.empty[JobRec]).sortBy(_.start)
      recs.filter(_.end < 0).foreach(r =>
        println(s"[jobprobe]   WARNING job ${r.id} has no end event after 5 s — dur/gap untrusted"))
      var prevEnd = -1L
      var jobMs = 0L; var gapMs = 0L
      println(f"[jobprobe] $q%s wall=$wallMs%.0f ms rows=$n%d jobs=${recs.length}%d")
      recs.foreach { r =>
        val dur = math.max(0L, r.end - r.start)
        val gap = if (prevEnd < 0) 0L else math.max(0L, r.start - prevEnd)
        jobMs += dur; gapMs += gap
        prevEnd = math.max(prevEnd, r.end)
        val label = if (r.desc.nonEmpty) r.desc else r.callSite
        println(f"[jobprobe]   job ${r.id}%4d dur=$dur%6d ms gap=$gap%6d ms taskTime=${r.taskTimeMs}%7d ms tasks=${r.tasks}%4d  $label%s")
      }
      println(f"[jobprobe]   TOTAL jobs=$jobMs%d ms gaps=$gapMs%d ms (wall $wallMs%.0f ms)")
    }
    spark.stop()
  }
}
