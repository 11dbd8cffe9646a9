// scan-metric probe: `sbt "runMain graft.ScanProbe <sfDir> q_name ..."`
// executes each contract query and prints every file-scan node's runtime
// metrics (files read, bytes read, output rows, scan/total time) plus a
// digest of the canonicalized physical plan. Purpose (r17 verdict #4):
// when a sub-second query's bench number drifts round-over-round with no
// code change, this separates "the plan changed" (digest differs between
// two builds) from "the I/O side changed" (same digest, different
// bytes/files/time — e.g. the driver regenerating testdata with a
// different parquet layout).
package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

object ScanProbe {
  private def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec        => leaves(q.plan)
    case s: FileSourceScanExec    => Seq(s)
    case other                    => other.children.flatMap(leaves) ++
      other.subqueries.flatMap(leaves)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    // reproduce Bench's sf0.001 warmup pass on demand (JIT/codegen warmup
    // on tiny inputs — also the suspect for profile-pollution inflation)
    sys.env.get("GRAFT_PROBE_WARMUP").foreach { wdir =>
      args.drop(1).distinct.foreach { q =>
        try SparkEntry.queries(q)(spark, wdir).count()
        catch { case _: Throwable => () }
      }
    }
    args.drop(1).foreach { q =>
      // reproduce Bench's between-runs hygiene on demand, to separate
      // "the query is slow" from "the harness rhythm makes it slow"
      if (sys.env.contains("GRAFT_PROBE_CLEANSLATE")) {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
      }
      val df = SparkEntry.queries(q)(spark, sfDir)
      val t0 = System.nanoTime()
      val n = df.collect().length // THIS QueryExecution runs, so its metrics populate
      val wallMs = (System.nanoTime() - t0) / 1e6
      val plan = df.queryExecution.executedPlan
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(plan.canonicalized.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      println(f"[scanprobe] $q%s wall=$wallMs%.0f ms rows=$n%d planDigest=$digest%s")
      leaves(plan).foreach { s =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(-1L)
        val table = s.relation.location.rootPaths.headOption.fold("?")(_.getName)
        println(s"[scanprobe]   scan $table files=${m("numFiles")} " +
          s"bytes=${m("filesSize")} rows=${m("numOutputRows")} " +
          s"scanTimeMs=${m("scanTime")} metadataMs=${m("metadataTime")}")
      }
    }
    spark.stop()
  }
}
