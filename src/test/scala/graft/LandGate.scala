package graft

/** A hook on every parquet job a spec's lands run, at the job's output
  * committer (the staged fan-out evaluates the source once, at staging,
  * so per-land behaviour has to be planted on the land's own write).
  * `action` runs on the driver when a land's job sets up, keyed by
  * table; `done` holds the tables whose land jobs committed, and
  * `maxInFlight` the most land jobs of one table that were set up and
  * not yet finished at once.
  */
object LandGate {
  @volatile var root: String = ""
  @volatile var action: String => Unit = _ => ()
  val done = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  val maxInFlight = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** Route every parquet write of `body` through the gate for tables
    * under `dir` (the pipeline's own `__stage` dir excluded).
    */
  def armed[T](spark: org.apache.spark.sql.SparkSession, dir: String)(act: String => Unit)(body: => T): T = {
    val key = "spark.sql.parquet.output.committer.class"
    val before = spark.conf.getOption(key)
    root = dir
    action = act
    done.clear(); inFlight.clear(); maxInFlight.clear()
    spark.conf.set(key, classOf[LandGateCommitter].getName)
    try body
    finally {
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      action = _ => ()
    }
  }

  def tableOf(out: org.apache.hadoop.fs.Path): Option[String] = {
    val path = out.toUri.getPath
    val rel = path.stripPrefix(root + "/")
    if (root.isEmpty || rel == path || rel.startsWith("__stage/")) None
    else Some(rel.takeWhile(_ != '/').stripSuffix("__stage"))
  }

  def enter(table: String): Unit = {
    val n = inFlight.merge(table, 1, _ + _)
    maxInFlight.merge(table, n, math.max)
    action(table)
  }

  def exit(table: String, committed: Boolean): Unit = {
    inFlight.merge(table, -1, _ + _)
    if (committed) done.add(table)
  }
}

class LandGateCommitter(out: org.apache.hadoop.fs.Path, ctx: org.apache.hadoop.mapreduce.TaskAttemptContext)
    extends org.apache.parquet.hadoop.ParquetOutputCommitter(out, ctx) {
  private val table = LandGate.tableOf(out)

  override def setupJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    table.foreach(LandGate.enter)
    super.setupJob(job)
  }

  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    super.commitJob(job)
    table.foreach(LandGate.exit(_, committed = true))
  }

  override def abortJob(job: org.apache.hadoop.mapreduce.JobContext,
      state: org.apache.hadoop.mapreduce.JobStatus.State): Unit = {
    super.abortJob(job, state)
    table.foreach(LandGate.exit(_, committed = false))
  }
}
