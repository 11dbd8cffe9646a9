package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.SparkSession

/** Independent driver-side work submitted together, so that the Spark
  * actions it runs overlap: one thread submitting actions runs their jobs
  * one after another, leaving executors idle through each job's tail and
  * through the driver time between jobs.
  */
object Concurrently {

  /** Run `tasks` at once and return their results in input order.
    *
    * The pool is created for this call, so its threads inherit the
    * caller's Spark local properties (job group, scheduler pool) and
    * active session, and it holds at most `defaultParallelism` threads:
    * more tasks than that queue. Every task is awaited before the first
    * failure is rethrown, with the others' failures suppressed on it, so
    * no task outlives a lease its caller holds. A single task runs on the
    * calling thread.
    */
  def apply[T](spark: SparkSession)(tasks: (() => T)*): Seq[T] =
    if (tasks.size <= 1) tasks.map(_())
    else {
      val pool = Executors.newFixedThreadPool(math.min(tasks.size, spark.sparkContext.defaultParallelism))
      try {
        val futures = tasks.map(t => pool.submit(new Callable[T] { override def call(): T = t() }))
        val outcomes = futures.map { f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collect { case Left(e) => e } match {
          case first +: rest =>
            rest.foreach(first.addSuppressed)
            throw first
          case _ => outcomes.collect { case Right(v) => v }
        }
      } finally pool.shutdown()
    }
}
