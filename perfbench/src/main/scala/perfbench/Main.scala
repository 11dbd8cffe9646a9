package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a closed loop with a single client. */
trait Workload {
  /** Fresh destination/state/input dirs under `root`, generated inputs,
    * servers and initial state.
    */
  def setup(root: String): Unit
  /** Runs the next op of the closed loop. */
  def step(): Unit
  /** Output checks against values the generator knows: (name, ok, detail). */
  def checks(): Seq[(String, Boolean, String)]
  /** (parquet bytes under the destination, rows the destination holds). */
  def destSize(): (Long, Long)
  /** Workload-side counters since the last reset (traced window). */
  def counters(): Map[String, Double]
  def resetCounters(): Unit
  /** Stops servers and deletes everything `setup` created. */
  def teardown(): Unit
}

/** Benchmark entry point. Runs one workload for a fixed measured window and
  * writes the raw record (ops, spans, jobs, checks) as JSON; `run.py`
  * turns it into metrics.
  *
  *   Main --workload api_sync --seed 1 --seconds 10 --trace 0 --out r.json --work dir
  */
object Main {
  /** Set-ups per run; set-up time counts their median. */
  val SetupReps = 3
  /** Untimed warm-up after the last set-up: steps until a load and a query
    * op have run and at least WarmupSeconds have passed, so timed ops do not
    * pay for JIT and codegen.
    */
  val WarmupSeconds = 3.0

  def main(args: Array[String]): Unit = {
    // Spark and server threads are not daemons: always leave explicitly
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors

    // deep enough call sites that the innermost graft frame is always kept
    System.setProperty("spark.callstack.depth", "64")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    // the session config of graft.Bench
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val rec = new Recorder
    val w: Workload = workload match {
      case "api_sync"     => new ApiSync(spark, rec, seed)
      case "bulk_fanout"  => new BulkFanout(spark, rec, seed, cpus)
      case "corpus_index" => new CorpusIndex(spark, rec, seed, cpus)
      case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val setupS = (0 until SetupReps).map { k =>
      val t0 = System.nanoTime()
      w.setup(s"$work/rep$k")
      val s = (System.nanoTime() - t0) / 1e9
      if (k < SetupReps - 1) w.teardown()
      s
    }
    val warmupS = {
      val t0 = System.nanoTime()
      def ran(kind: String) = rec.ops.exists(o => o.window == -1 && o.kind == kind)
      while (!ran("load") || !ran("query") || System.nanoTime() - t0 < WarmupSeconds * 1e9) w.step()
      (System.nanoTime() - t0) / 1e9
    }

    val windows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def measure(window: Int): Unit = {
      rec.window = window
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val t0 = rec.nowMs
      while (System.nanoTime() < deadline) w.step()
      windows += Map("window" -> window, "start_ms" -> t0, "end_ms" -> rec.nowMs)
      rec.window = -1
    }

    measure(0)
    val checks = w.checks().map(c => (0, c))
    val (destBytes, destRows) = w.destSize()

    var traced: Map[String, Any] = Map.empty
    val tracedChecks = if (!trace) Nil else {
      w.teardown()
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      w.setup(s"$work/rep_traced")
      w.resetCounters()
      rec.tracing = true
      measure(1)
      rec.tracing = false
      listener.drain()
      spark.sparkContext.removeSparkListener(listener)
      traced = Map(
        "counters" -> w.counters(),
        "jobs" -> listener.jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
          val (frames, site) = listener.frames(j)
          Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "exec_id" -> j.execId.getOrElse(-1L), "ok" -> j.ok,
            "frames" -> frames, "site" -> site,
            "stage_frames" -> j.stageFrames, "stage_site" -> j.stageSite,
            "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
            "shuffle_read_b" -> j.shuffleReadB, "shuffle_write_b" -> j.shuffleWriteB,
            "spill_b" -> j.spillB, "output_b" -> j.outputB, "output_rows" -> j.outputRows,
            "input_rows" -> j.inputRows, "failed_tasks" -> j.failedTasks)
        })
      w.checks().map(c => (1, c))
    }

    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "seconds" -> seconds,
      "session_s" -> sessionS, "warmup_s" -> warmupS, "setup_reps_s" -> setupS,
      "windows" -> windows.toSeq,
      "ops" -> rec.ops.toSeq.filter(_.window >= 0).map(o => Map(
        "window" -> o.window, "kind" -> o.kind, "name" -> o.name, "layer" -> o.layer,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "rows" -> o.rows, "ok" -> o.ok,
        "error" -> o.error)),
      "spans" -> rec.spans.toSeq.map(s => Map(
        "window" -> s.window, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "checks" -> (checks ++ tracedChecks).map { case (win, (n, ok, d)) =>
        Map("window" -> win, "name" -> n, "ok" -> ok, "detail" -> d) },
      "dest_bytes" -> destBytes, "dest_rows" -> destRows,
      "peak_rss_mb" -> peakRssMb(),
    ) ++ traced.map { case (k, v) => s"traced_$k" -> v }

    w.teardown()
    spark.stop()
    new ObjectMapper().writeValue(new File(opts("out")), toJava(out))
  }

  /** Process high-water resident set (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_]    => s.map(toJava).asJava
    case x            => x
  }

  /** Parquet bytes under `dir` (recursive). */
  def parquetBytes(dir: String): Long = {
    val root = new File(dir)
    if (!root.exists()) 0L
    else java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Files.size(p)).sum
  }

  def deleteTree(dir: String): Unit = {
    val root = new File(dir)
    if (root.exists())
      java.nio.file.Files.walk(root.toPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }
}
