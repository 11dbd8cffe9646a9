package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Incremental cursor — the framework's "MAX aggregate + filter" operator
  * (SURVEY §2.5), used by ~20 reference connectors
  * (sources/github/__init__.py:91-93 default max cursor;
  * sources/zendesk/__init__.py:178 coalesced paths `a|b`;
  * sources/zendesk/__init__.py:141-143 end_value early stop).
  *
  * The cursor column may be a `|`-coalesced list of paths: the first
  * non-null field wins (sources/pipedrive/helpers/pages.py:44-46).
  *
  * Usage per run: `apply` filters the batch to (lastValue, endValue];
  * `nextCursor` computes the new high-water mark as ONE distributed
  * aggregate (no collect of data rows); the caller commits it to the
  * StateStore after a successful write.
  */
final case class Incremental(
    cursorPaths: Seq[String],
    initialValue: Option[String] = None,
    endValue: Option[String] = None,
    descending: Boolean = false, // last_value_func=min when true
    /** Opt-in to orchestrator-driven windows (`allow_external_schedulers`,
      * dlt `sources.incremental` signature): when an external scheduler has
      * injected a data interval ([[Incremental.setExternalWindow]]), that
      * interval REPLACES both the committed state bound and the configured
      * end bound for the run — each run processes exactly its interval
      * (start inclusive, end exclusive), which is what makes
      * orchestrator-partitioned backfills gap-free and re-runnable. State
      * is neither consulted nor meant to be advanced while a window is
      * active — [[graft.pipeline.Pipeline]] gates its cursor commit on
      * [[externalWindowActive]]; custom runners must do the same.
      */
    allowExternalSchedulers: Boolean = false,
    /** Per-run scheduler window, bound to THIS cursor instance. Takes
      * precedence over the JVM-global injection: two pipelines running
      * concurrently in one JVM (each on its own thread) each carry their
      * own interval here and never see each other's. Only consulted when `allowExternalSchedulers` — set it
      * via [[withSchedulerWindow]].
      */
    schedulerWindow: Option[(Option[String], Option[String])] = None,
) {
  require(cursorPaths.nonEmpty, "at least one cursor path")

  /** This cursor's interval for the run: the instance-bound window wins
    * over the JVM-global/env injection (which remains as the ambient
    * batch-job path, dlt-style).
    */
  def effectiveWindow: Option[(Option[String], Option[String])] =
    if (!allowExternalSchedulers) None
    else schedulerWindow.orElse(Incremental.externalWindow)

  /** True iff this cursor opts in AND an orchestrator window is present. */
  def externalWindowActive: Boolean = effectiveWindow.isDefined

  /** Copy with a per-run orchestrator interval (start inclusive, end
    * exclusive); implies the opt-in.
    */
  def withSchedulerWindow(start: Option[String], end: Option[String]): Incremental =
    copy(allowExternalSchedulers = true, schedulerWindow = Some((start, end)))

  /** `coalesce(a, b)` over the configured paths. */
  def cursorCol: Column =
    if (cursorPaths.sizeIs == 1) col(cursorPaths.head)
    else coalesce(cursorPaths.map(col): _*)

  /** Rows strictly beyond the committed cursor, bounded by endValue.
    * Open/closed bounds follow the reference: last_value excluded on the
    * start side for max-cursors (dedup against re-reads is the pk's job),
    * endValue exclusive (sources/zendesk/__init__.py:277-278).
    */
  def apply(df: DataFrame, state: StateStore, stateKey: String): DataFrame =
    filterWith(df, state.getString(stateKey))

  /** Filter with an explicit last-committed value (state-free form). */
  def filterWith(df: DataFrame, lastCommitted: Option[String]): DataFrame = {
    val c = cursorCol
    if (externalWindowActive) {
      // Orchestrator interval [start, end): start INCLUSIVE (unlike the
      // state bound — the interval owns its boundary row; excluding it
      // would drop it from every partitioned backfill run), end exclusive
      // (the next interval starts there). Bounds mirror under descending.
      val (s, e) = effectiveWindow.get
      val lo = s.map(v => if (descending) c <= lit(v).cast(dtOf(df)) else c >= lit(v).cast(dtOf(df)))
        .getOrElse(lit(true))
      val hi = e.map(v => if (descending) c > lit(v).cast(dtOf(df)) else c < lit(v).cast(dtOf(df)))
        .getOrElse(lit(true))
      return df.filter(lo && hi)
    }
    val last = lastCommitted.orElse(initialValue)
    val afterStart = last match {
      case Some(v) => if (descending) c < lit(v).cast(dtOf(df)) else c > lit(v).cast(dtOf(df))
      case None    => lit(true)
    }
    val beforeEnd = endValue match {
      // end bound exclusive in both directions (mirrors the reference's
      // end_value semantics, sources/zendesk/__init__.py:277-278)
      case Some(v) => if (descending) c > lit(v).cast(dtOf(df)) else c < lit(v).cast(dtOf(df))
      case None    => lit(true)
    }
    df.filter(afterStart && beforeEnd)
  }

  private def dtOf(df: DataFrame) =
    df.select(cursorCol.as("c")).schema.head.dataType

  /** New high-water mark of an already-filtered batch (max, or min when
    * descending). One row to the driver — the aggregate itself is
    * distributed and partial-aggregated map-side.
    */
  def nextCursor(df: DataFrame): Option[String] = {
    val agg = if (descending) min(cursorCol) else max(cursorCol)
    val r: Row = df.agg(agg.cast("string").as("v")).head()
    if (r.isNullAt(0)) None else Some(r.getString(0))
  }

  /** Map-valued cursor: per-group high-water marks in one grouped aggregate
    * (Kinesis shard→max-seq, sources/kinesis/helpers.py:46-63). Result size
    * = number of groups (shards), safe to collect.
    */
  def nextCursorBy(df: DataFrame, groupCol: String): Map[String, String] = {
    val agg = if (descending) min(cursorCol) else max(cursorCol)
    df.groupBy(col(groupCol).cast("string").as("k"))
      .agg(agg.cast("string").as("v"))
      .collect()
      .iterator
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
  }

  /** True when a newest-first page's minimum falls at/under the committed
    * cursor — the page loop can stop fetching
    * (sources/github/__init__.py:102-108 start_out_of_range).
    */
  def startOutOfRange(pageMin: String, lastValue: Option[String]): Boolean =
    lastValue.exists(lv => Incremental.cursorLeq(pageMin, lv))
}

object Incremental {

  /** Orchestrator-injected data interval, consulted only by cursors
    * constructed with `allowExternalSchedulers = true` (the reference's
    * `allow_external_schedulers` — dlt reads the Airflow task context
    * ambiently; here the scheduler integration calls
    * [[setExternalWindow]] before the run, or exports
    * `GRAFT_SCHEDULER_START`/`GRAFT_SCHEDULER_END` to the batch job).
    * Either bound may be absent (open-ended interval).
    */
  @volatile private var injectedWindow: Option[(Option[String], Option[String])] = None

  /** Inject the JVM-global window. This is AMBIENT state shared by every
    * opted-in cursor in the process — prefer
    * [[Incremental.withSchedulerWindow]] to bind an interval to one cursor
    * when several pipelines share a JVM. Guarded against silently replacing
    * a DIFFERENT active window (the cross-contamination failure: pipeline B
    * overwrites pipeline A's interval mid-run); clear the old window first
    * if replacement is intended.
    */
  def setExternalWindow(start: Option[String], end: Option[String]): Unit = synchronized {
    val next = Some((start, end))
    if (injectedWindow.isDefined && injectedWindow != next)
      throw new IllegalStateException(
        s"external scheduler window $injectedWindow is already active; " +
          "clearExternalWindow() first, or bind per-run windows with withSchedulerWindow")
    injectedWindow = next
  }

  def clearExternalWindow(): Unit = injectedWindow = None

  /** The active window, if any: explicit injection wins over env vars. */
  def externalWindow: Option[(Option[String], Option[String])] =
    injectedWindow.orElse {
      val s = sys.env.get("GRAFT_SCHEDULER_START")
      val e = sys.env.get("GRAFT_SCHEDULER_END")
      if (s.isDefined || e.isDefined) Some((s, e)) else None
    }

  /** Cursor-value `a <= b` with the typing the reference gets for free from
    * Python's dynamic comparison: numeric when both sides parse as numbers
    * (lexicographic "9" > "100" would stop pagination early and skip rows),
    * string otherwise.
    */
  def cursorLeq(a: String, b: String): Boolean =
    (parseNum(a), parseNum(b)) match {
      case (Some(x), Some(y)) => x <= y
      case _                  => a <= b
    }

  private def parseNum(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s.trim)) catch { case _: NumberFormatException => None }

  /** Rewind a temporal cursor by `days` — the attribution-window lag
    * (facebook_ads insights refresh the trailing N days each run,
    * sources/facebook_ads/__init__.py:126,138-140). Supports bare dates,
    * `T`/space-separated datetimes, and Z-instants; any other cursor
    * returns unchanged (lag is only meaningful for temporal cursors).
    */
  def rewindDays(value: String, days: Int): String = {
    if (days <= 0) return value
    val v = value.trim
    try {
      if (v.length == 10) java.time.LocalDate.parse(v).minusDays(days).toString
      else if (v.endsWith("Z"))
        java.time.Instant.parse(v).minus(java.time.Duration.ofDays(days)).toString
      else {
        // Format explicitly: LocalDateTime.toString elides a zero seconds
        // field ("12:30:00" -> "12:30"), which would change the cursor's
        // wire format mid-pagination and break APIs that parse a fixed
        // timestamp layout. Mirror the input's own precision instead.
        val sep = if (v.contains('T')) 'T' else ' '
        val norm = v.replace(' ', 'T')
        val time = norm.substring(norm.indexOf('T') + 1)
        val frac = time.indexOf('.')
        val pattern =
          if (time.count(_ == ':') == 1) "yyyy-MM-dd'T'HH:mm"
          else if (frac < 0) "yyyy-MM-dd'T'HH:mm:ss"
          else "yyyy-MM-dd'T'HH:mm:ss." + ("S" * (time.length - frac - 1))
        java.time.LocalDateTime.parse(norm).minusDays(days)
          .format(java.time.format.DateTimeFormatter.ofPattern(pattern))
          .replace('T', sep)
      }
    } catch { case _: java.time.format.DateTimeParseException => value }
  }
}
