package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators Spark has no built-in for: batch sessionization
  * and as-of joins. Both are composed from window functions over ONE
  * shuffle on the entity key (preference (a) of the custom-operator
  * ladder: compose existing ops before reaching for Catalyst) — the shape
  * that survives 100 TB, unlike the naive θ-join formulations that
  * degenerate to BroadcastNestedLoopJoin.
  */
object Temporal {

  /** Batch sessionization: a session closes after `gapMs` of inactivity
    * (the batch twin of `EventStreams.sessionize`, and the same rule as
    * matomo's visit-close filter). Adds `session_id` = 0-based session
    * index per key. Two window passes, one partitioning — Catalyst reuses
    * the exchange.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, gapMs: Long): DataFrame = {
    // cast first: unix_millis rejects TIMESTAMP_NTZ, and the cast is a
    // no-op for TimestampType / value-preserving for NTZ under the UTC
    // session — so the operator accepts either event-time encoding
    val tsMs = (c: Column) => unix_millis(c.cast(org.apache.spark.sql.types.TimestampType))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val gap = tsMs(col(tsCol)) - tsMs(lag(col(tsCol), 1).over(w))
    df.withColumn("__opens_session", when(gap.isNull || gap > gapMs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__opens_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .drop("__opens_session")
  }

  /** As-of join: for each left row, the single latest right row with
    * `rightTs` <= `leftTs` on the same key (inclusive). Implemented as the
    * union-sort trick: tag both sides, sort by (key, ts, side) with right
    * rows first at equal ts, and carry the last non-null right payload
    * forward with one running `last(ignoreNulls)` window. ONE shuffle on
    * the key — no per-row range probe, no nested-loop join; skew follows
    * the key distribution exactly like any other keyed window.
    *
    * The right side must be unique per (key, ts) — pre-aggregate ties
    * deterministically first (`latestPerKeyTs`).
    *
    * Left rows with no prior right row keep null payloads (left-join
    * semantics). `payload` columns are returned under their right-side
    * names.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      leftTs: String,
      rightTs: String,
      payloadCols: Seq[String],
  ): DataFrame = {
    val internal = Seq("__ts", "__side", "__payload", "__match")
    val clashing = (left.columns ++ right.columns).distinct.filter(internal.contains)
    require(clashing.isEmpty,
      s"asofJoin reserves internal column names ${internal.mkString(", ")}; " +
        s"rename input column(s) ${clashing.mkString(", ")} first")
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .withColumn("__payload", lit(null).cast(
        org.apache.spark.sql.types.StructType(
          right.select(payloadCols.map(col): _*).schema.fields)))
    val r = right
      .select(col(rightTs).as("__ts") +: col(keyCol) +: Seq(struct(payloadCols.map(col): _*).as("__payload")): _*)
      .withColumn("__side", lit(0))
    val unioned = l.select((leftCols.map(col) ++ Seq(col("__ts"), col("__side"), col("__payload"))): _*)
      .unionByName(
        r.select(Seq(col(keyCol), col("__ts"), col("__side"), col("__payload")): _*), allowMissingColumns = true)
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__match", last(col("__payload"), ignoreNulls = true).over(w))
    val out = carried.filter(col("__side") === 1)
    val payload = payloadCols.map(c => col("__match").getField(c).as(c))
    out.select(leftCols.map(col) ++ payload: _*)
  }

  /** Deterministic tie-break for the as-of right side: one row per
    * (key, ts), keeping the maximum of `tieCol`'s row (then the full row via
    * a window, so all payload columns stay consistent).
    */
  def latestPerKeyTs(df: DataFrame, keyCol: String, tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol), col(tsCol)).orderBy(col(tieCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }
}
