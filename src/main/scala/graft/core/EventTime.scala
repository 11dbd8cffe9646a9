package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time encoding normalization.
  *
  * The synthetic `events.ts` column has shipped in multiple parquet
  * physical encodings across testdata generations — TIMESTAMP(NANOS)
  * (which Spark has no native type for and reads as a nanos long under
  * `spark.sql.legacy.parquet.nanosAsLong`), and
  * `Timestamp(isAdjustedToUTC=false, MICROS)` (read as TIMESTAMP_NTZ).
  * The reference's connectors normalize every incoming datetime shape as
  * a matter of course (sources/salesforce/helpers/records.py:16-52,
  * sources/slack/helpers.py:122-147); this is the engine's own ingestion
  * edge doing the same, so no operator downstream ever sees the
  * encoding. All sessions here run in UTC (Verify/Bench/tests set
  * `spark.sql.session.timeZone=UTC`), so the NTZ→instant cast is
  * value-preserving.
  */
object EventTime {

  /** Normalize a `ts` column to a plain microsecond TimestampType
    * regardless of how the parquet file encoded it:
    *  - nanos-as-long (TIMESTAMP(NANOS) under `nanosAsLong`): integer-
    *    divide to µs — the data is µs-aligned so this is exact, and the
    *    division MUST be integral (`div`), never double, because ns
    *    epoch values (~1.7e18) exceed a double's 53-bit mantissa;
    *  - TIMESTAMP_NTZ (µs, isAdjustedToUTC=false): cast to TimestampType
    *    — value-preserving under the UTC session timezone;
    *  - TimestampType: already canonical.
    * A frame without the column passes through untouched.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema.fields.find(_.name == tsCol).map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }

  /** A session that may not modify the config (Spark refuses with
    * CANNOT_MODIFY_CONFIG / CANNOT_MODIFY_STATIC_CONFIG) keeps its own
    * setting; any other failure propagates.
    */
  private def enableNanosAsLong(s: SparkSession): Unit =
    try s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Set("CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG").contains(e.getCondition) => ()
    }

  /** Batch read + ts normalization. */
  def readTable(s: SparkSession, path: String): DataFrame = {
    enableNanosAsLong(s)
    normalizeTs(s.read.parquet(path))
  }

  /** Streaming twin: the file-stream source needs an explicit schema, so
    * derive it from the batch footer (one metadata read) instead of
    * hard-coding any particular ts encoding, then apply the same
    * normalization. The single-char glob makes the path a directory-style
    * source as the file stream requires.
    */
  def streamTable(s: SparkSession, dir: String, file: String): DataFrame = {
    enableNanosAsLong(s)
    val schema = s.read.parquet(s"$dir/$file").schema
    val glob = s"[${file.head}]${file.tail}"
    normalizeTs(s.readStream.schema(schema).parquet(s"$dir/$glob"))
  }
}
