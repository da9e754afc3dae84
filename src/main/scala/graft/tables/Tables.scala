package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Scale notes (100 TB posture): every loader returns a plain file-source
  * DataFrame so Catalyst keeps full pushdown/pruning freedom — filters and
  * projections written on top of these reach the parquet scan
  * (`PushedFilters`/`ReadSchema`), and partition-pruning works unchanged when
  * the single file is swapped for a partitioned directory tree. No caching or
  * collect here; materialization decisions belong to the caller.
  */
object Tables {

  /** The `events` table's `ts` column has shipped in two physical forms:
    * parquet TIMESTAMP(NANOS) (which Spark's reader only accepts as a plain
    * long via `spark.sql.legacy.parquet.nanosAsLong`) and plain µs
    * TIMESTAMP/TIMESTAMP_NTZ. Every operator and every DuckDB oracle is
    * written against ONE contract — `ts` = exact epoch NANOS as BIGINT — so
    * this loader normalizes both forms to it: nanos-long passes through,
    * µs timestamps widen ×1000 (exact; DuckDB's `epoch_ns` on a µs
    * timestamp is the same ×1000 widening, so the engines stay
    * bit-identical). NTZ values are interpreted in the session timezone,
    * which callers must pin to UTC (Bench/Verify/tests all do) — that is
    * exactly DuckDB's naive-timestamp reading, so the oracle gate cannot
    * drift. The normalization is a row-local projection: scans under it
    * still prune columns, and predicates on OTHER columns still push down
    * (a pushed filter on a widened `ts` would be lost, but every hot
    * filter here keys on event_type/value/user_id).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(spark, df) else df
  }

  private def normalizeEventsTs(spark: SparkSession, df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df // already raw nanos
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType =>
        require(
          spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is a timestamp; set spark.sql.session.timeZone=UTC in " +
            "the SparkSession builder so naive timestamps read as UTC " +
            "instants (the DuckDB oracle semantics)")
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected a nanos BIGINT " +
          "or a (µs) timestamp")
    }

  /** events with `ts` = raw nanos long plus `ts_utc` = µs-truncated timestamp. */
  def events(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .withColumn("ts_utc", expr("timestamp_micros(ts div 1000)"))
}
