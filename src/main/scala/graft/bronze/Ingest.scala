package graft.bronze

import graft.config.ConfigLoader.SourceSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1-S7 — the bronze ingestion surface
  * (reference: bronze/ingestors/ingest_to_iceberg.py:239-515):
  * source resolution, all-null column drop, ingestion-metadata columns,
  * partitioned append/overwrite sink.
  *
  * Intentional non-goal (SURVEY §2.1 S7): the reference's 50k-row chunked
  * writes exist because pandas holds the table in one process; Spark's
  * distributed write replaces them — executors write partitions in parallel.
  *
  * Scale notes: `dropAllNullColumns` is ONE aggregate over all columns (the
  * reference's per-column pandas isna().all()), and the write is
  * `partitionBy(year, month)` so every downstream year/month predicate
  * partition-prunes the scan.
  */
object Ingest {

  /** Resolve a source to a DataFrame. http/file parquet+csv are supported;
    * the rest raise exactly like the reference (ingest_to_iceberg.py:300-308
    * raises NotImplementedError for s3/postgres/api). */
  def readSource(spark: SparkSession, source: SourceSpec): DataFrame =
    source.sourceType match {
      case "http" | "file" =>
        source.format match {
          case "parquet" => spark.read.parquet(source.path)
          case "csv" =>
            spark.read.option("header", "true").option("inferSchema", "true")
              .csv(source.path)
          // beyond the reference's parquet/csv: JSONL is the dominant
          // LLM-corpus interchange format (one JSON doc per line — what
          // spark.read.json natively expects), `text` the rawest (one
          // line per row, a single `value` column) — both land here so
          // web-corpus drops ingest through the same bronze path
          case "json" | "jsonl" => spark.read.json(source.path)
          case "text" => spark.read.text(source.path)
          case other =>
            throw new UnsupportedOperationException(s"unsupported format: $other")
        }
      case other =>
        throw new UnsupportedOperationException(
          s"source type '$other' is declared but not implemented (reference parity)")
    }

  /** S3 — drop columns whose values are 100% NULL, in ONE pass (the Arrow
    * null-type workaround, ingest_to_iceberg.py:276-279). */
  def dropAllNullColumns(df: DataFrame): DataFrame = {
    if (df.columns.isEmpty) return df
    val counts = df.agg(
      count(col(df.columns.head)).as(df.columns.head),
      df.columns.tail.map(c => count(col(c)).as(c)): _*).head()
    val allNull = df.columns.zipWithIndex.collect {
      case (c, i) if counts.getLong(i) == 0L => c
    }
    if (allNull.isEmpty) df else df.drop(allNull: _*)
  }

  /** S4 — `_ingestion_timestamp` + `_source_file` metadata columns
    * (ingest_to_iceberg.py:281-284). */
  def withIngestionMetadata(df: DataFrame, sourceFile: String): DataFrame =
    df.withColumn("_ingestion_timestamp", current_timestamp())
      .withColumn("_source_file", lit(sourceFile))

  /** S6/S9 — partitioned parquet sink, append/overwrite. */
  def write(df: DataFrame, path: String, mode: String,
      partitionBy: Seq[String]): Unit = {
    require(mode == "append" || mode == "overwrite", s"bad write mode: $mode")
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}
