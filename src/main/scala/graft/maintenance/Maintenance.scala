package graft.maintenance

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** M1-M3 — table maintenance
  * (reference: scripts/iceberg_maintenance.py:97-174; config
  * lakehouse_config.yaml:618-627, target 128 MB files).
  *
  * This build is catalog-less (stock Spark jars, SURVEY §7.4), so:
  *  - M1 compaction = coalesce-rewrite of a parquet directory toward a
  *    target file size (the semantic of Iceberg's rewrite_data_files);
  *  - M2 snapshot expiry / M3 orphan removal are Iceberg metadata
  *    operations with no parquet-directory equivalent → raise, exactly like
  *    the reference raises for unimplemented sources.
  */
object Maintenance {

  final case class CompactionStats(
      filesBefore: Long, bytesBefore: Long, filesAfter: Long)

  /** M1 — rewrite small files into ~`targetFileBytes` files. Durability note:
    * the rewrite lands in `<path>__compact_tmp` first, then swaps via two
    * renames. Data is never lost, but the swap is NOT atomic: a crash between
    * the two renames leaves the dataset at `<path>__compact_bak` with `path`
    * absent — recovery is renaming the bak directory back (a real table
    * format closes this window with a metadata-pointer commit; see M2/M3). */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactionStats = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new Path(path + "/*.parquet"))
    require(files != null && files.nonEmpty, s"no parquet files under $path")
    val bytes = files.map(_.getLen).sum
    val target = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)

    val tmp = new Path(path + "__compact_tmp")
    spark.read.parquet(path).repartition(target)
      .write.mode("overwrite").parquet(tmp.toString)
    val bak = new Path(path + "__compact_bak")
    require(fs.rename(hPath, bak), s"could not move $path aside")
    require(fs.rename(tmp, hPath), s"could not move compacted files into $path")
    fs.delete(bak, true)
    // report files actually written (AQE may coalesce below the requested
    // repartition count), not the requested count
    val after = fs.globStatus(new Path(path + "/*.parquet"))
    CompactionStats(files.length.toLong, bytes,
      if (after == null) 0L else after.length.toLong)
  }

  /** M2 — Iceberg-only (`expire_snapshots`); no catalog in this build. */
  def expireSnapshots(path: String, retainDays: Int): Nothing =
    throw new UnsupportedOperationException(
      "snapshot expiry requires an Iceberg/Delta table format; plain parquet " +
        "directories have no snapshot metadata (reference: iceberg_maintenance.py:97-122)")

  /** M3 — Iceberg-only (`remove_orphan_files`). */
  def removeOrphans(path: String, safetyHours: Int): Nothing =
    throw new UnsupportedOperationException(
      "orphan-file removal requires Iceberg table metadata to define " +
        "'referenced'; plain parquet directories have no such notion " +
        "(reference: iceberg_maintenance.py:150-174)")
}
