package graft

import org.apache.spark.sql.SparkSession

/** The one session posture every graft entry point and the spec suite run
  * under: `local[cpus]` with as many shuffle partitions as cores, UTC
  * session time (naive timestamps read as UTC, the DuckDB semantics the
  * oracle compares against), the [[graft.catalyst.GraftExtensions]]
  * functions, epoch-nanos longs for TIMESTAMP(NANOS) parquet (see
  * `Tables.load`), no UI, WARN logging.
  *
  * AQE and its 1 MB `coalescePartitions.minPartitionSize` are Spark's
  * defaults and are left to Spark: 64k was A/B'd and rejected
  * (OPTIMIZATION_r21.md). */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the processors this JVM may use. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `extraConf` is applied last, so it can override the posture. */
  def build(appName: String, cpus: Int = defaultCpus,
      extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.catalyst.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
