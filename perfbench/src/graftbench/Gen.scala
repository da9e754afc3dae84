package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded yellow-taxi trip generator. Every value is a pure function of
  * (seed, row id, salt) through xxhash64, so a seed gives the same table
  * whatever the partitioning, and two seeds give different tables. */
object Gen {

  private val Unit53 = 1L << 53

  /** Uniform double in [0, 1) for row id `id`. */
  def u(id: Column, seed: Long, salt: Int): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(Unit53)).cast("double") /
      lit(Unit53.toDouble)

  private def uniformInt(id: Column, seed: Long, salt: Int, lo: Int, hi: Int): Column =
    (lit(lo) + floor(u(id, seed, salt) * (hi - lo + 1))).cast("int")

  private def money(id: Column, seed: Long, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(id, seed, salt) * (hi - lo), 2)

  private def pick(id: Column, seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(id, seed, salt) * values.size) + 1).cast("int"))

  private val Day = 86400L

  /** Yellow-taxi trips (FIXTURES.md §1) with the §2 dirty variant: 5% null
    * passenger_count, 2% fare_amount = -10, 3% trip_distance = 0, 2%
    * passenger_count = 10, 1% trip_distance = 999.99. 2% of the rows copy
    * the 5-column trip key of an earlier row of the same batch.
    *
    * Rows `[0, nBase)` are the base batch, picked up over the 30 days from
    * 2024-01-15; rows `[nBase, nBase + nDelta)` are the delta, picked up
    * from day 27 to day 32, so it overlaps the base's last days and adds
    * new ones, all inside a 7-day lookback of the base's last day. */
  def trips(spark: SparkSession, nBase: Long, nDelta: Long, seed: Long,
      delta: Boolean): DataFrame = {
    val id = col("id")
    val t0 = java.time.Instant.parse("2024-01-15T00:00:00Z").getEpochSecond
    val isDelta = id >= nBase
    val batchStart = when(isDelta, lit(nBase)).otherwise(lit(0L))
    val kid = when(id > batchStart && u(id, seed, 1) < 0.02,
      batchStart + floor(u(id, seed, 2) * (id - batchStart)).cast("long"))
      .otherwise(id)
    val (from, to) = if (delta) (nBase, nBase + nDelta) else (0L, nBase)
    val k = col("kid")
    val pickupSec = when(k >= nBase,
        lit(t0 + 27 * Day) + floor(u(k, seed, 3) * (5 * Day)))
      .otherwise(lit(t0) + floor(u(k, seed, 3) * (30 * Day)))
    val dirty = u(id, seed, 20)
    val passengers = uniformInt(id, seed, 10, 1, 6)
    val distance = money(id, seed, 11, 0.5, 50.0)
    val fare = money(id, seed, 12, 5.0, 200.0)
    spark.range(from, to).select(id, kid.as("kid"))
      .select(
        uniformInt(k, seed, 4, 1, 2).as("VendorID"),
        timestamp_seconds(pickupSec).as("tpep_pickup_datetime"),
        timestamp_seconds(pickupSec + uniformInt(k, seed, 5, 5, 120) * 60L)
          .as("tpep_dropoff_datetime"),
        when(dirty < 0.05, lit(null).cast("int"))
          .when(dirty >= 0.10 && dirty < 0.12, lit(10))
          .otherwise(passengers).as("passenger_count"),
        when(dirty >= 0.07 && dirty < 0.10, lit(0.0))
          .when(dirty >= 0.12 && dirty < 0.13, lit(999.99))
          .otherwise(distance).as("trip_distance"),
        uniformInt(id, seed, 13, 1, 5).as("RatecodeID"),
        pick(id, seed, 14, Seq("Y", "N")).as("store_and_fwd_flag"),
        uniformInt(k, seed, 6, 1, 265).as("PULocationID"),
        uniformInt(k, seed, 7, 1, 265).as("DOLocationID"),
        uniformInt(id, seed, 15, 1, 4).as("payment_type"),
        when(dirty >= 0.05 && dirty < 0.07, lit(-10.0)).otherwise(fare)
          .as("fare_amount"),
        money(id, seed, 16, 0.0, 5.0).as("extra"),
        lit(0.5).as("mta_tax"),
        money(id, seed, 17, 0.0, 20.0).as("tip_amount"),
        money(id, seed, 18, 0.0, 10.0).as("tolls_amount"),
        lit(0.3).as("improvement_surcharge"),
        lit(2.5).as("congestion_surcharge"))
      .withColumn("total_amount", round(col("fare_amount") + col("extra") +
        col("mta_tax") + col("tip_amount") + col("tolls_amount") +
        col("improvement_surcharge"), 2))
  }
}
