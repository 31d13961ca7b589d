package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline's actual domain flow, re-expressed on this
  * library: GBFS station-status records from a Kafka JSON feed →
  * silver cleaning → 15-minute gold availability aggregates
  * (reference: src/jobs/spark_streaming_job.py:34-117 and
  * spark_batch_backfill.py:34-67). A user of the reference switches
  * by pointing these transforms at their topic/lake paths; every
  * function works identically on batch and streaming frames.
  */
object StationStatus {

  /** The reference's JSON schema (spark_streaming_job.py:34-43). */
  val schema: StructType = StructType(Seq(
    StructField("station_id", StringType, nullable = false),
    StructField("num_bikes_available", IntegerType),
    StructField("num_ebikes_available", IntegerType),
    StructField("num_docks_available", IntegerType),
    StructField("is_installed", BooleanType),
    StructField("is_renting", BooleanType),
    StructField("is_returning", BooleanType),
    StructField("last_reported", LongType)))

  /** Silver: epoch→event_ts, boolean normalization, dedup on
    * (station_id, last_reported), guarded pct_bikes_available
    * (spark_streaming_job.py:75-93). The reference repeats this code
    * in its batch job; here it IS the batch job.
    */
  def silver(bronze: DataFrame): DataFrame =
    Medallion.silverClean(
      Medallion.coerceTypes(bronze,
        boolCols = Seq("is_installed", "is_renting", "is_returning"))
        .withColumn("event_ts", to_timestamp(from_unixtime(col("last_reported"))))
        .withColumn("pct_bikes_available",
          Medallion.guardedRatio(col("num_bikes_available").cast("double"),
            col("num_docks_available").cast("double"))),
      dedupKeys = Seq("station_id", "last_reported"))

  /** Gold: 15-minute tumbling window × station with the reference's
    * three averages (spark_streaming_job.py:105-117). For streaming,
    * add `.withWatermark("event_ts", "2 hours")` between [[silver]]
    * and this call: it bounds this window aggregation's state (closed
    * windows are emitted and dropped), but not [[silver]]'s dedup
    * state. Silver dedups on (station_id, last_reported) before any
    * watermark exists, so its streaming state keeps every record;
    * it would be bounded only by a watermark set before the dedup on
    * an event-time column that is one of its keys (see
    * [[Medallion.silverClean]]).
    */
  def gold(silverDf: DataFrame): DataFrame =
    silverDf
      .groupBy(window(col("event_ts"), "15 minutes"), col("station_id"))
      .agg(
        avg(col("pct_bikes_available")).as("avg_pct_bikes_available"),
        avg(col("num_bikes_available")).as("avg_bikes"),
        avg(col("num_docks_available")).as("avg_docks"))
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
}
