package graft.jobs

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Sessionize
import graft.schema.Schemas

/** Hourly incremental sessionization job — the reference's production
  * entry point re-expressed (SessionizationBuiltIn.scala:31–66):
  *
  *   read hour-H behaviors (partition-pruned)            S1/P1
  *   + previous hour's rows at or after H − gap           S2/P2/P4
  *   → unionByName(allowMissingColumns)                   U1
  *   → gap sessionization with carried ids                W1–W4
  *   → keep hour-H rows, sort per file, write overwrite   P6/O1/S5
  *
  * Idempotence: dynamic partition overwrite means re-running hour H
  * replaces exactly the (event_date, event_hour=H) partition. At 100 TB
  * the reads are partition-pruned to one hour of data and the only
  * shuffle is the user-key window exchange, which the carry rides: a
  * user's carried rows are under one gap apart, so they share one id and
  * need no W5/P5 reduction. O1 deviates on purpose: each file, not the
  * hour, is sorted by event time, so one partition's files may overlap.
  */
object SessionizeHour {

  private val HourFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH")

  /** Hour-H rows + active previous-hour rows, sessionized with carry.
    * Pure DataFrame => DataFrame core, unit-testable without storage.
    */
  def sessionizeWithCarry(behaviors: DataFrame, prevActive: DataFrame,
      eventHour: String): DataFrame = {
    val unioned = prevActive.unionByName(
      behaviors.withColumn("session_id", lit(null).cast("string")), allowMissingColumns = true)
    val withTs = unioned.withColumn("__ts",
      to_timestamp(col("event_time"), Schemas.EventTimeFormat))
    Sessionize
      .withCarriedSessionId(withTs, userCol = "user_id", tsCol = "__ts",
        tieCols = Seq("product_id"))
      .filter(col("event_hour") === eventHour)
      // partition columns lead, so the planned write adds no sort of its own
      .sortWithinPartitions("event_date", "event_hour", "__ts")
      .drop("__ts", "session_no")
  }

  def run(spark: SparkSession, logsPath: String, sessionsPath: String,
      eventDate: String, eventHour: String): Unit = {
    val hourStart = LocalDateTime.parse(s"$eventDate $eventHour", HourFmt)
    val prevHour = hourStart.minusHours(1)
    val cutoffUs = (hourStart.toEpochSecond(ZoneOffset.UTC) - Sessionize.DefaultGapSec) * 1000000L

    val behaviors = spark.read.schema(Schemas.behavior).parquet(logsPath)
      .filter(col("event_date") === eventDate && col("event_hour") === eventHour)

    // First run bootstraps from an empty state store (the reference
    // assumes the previous hour always exists; an engine cannot).
    val sessionsP = new org.apache.hadoop.fs.Path(sessionsPath)
    val sessionsExist = sessionsP
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sessionsP)
    val prevSessions =
      if (!sessionsExist)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), Schemas.session)
      else
        spark.read.schema(Schemas.session).parquet(sessionsPath)
          .filter(col("event_date") === prevHour.format(DateTimeFormatter.ofPattern("yyyy-MM-dd")) &&
            col("event_hour") === prevHour.format(DateTimeFormatter.ofPattern("HH")))

    val prevActive = prevSessions.filter(
      unix_micros(to_timestamp(col("event_time"), Schemas.EventTimeFormat)) >= cutoffUs)

    sessionizeWithCarry(behaviors, prevActive, eventHour)
      .write
      .partitionBy("event_date", "event_hour")
      // per-write, not session conf: run() must not leak dynamic
      // overwrite semantics into a long-lived caller session
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(sessionsPath)
  }

  /** Strictly ordered catch-up over a list of (date, hour) pairs — the
    * engine-side equivalent of the reference DAG's `catchup=True` +
    * `depends_on_past=True` + `max_active_runs=1` contract
    * (sessionization_batch.py:12,38,39): hour H+1 must not start before
    * hour H has committed, because it reads H's output as carry state.
    */
  def backfill(spark: SparkSession, logsPath: String, sessionsPath: String,
      hours: Seq[(String, String)]): Unit =
    hours.foreach { case (d, h) => run(spark, logsPath, sessionsPath, d, h) }

  def main(args: Array[String]): Unit = {
    val Array(logsPath, sessionsPath, eventDate, eventHour) = args
    val spark = SparkSession.builder()
      .appName("graft-sessionize-hour")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    run(spark, logsPath, sessionsPath, eventDate, eventHour)
    spark.stop()
  }
}
