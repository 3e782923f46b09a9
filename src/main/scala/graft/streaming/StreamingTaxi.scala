package graft.streaming

import graft.io.{EventCodec, LocalCheckpointFileManager}
import graft.operators.TaxiQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming execution of the reference's taxi job
  * (ProcessTaxiStream.java:64-167), Spark-first:
  *
  *  - source: `readStream` over newline-JSON files (the offline stand-in
  *    for the Kinesis consumer, S1) decoded by the strict codec (S2);
  *  - event time: `withWatermark` on `dropoff_datetime` (P2). Spark's
  *    watermark is heuristic (max event time − delay per micro-batch)
  *    rather than the reference's punctuated control records — final
  *    window CONTENTS are identical, only emission timing differs
  *    (SURVEY.md §7.4). The producer's watermark records are consumed
  *    as monitoring rows ([[watermarkProgress]]), not as the clock;
  *  - state: windowed streaming aggregation in the RocksDB state store
  *    (C1, [[configureStreamingSession]]), checkpointed per query with
  *    changelog checkpointing: a commit writes only the batch's
  *    changes, and local checkpoint files are written without a
  *    `chmod` or `readlink` child process per file. Every query
  *    compiles into the session's one class loader, so a query start
  *    reuses code an earlier start compiled;
  *  - C2 event-time toggle: `eventTime = false` reproduces the
  *    reference's `--noeventtime` processing-time mode
  *    (ProcessTaxiStream.java:69-71) by windowing on ingestion time.
  */
object StreamingTaxi {

  val DefaultWatermarkDelay = "10 seconds"

  /** Streaming session set-up shared by the app and the specs,
    * applied before any query starts: the RocksDB state store
    * (C1, the Spark analogue of the reference's RocksDB backend,
    * ProcessTaxiStream.java:139-148) with changelog checkpoints, one
    * class loader for every query's generated code, and checkpoint
    * files on the local file system written without a child process
    * per file ([[graft.io.LocalCheckpointFileManager]]). */
  def configureStreamingSession(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // incremental checkpoints: each commit appends the batch's
    // changelog instead of flushing, zipping and copying every SST
    // file; snapshots upload from background maintenance. Still
    // exactly-once, and checkpoints written without it still load.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // each streaming query runs in a cloned session; with artifact
    // isolation every clone gets its own executor class loader, the
    // codegen cache (keyed by loader and source) misses, and each
    // query start recompiles its whole-stage code. graft adds no
    // session artifacts, so nothing depends on the isolation.
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    // every micro-batch writes offset, state and commit files before
    // its documents count as indexed; Spark's default manager starts a
    // chmod or readlink process for most of them on a host without
    // libhadoop. Other schemes keep Spark's default manager.
    spark.conf.set(LocalCheckpointFileManager.ConfKey,
      classOf[LocalCheckpointFileManager].getName)
  }

  /** Streaming source: newline-JSON files appearing under `dir`,
    * decoded strictly (S1 + S2). */
  def fromJsonFiles(spark: SparkSession, dir: String): DataFrame =
    EventCodec.parseEvents(
      spark.readStream.text(dir).toDF("value"))

  /** The trip data path with event-time watermarking applied.
    * `eventTime = false` swaps in processing time (C2). */
  def tripStream(events: DataFrame,
      delay: String = DefaultWatermarkDelay,
      eventTime: Boolean = true): DataFrame = {
    val trips = TaxiQueries.validNycTrips(events)
    if (eventTime) trips.withWatermark("dropoff_datetime", delay)
    else trips.withColumn("dropoff_datetime", current_timestamp())
      .withWatermark("dropoff_datetime", "0 seconds")
  }

  /** Q1 over a watermarked trip stream — identical transform to the
    * batch path (TaxiQueries.q1PickupHotspots). */
  def q1(trips: DataFrame): DataFrame =
    TaxiQueries.q1PickupHotspots(trips)

  /** Q2 over a watermarked trip stream. */
  def q2(trips: DataFrame): DataFrame =
    TaxiQueries.q2AirportDurations(trips)

  /** Watermark control records as a monitoring stream (count + max
    * watermark seen) — the reference's punctuated watermarks surfaced
    * as telemetry rather than as the event-time clock (§7.4). */
  def watermarkProgress(events: DataFrame): DataFrame =
    events.filter(col("type") === "watermark")
      .select(col("watermark"))
      .agg(count(lit(1)).as("n_watermarks"),
        max(col("watermark")).as("max_watermark"))

  /** Append-mode writer with checkpointing; caller picks the sink via
    * `format` (memory for tests, parquet/foreachBatch in production). */
  def writer(df: DataFrame, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** Convenience: run to an in-memory table until no more data. */
  def runToMemory(df: DataFrame, name: String,
      checkpointDir: String): StreamingQuery =
    writer(df, checkpointDir, Trigger.AvailableNow())
      .format("memory").queryName(name).start()
}
