package graft.streaming

import java.nio.file.Files

import graft.SparkSessionSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SequenceDetectSpec extends AnyFunSuite with SparkSessionSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val H = graft.operators.EventsQueries.SequenceWindowMs
  private val Min = 60000L

  // (user, type, ts) within a 140-minute span (the 3 h watermark
  // delay below keeps every cross-batch arrival above the watermark):
  // conversions, misses, the exact window edge, same-ms, out-of-order
  private val batch1: Seq[(Long, String, Long)] = Seq(
    (1L, "click", 10 * Min), (1L, "purchase", 40 * Min), // converts
    (1L, "click", 70 * Min), // edge: purchase arrives in batch 2
    (4L, "purchase", 50 * Min)) // click arrives later (out-of-order)
  private val batch2: Seq[(Long, String, Long)] = Seq(
    (1L, "purchase", 70 * Min + H), // exactly window-edge: converts
    (1L, "click", 100 * Min), // never converts
    (2L, "purchase", 5 * Min), (2L, "click", 6 * Min), // before only
    (3L, "click", 20 * Min), (3L, "purchase", 20 * Min), // same ms
    (4L, "click", 45 * Min)) // pairs with batch 1's purchase
  private val fixture = batch1 ++ batch2

  test("streamed conversions equal the batch operator, out of order") {
    StreamingTaxi.configureStreamingSession(spark)
    val ms = MemoryStream[(Long, String, Long)]
    val out = SequenceDetect.clickToPurchase(
      ms.toDF().toDF("user_id", "event_type", "ts_ms"),
      delay = "3 hours")
    val query = out.toDF().writeStream
      .format("memory").queryName("seq_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("seq-cp").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // deliver in ARRIVAL order that differs from event time: user 4's
    // purchase precedes its click across the batch boundary
    ms.addData(batch1: _*)
    query.processAllAvailable()
    ms.addData(batch2: _*)
    query.processAllAvailable()
    // watermark flush: far-future events expire all pending state
    ms.addData((99L, "view", 12 * H))
    query.processAllAvailable()
    ms.addData((99L, "view", 24 * H))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("seq_stream")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.EventsQueries.clickToPurchase(
        fixture.toDF("user_id", "event_type", "ts_ms"))
      .filter(col("n_converted") > 0)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // the out-of-order user converted via the recent-purchase state
    assert(streamed(4L) == 1L)
  }
}
