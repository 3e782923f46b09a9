package graft.streaming

import java.nio.file.Files

import graft.SparkSessionSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** BOUNDEDNESS evidence for the stateful streaming twins: the parity
  * specs prove results; these prove the state itself SHRINKS —
  * `stateOperators.numRowsTotal` from StreamingQueryProgress rises
  * while keys accumulate and falls back once the watermark passes
  * (event-time twins) or the TTL fires (processing-time dedup), so
  * unbounded streams cannot grow unbounded state. */
class StreamingStateBoundsSpec extends AnyFunSuite with SparkSessionSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def stateRows(q: StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsTotal)

  private def lastStateRows(q: StreamingQuery): Long =
    stateRows(q).lastOption.getOrElse(-1L)

  test("SequenceDetect state is evicted once the watermark passes") {
    StreamingTaxi.configureStreamingSession(spark)
    val H = 3600000L
    val ms = MemoryStream[(Long, String, Long)]
    val out = SequenceDetect.clickToPurchase(
      ms.toDF().toDF("user_id", "event_type", "ts_ms"),
      delay = "10 minutes")
    val q = out.toDF().writeStream
      .format("memory").queryName("seq_state_bounds")
      .option("checkpointLocation",
        Files.createTempDirectory("ssb-cp").toString)
      .outputMode("append").start()

    // 50 users open clicks → 50 state entries pending a purchase
    ms.addData((1L to 50L).map(u => (u, "click", u * 1000L)): _*)
    q.processAllAvailable()
    val peak = lastStateRows(q)
    assert(peak >= 50, s"expected >= 50 state rows at peak, got $peak")

    // watermark far past every click's window: timeouts must fire and
    // remove the state (two batches: advance watermark, then evict)
    ms.addData((999L, "view", 10 * H))
    q.processAllAvailable()
    ms.addData((999L, "view", 20 * H))
    q.processAllAvailable()
    val after = lastStateRows(q)
    q.stop()
    assert(after < peak && after <= 2,
      s"state not evicted: peak=$peak after=$after (rows=${stateRows(q)})")
  }

  test("StreamingTrailing state is evicted once the watermark passes") {
    StreamingTaxi.configureStreamingSession(spark)
    val H = 3600000L
    val ms = MemoryStream[(Long, Long, Long, Double)]
    val out = StreamingTrailing.trailingHourStats(
      ms.toDF().toDF("user_id", "event_id", "ts_ms", "value"),
      delay = "10 minutes")
    val q = out.toDF().writeStream
      .format("memory").queryName("trail_state_bounds")
      .option("checkpointLocation",
        Files.createTempDirectory("tsb-cp").toString)
      .outputMode("append").start()

    ms.addData((1L to 40L).map(u => (u, u, u * 1000L, 1.0)): _*)
    q.processAllAvailable()
    val peak = lastStateRows(q)
    assert(peak >= 40, s"expected >= 40 state rows at peak, got $peak")

    ms.addData((999L, 999L, 10 * H, 0.0))
    q.processAllAvailable()
    ms.addData((999L, 999L + 1, 20 * H, 0.0))
    q.processAllAvailable()
    val after = lastStateRows(q)
    q.stop()
    assert(after < peak && after <= 2,
      s"state not evicted: peak=$peak after=$after (rows=${stateRows(q)})")
  }

  test("StreamingDedup bucket state is evicted by the processing-time TTL") {
    StreamingTaxi.configureStreamingSession(spark)
    val ms = MemoryStream[(Long, String)]
    // short TTL; ProcessingTimeTimeout makes the engine schedule
    // no-data batches that fire the timeouts, so we poll lastProgress
    // instead of processAllAvailable (which never settles here)
    // TTL long enough for the poll below to observe the peak first
    val out = StreamingDedup.nearDupPairs(
      ms.toDF().toDF("doc_id", "text"), stateTtlMs = 5000L)
    val q = out.toDF().writeStream
      .format("memory").queryName("dedup_state_bounds")
      .option("checkpointLocation",
        Files.createTempDirectory("dsb-cp").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
      .start()

    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().take(100)
    ms.addData(docs.toSeq: _*)
    // processAllAvailable never settles under ProcessingTimeTimeout
    // (the engine keeps scheduling timeout batches) — poll instead
    val ingestDeadline = System.currentTimeMillis() + 60000
    var peak = lastStateRows(q)
    while (peak <= 0 && System.currentTimeMillis() < ingestDeadline) {
      Thread.sleep(250)
      peak = lastStateRows(q)
    }
    assert(peak > 0, s"expected bucket state after ingest, got $peak")

    // no further data: TTL must clear every bucket
    val deadline = System.currentTimeMillis() + 60000
    var after = lastStateRows(q)
    while (after != 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      after = lastStateRows(q)
    }
    q.stop()
    assert(after == 0,
      s"TTL did not clear state within 60 s: peak=$peak after=$after")
  }
}
