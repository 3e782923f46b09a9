package graft.streaming

import java.nio.file.Files

import graft.SparkSessionSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingTrailingSpec extends AnyFunSuite with SparkSessionSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val Min = 60000L

  // (user, event_id, ts, value): values are dyadic (x.25 steps) so
  // double sums are EXACT in any addition order — the parity compare
  // below can demand bit-equality. Includes same-ts ties, an exact
  // window edge (0 and 60m are both in 60m's frame), and events
  // delivered across batches out of event-time order.
  // base offset keeps every event ABOVE the engine's initial
  // watermark of 0: rows with event_time <= watermark are dropped as
  // late, so an epoch-0 event would vanish before the operator
  private val B = 10 * Min
  private val batch1: Seq[(Long, Long, Long, Double)] = Seq(
    (1L, 10L, B, 1.25),
    (1L, 12L, B + 65 * Min, 4.5), // arrives BEFORE the 30m event
    (2L, 20L, B + 500L, 8.0), (2L, 21L, B + 500L, 16.25)) // same-ts tie
  private val batch2: Seq[(Long, Long, Long, Double)] = Seq(
    (1L, 11L, B + 30 * Min, 2.75), // out-of-order: frame member of 12
    (1L, 13L, B + 60 * Min, 0.5), // exact edge: B is 60m back, in
    (3L, 30L, B + 10 * Min, 3.0))
  private val fixture = batch1 ++ batch2

  test("streamed trailing-hour stats equal the batch RANGE frame") {
    StreamingTaxi.configureStreamingSession(spark)
    val ms = MemoryStream[(Long, Long, Long, Double)]
    val out = StreamingTrailing.trailingHourStats(
      ms.toDF().toDF("user_id", "event_id", "ts_ms", "value"),
      delay = "3 hours")
    val query = out.toDF().writeStream
      .format("memory").queryName("trailing_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("trail-cp").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    ms.addData(batch1: _*)
    query.processAllAvailable()
    ms.addData(batch2: _*)
    query.processAllAvailable()
    // watermark flush so every event finalizes
    ms.addData((99L, 990L, 12 * 3600000L, 0.0))
    query.processAllAvailable()
    ms.addData((99L, 991L, 24 * 3600000L, 0.0))
    query.processAllAvailable()
    query.stop()

    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val streamed = canon(spark.table("trailing_stream")
      .filter(col("user_id") =!= 99L)
      .select("user_id", "event_id", "ts_ms", "n_1h", "sum_1h")
      .collect())
    val batch = canon(graft.operators.EventsQueries.trailingHourStats(
        fixture.toDF("user_id", "event_id", "ts_ms", "value"))
      .collect())
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    // the out-of-order arrival (ev 11) was counted in ev 12's frame:
    // [5m, 65m] holds {30m, 60m, 65m} = 2.75 + 0.5 + 4.5
    assert(streamed.exists(r => r._2 == 12L && r._4 == 3L &&
      r._5 == 7.75))
    // same-ts ties see each other
    assert(streamed.count(r => r._1 == 2L && r._4 == 2L &&
      r._5 == 24.25) == 2)
  }
}
