package graft.streaming

import java.nio.file.Files

import graft.SparkSessionSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingTopKSpec extends AnyFunSuite with SparkSessionSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private val H = 3600000L

  // (event_id, event_type, ts_ms, value): two windows × two types,
  // with a value tie inside (w0, view) so the event_id ASC tiebreak is
  // exercised, more than k rows per group so the heap actually drops
  // entries, and batch-2 rows that arrive OUT of event-time order
  // (a w0 row delivered after w1 rows have been seen).
  // base offset keeps every event above the engine's initial
  // watermark of 0 (rows at or below the watermark drop as late).
  private val B = 10 * 60000L
  private val batch1: Seq[(Long, String, Long, Double)] = Seq(
    (10L, "view", B + 1000L, 5.0),
    (11L, "view", B + 2000L, 7.0),
    (12L, "view", B + 3000L, 7.0), // tie with 11 → 11 ranks first
    (13L, "view", B + 4000L, 1.0),
    (20L, "click", B + 1000L, 2.0),
    (30L, "view", B + H + 1000L, 9.0))
  private val batch2: Seq[(Long, String, Long, Double)] = Seq(
    (31L, "view", B + H + 2000L, 3.0),
    (14L, "view", B + 5000L, 6.0), // late w0 arrival, inside lateness
    (21L, "click", B + 6000L, 4.0),
    (32L, "view", B + H + 3000L, 8.0))
  private val fixture = batch1 ++ batch2

  private def batchTopK(k: Int): Set[(Long, String, Long, Double, Long)] = {
    val df = fixture.toDF("event_id", "event_type", "ts_ms", "value")
      .withColumn("window_start", (col("ts_ms") / H).cast("long") * H)
    org.apache.spark.sql.graft.TopK.perGroup(df,
        Seq("window_start", "event_type"),
        Seq("value" -> false, "event_id" -> true), k)
      .select("window_start", "event_type", "event_id", "value", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
  }

  test("streamed per-window top-k equals the batch TopKPerGroup operator") {
    StreamingTaxi.configureStreamingSession(spark)
    val ms = MemoryStream[(Long, String, Long, Double)]
    val out = StreamingTopK.topKPerWindow(
      ms.toDF().toDF("event_id", "event_type", "ts_ms", "value")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        // 3h delay: batch 1 holds an event at B+1h, which would
        // otherwise drag the watermark past batch 2's w0 arrivals
        // and drop them as late before the operator sees them
        .withWatermark("ts", "3 hours"),
      windowMs = H, k = 3)
    val query = out.toDF().writeStream
      .format("memory").queryName("topk_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("topk-cp").toString)
      .outputMode("append").start()

    ms.addData(batch1: _*)
    query.processAllAvailable()
    ms.addData(batch2: _*)
    query.processAllAvailable()
    // watermark flush: push event time far past both windows so every
    // group's timeout fires (two batches: advance, then evict)
    ms.addData((990L, "flush", 10 * H, 0.0))
    query.processAllAvailable()
    ms.addData((991L, "flush", 20 * H, 0.0))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("topk_stream")
      .filter(col("event_type") =!= "flush")
      .select("window_start", "event_type", "event_id", "value", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    val batch = batchTopK(3).filter(_._2 != "flush")
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    // the heap dropped w0-view's worst rows: 4 candidates + a late
    // arrival, only 3 survive, and the tie broke by event_id
    assert(streamed.count(r => r._1 == 0L && r._2 == "view") == 3)
    assert(streamed.contains((0L, "view", 11L, 7.0, 1L)))
    assert(streamed.contains((0L, "view", 12L, 7.0, 2L)))
    assert(streamed.contains((0L, "view", 14L, 6.0, 3L)))
  }

  test("StreamingTopK restart from checkpoint: windows spanning the stop finalize once, merged") {
    StreamingTaxi.configureStreamingSession(spark)
    val cp = Files.createTempDirectory("topk-restart-cp").toString
    def build(ms: MemoryStream[(Long, String, Long, Double)]) =
      StreamingTopK.topKPerWindow(
        ms.toDF().toDF("event_id", "event_type", "ts_ms", "value")
          .withColumn("ts", timestamp_millis(col("ts_ms")))
          .withWatermark("ts", "3 hours"),
        windowMs = H, k = 3)

    // the memory sink refuses checkpoint recovery, so collect the
    // finalization rows through foreachBatch (the taxi restart
    // pattern); the buffer survives both phases
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Double, Long)]
    def sink(df: org.apache.spark.sql.Dataset[StreamingTopK.RankedEvent],
        batchId: Long): Unit = emitted.synchronized {
      emitted ++= df.collect().map(r =>
        (r.window_start, r.event_type, r.event_id, r.value, r.rank))
    }

    // phase 1: batch1 only (w0's heap is half-built), then stop
    val ms1 = MemoryStream[(Long, String, Long, Double)]
    val run1 = build(ms1).writeStream
      .option("checkpointLocation", cp).outputMode("append")
      .foreachBatch(sink _).start()
    ms1.addData(batch1: _*)
    run1.processAllAvailable()
    run1.stop()

    // phase 2: NEW query from the same checkpoint. The MemoryStream
    // source resumes by offset, so batch1 is re-added to keep the
    // offsets aligned; versioned state guarantees a replayed batch
    // merges against the PRE-batch state snapshot, never twice.
    val ms2 = MemoryStream[(Long, String, Long, Double)]
    ms2.addData(batch1: _*)
    val run2 = build(ms2).writeStream
      .option("checkpointLocation", cp).outputMode("append")
      .foreachBatch(sink _).start()
    ms2.addData(batch2: _*)
    run2.processAllAvailable()
    ms2.addData((990L, "flush", 10 * H, 0.0))
    run2.processAllAvailable()
    ms2.addData((991L, "flush", 20 * H, 0.0))
    run2.processAllAvailable()
    run2.stop()

    val streamed = emitted.synchronized {
      emitted.filter(_._2 != "flush").toArray
    }
    // exactly once: no finalization row appears in both phases
    assert(streamed.length == streamed.distinct.length,
      s"duplicated finalizations: ${streamed.toSeq}")
    // w0-view merged across the restart: batch2's late event 14 joined
    // the heap built from batch1 before finalization
    assert(streamed.toSet == batchTopK(3).filter(_._2 != "flush"),
      s"streamed=${streamed.toSet}")
  }

  test("StreamingTopK state is bounded at k and evicted on window close") {
    StreamingTaxi.configureStreamingSession(spark)
    val ms = MemoryStream[(Long, String, Long, Double)]
    val out = StreamingTopK.topKPerWindow(
      ms.toDF().toDF("event_id", "event_type", "ts_ms", "value")
        .withColumn("ts", timestamp_millis(col("ts_ms")))
        .withWatermark("ts", "10 minutes"),
      windowMs = H, k = 3)
    val q = out.toDF().writeStream
      .format("memory").queryName("topk_state_bounds")
      .option("checkpointLocation",
        Files.createTempDirectory("tkb-cp").toString)
      .outputMode("append").start()

    def lastStateRows: Long = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsTotal).lastOption.getOrElse(-1L)

    // 40 types in one window, 100 rows each: state must hold 40
    // group entries (one bounded heap per group), NOT 4000 rows
    ms.addData((for (t <- 1 to 40; i <- 1 to 100)
      yield (t * 1000L + i, s"type_$t", B + i * 10L, i.toDouble)): _*)
    q.processAllAvailable()
    val peak = lastStateRows
    assert(peak >= 40 && peak <= 80,
      s"expected ~40 bounded-heap state rows, got $peak")

    ms.addData((990L, "flush", 10 * H, 0.0))
    q.processAllAvailable()
    ms.addData((991L, "flush", 20 * H, 0.0))
    q.processAllAvailable()
    val after = lastStateRows
    // every finalized group emitted exactly k (or fewer) rows
    val counts = spark.table("topk_state_bounds")
      .filter(col("event_type") =!= "flush")
      .groupBy("event_type").count().collect()
    q.stop()
    assert(after < peak && after <= 2,
      s"state not evicted: peak=$peak after=$after")
    assert(counts.length == 40 && counts.forall(_.getLong(1) == 3L))
  }
}
