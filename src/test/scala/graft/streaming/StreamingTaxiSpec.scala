package graft.streaming

import java.nio.file.Files

import graft.SparkSessionSpec
import graft.io.EventCodec
import graft.operators.TaxiQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingTaxiSpec extends AnyFunSuite with SparkSessionSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val fixtureLines: Seq[String] =
    scala.io.Source.fromFile("src/test/resources/trips_tiny.jsonl",
      "UTF-8").getLines().toSeq

  /** A valid NYC→JFK trip far in the future — advances the heuristic
    * watermark so earlier windows finalize and emit in append mode.
    * The dropoff must be at an AIRPORT: Catalyst pushes Q2's
    * `airport_code IS NOT NULL` below the EventTimeWatermark node
    * (it doesn't reference the event-time column), so a flush row
    * that fails any pushed-down filter never advances the watermark. */
  private def flushLine(iso: String): String = {
    val p = graft.geo.Geohash.bbox(graft.geo.Geofences.nycCells.head)
    val d = graft.geo.Geohash.bbox(graft.geo.Geofences.jfkCells.head)
    s"""{"type": "trip", "trip_id": 999, "pickup_datetime": "$iso", """ +
      s""""dropoff_datetime": "$iso", "pickup_lat": ${p.latCenter}, """ +
      s""""pickup_lon": ${p.lonCenter}, "dropoff_lat": ${d.latCenter}, """ +
      s""""dropoff_lon": ${d.lonCenter}, "total_amount": 1.0}"""
  }

  test("file-source streaming decodes the wire fixture (S1+S2)") {
    StreamingTaxi.configureStreamingSession(spark)
    val dir = tmp("stream-in")
    Files.writeString(java.nio.file.Paths.get(s"$dir/part-0.jsonl"),
      fixtureLines.mkString("", "\n", "\n"))
    val trips = TaxiQueries.validNycTrips(
      StreamingTaxi.fromJsonFiles(spark, dir))
    val q = StreamingTaxi.runToMemory(trips, "file_trips", tmp("cp"))
    q.awaitTermination()
    // 12 trips - 1 invalid coords - 1 excluded-center pickup - 1 far dropoff
    assert(spark.table("file_trips").count() == 9)
  }

  test("a restarted query reuses the generated code of the first run") {
    StreamingTaxi.configureStreamingSession(spark)
    val dir = tmp("stream-in")
    Files.writeString(java.nio.file.Paths.get(s"$dir/part-0.jsonl"),
      (fixtureLines :+ flushLine("2016-02-01T00:00:00.000Z"))
        .mkString("", "\n", "\n"))
    // the same Q1 plan twice, each on a fresh checkpoint: the second
    // start runs the identical batch sequence, so every class it
    // needs is already compiled
    def drain(name: String): Set[org.apache.spark.sql.Row] = {
      val q = StreamingTaxi.runToMemory(StreamingTaxi.q1(
        StreamingTaxi.tripStream(StreamingTaxi.fromJsonFiles(spark, dir))),
        name, tmp("cp"))
      q.awaitTermination()
      assert(q.recentProgress.map(_.numInputRows).sum > 0L)
      spark.table(name).collect().toSet
    }
    // the compile counter is JVM-wide: no other query may be running
    // while it is read
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val first = drain("q1_codegen_a")
    assert(spark.streams.active.isEmpty)
    val before = compiles.getCount
    val second = drain("q1_codegen_b")
    assert(compiles.getCount == before)
    assert(second == first)
  }

  test("streaming Q1 (RocksDB state, append mode) equals batch Q1") {
    StreamingTaxi.configureStreamingSession(spark)
    val ms = MemoryStream[String]
    val events = EventCodec.parseEvents(ms.toDF().toDF("value"))
    val q1 = StreamingTaxi.q1(StreamingTaxi.tripStream(events))
    val query = StreamingTaxi.writer(q1, tmp("cp"),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .format("memory").queryName("q1_stream").start()

    ms.addData(fixtureLines: _*)
    query.processAllAvailable()
    // advance the watermark past every fixture window; second flush
    // forces a data-bearing batch so emission can't race
    // processAllAvailable via the no-data batch
    ms.addData(flushLine("2016-02-01T00:00:00.000Z"))
    query.processAllAvailable()
    ms.addData(flushLine("2016-02-01T01:00:00.000Z"))
    query.processAllAvailable()
    query.stop()

    val streaming = spark.table("q1_stream")
      .select("location", "pickup_count", "timestamp").collect().toSet
    val batch = TaxiQueries.q1PickupHotspots(TaxiQueries.validNycTrips(
        EventCodec.parseEvents(fixtureLines.toDF("value"))))
      .collect().toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
  }

  test("streaming Q2 equals batch Q2") {
    val ms = MemoryStream[String]
    val events = EventCodec.parseEvents(ms.toDF().toDF("value"))
    val q2 = StreamingTaxi.q2(StreamingTaxi.tripStream(events))
    val query = StreamingTaxi.writer(q2, tmp("cp"),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .format("memory").queryName("q2_stream").start()
    ms.addData(fixtureLines: _*)
    query.processAllAvailable()
    // two flush batches: the first advances the watermark, the second
    // forces a data-bearing batch in which finalized windows emit
    // (emission via a no-data batch races processAllAvailable)
    ms.addData(flushLine("2016-02-01T00:00:00.000Z"))
    query.processAllAvailable()
    ms.addData(flushLine("2016-02-01T01:00:00.000Z"))
    query.processAllAvailable()
    query.stop()

    val streaming = spark.table("q2_stream").collect().toSet
    val batch = TaxiQueries.q2AirportDurations(TaxiQueries.validNycTrips(
        EventCodec.parseEvents(fixtureLines.toDF("value"))))
      .collect().toSet
    assert(streaming == batch)
    assert(streaming.nonEmpty)
  }

  test("late rows beyond the watermark are dropped") {
    val ms = MemoryStream[String]
    val events = EventCodec.parseEvents(ms.toDF().toDF("value"))
    val q1 = StreamingTaxi.q1(StreamingTaxi.tripStream(events, "10 seconds"))
    val query = StreamingTaxi.writer(q1, tmp("cp"),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .format("memory").queryName("q1_late").start()

    // two same-cell trips in window [00:00, 00:10)
    ms.addData(fixtureLines.head)
    ms.addData(fixtureLines(1))
    query.processAllAvailable()
    ms.addData(flushLine("2016-01-01T06:00:00.000Z"))
    query.processAllAvailable()
    val afterFlush = spark.table("q1_late").collect()
    assert(afterFlush.exists(_.getAs[Long]("pickup_count") == 2L))

    // a third same-cell trip in the long-finalized window: dropped
    ms.addData(fixtureLines(3)) // trip 3, dropoff 00:09:59.999
    query.processAllAvailable()
    ms.addData(flushLine("2016-01-01T12:00:00.000Z"))
    query.processAllAvailable()
    query.stop()

    val w1Rows = spark.table("q1_late")
      .filter(col("timestamp") === (1451606400000L + 600000L - 1))
      .collect()
    assert(w1Rows.length == 1)                       // emitted exactly once
    assert(w1Rows(0).getAs[Long]("pickup_count") == 2L) // late row not counted
  }

  test("processing-time mode (C2 toggle) counts all valid trips now") {
    val ms = MemoryStream[String]
    val events = EventCodec.parseEvents(ms.toDF().toDF("value"))
    val trips = StreamingTaxi.tripStream(events, eventTime = false)
    // In processing-time mode rows land in wall-clock windows that are
    // never final while the test runs — aggregate in update mode
    // against the raw counts instead: verify the projection keeps all
    // valid trips with "now" timestamps.
    val query = StreamingTaxi.writer(trips, tmp("cp"),
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .format("memory").queryName("pt_trips").start()
    ms.addData(fixtureLines: _*)
    query.processAllAvailable()
    query.stop()
    val rows = spark.table("pt_trips").collect()
    assert(rows.length == 9)
    val now = System.currentTimeMillis()
    rows.foreach { r =>
      val ts = r.getAs[java.sql.Timestamp]("dropoff_datetime").getTime
      assert(math.abs(now - ts) < 5 * 60 * 1000L)
    }
  }

  test("watermark control records surface as monitoring telemetry") {
    val events = EventCodec.parseEvents(fixtureLines.toDF("value"))
    val r = StreamingTaxi.watermarkProgress(events).collect()(0)
    assert(r.getAs[Long]("n_watermarks") == 3L)
    assert(r.getAs[java.sql.Timestamp]("max_watermark").getTime ==
      1451607600000L) // 00:20:00Z
  }
}
