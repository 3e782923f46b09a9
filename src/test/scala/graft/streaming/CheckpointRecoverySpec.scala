package graft.streaming

import java.nio.file.Files

import graft.SparkSessionSpec
import graft.io.{BulkIndexSink, EventCodec, LocalDirTransport}
import graft.operators.TaxiQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The exactly-once story end-to-end: RocksDB-checkpointed streaming
  * state (C1) + the idempotent bulk sink (SK1). A query is stopped
  * mid-stream and a NEW query resumes from the same checkpoint; the
  * final index equals the batch result — windows spanning the restart
  * are recovered from state, and re-delivered documents overwrite
  * idempotently instead of duplicating. */
class CheckpointRecoverySpec extends AnyFunSuite with SparkSessionSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private lazy val fixtureLines: Seq[String] =
    scala.io.Source.fromFile("src/test/resources/trips_tiny.jsonl",
      "UTF-8").getLines().toSeq

  private def flushLine(iso: String): String = {
    val p = graft.geo.Geohash.bbox(graft.geo.Geofences.nycCells.head)
    val d = graft.geo.Geohash.bbox(graft.geo.Geofences.jfkCells.head)
    s"""{"type": "trip", "trip_id": 999, "pickup_datetime": "$iso", """ +
      s""""dropoff_datetime": "$iso", "pickup_lat": ${p.latCenter}, """ +
      s""""pickup_lon": ${p.lonCenter}, "dropoff_lat": ${d.latCenter}, """ +
      s""""dropoff_lon": ${d.lonCenter}, "total_amount": 1.0}"""
  }

  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  private val ManagerConf = graft.io.LocalCheckpointFileManager.ConfKey

  /** Stop a Q1 query mid-stream (phase 1), resume a NEW query from the
    * same checkpoint (phase 2), and return the number of indexed
    * documents. Both phases run with the shared set-up, except that
    * `changelogBefore = false` turns changelog checkpointing off for
    * phase 1 and `localManagerBefore = false` writes phase 1 with
    * Spark's default checkpoint file manager (checkpoints written
    * before either was set). The session's settings are restored
    * afterwards. */
  private def crashAndResume(changelogBefore: Boolean = true,
      localManagerBefore: Boolean = true): Long = {
    val saved = Seq(ChangelogConf, ManagerConf)
      .map(k => k -> spark.conf.getOption(k))
    try {
      val cp = Files.createTempDirectory("cp-recover").toString
      val indexDir = Files.createTempDirectory("index").toString
      val writerFn = BulkIndexSink.foreachBatchWriter(
        Seq("location", "timestamp"), new LocalDirTransport(indexDir))

      // phase 1: first half of the fixture, then stop (simulated crash)
      StreamingTaxi.configureStreamingSession(spark)
      if (!changelogBefore) spark.conf.set(ChangelogConf, "false")
      if (!localManagerBefore) spark.conf.unset(ManagerConf)
      val ms1 = MemoryStream[String]
      val q1a = StreamingTaxi.q1(StreamingTaxi.tripStream(
        EventCodec.parseEvents(ms1.toDF().toDF("value"))))
      val run1 = StreamingTaxi.writer(q1a, cp,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .foreachBatch(writerFn).start()
      val (half1, half2) = fixtureLines.splitAt(8)
      ms1.addData(half1: _*)
      run1.processAllAvailable()
      run1.stop()
      assert(stateFiles(cp).exists(_.getName.endsWith(".changelog")) ==
        changelogBefore)

      // phase 2: new query, same checkpoint, rest of the data + flushes.
      // A MemoryStream source resumes from its recorded offset, so the
      // new stream must replay half1 (offset 0 was consumed pre-crash —
      // re-adding it exercises the sink's idempotence) plus half2.
      StreamingTaxi.configureStreamingSession(spark)
      val ms2 = MemoryStream[String]
      ms2.addData(half1: _*)
      val q1b = StreamingTaxi.q1(StreamingTaxi.tripStream(
        EventCodec.parseEvents(ms2.toDF().toDF("value"))))
      val run2 = StreamingTaxi.writer(q1b, cp,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .foreachBatch(writerFn).start()
      ms2.addData(half2: _*)
      run2.processAllAvailable()
      ms2.addData(flushLine("2016-02-01T00:00:00.000Z"))
      run2.processAllAvailable()
      ms2.addData(flushLine("2016-02-01T01:00:00.000Z"))
      run2.processAllAvailable()
      run2.stop()
      assert(stateFiles(cp).exists(_.getName.endsWith(".changelog")))

      new java.io.File(indexDir).listFiles()
        .count(_.getName.endsWith(".json")).toLong
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def stateFiles(cp: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$cp/state"))
  }

  /** The batch Q1 result the index must equal — no dupes, no loss. */
  private lazy val batchQ1: Long =
    TaxiQueries.q1PickupHotspots(TaxiQueries.validNycTrips(
      EventCodec.parseEvents(fixtureLines.toDF("value")))).count()

  test("restart from checkpoint recovers window state; idempotent sink dedups") {
    val indexed = crashAndResume()
    assert(indexed == batchQ1)
    assert(indexed > 0)
  }

  test("a checkpoint written without changelogs restarts with them on") {
    val indexed = crashAndResume(changelogBefore = false)
    assert(indexed == batchQ1)
    assert(indexed > 0)
  }

  test("a checkpoint written by Spark's default file manager resumes") {
    val indexed = crashAndResume(localManagerBefore = false)
    assert(indexed == batchQ1)
    assert(indexed > 0)
  }
}
