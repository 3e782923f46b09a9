package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSessionSpec
import graft.io.EventCodec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WireTaxiSourceSpec extends AnyFunSuite with SparkSessionSpec {

  private val fixture = "/root/repo/src/test/resources/trips_tiny.jsonl"

  private def viaCodec = EventCodec.parseEvents(
    spark.read.text(fixture).toDF("value"), strict = false)

  private def viaSource = spark.read.format("wire-taxi").load(fixture)

  test("connector rows equal the codec path on the wire fixture") {
    val a = viaSource.orderBy("trip_id", "watermark")
      .collect().map(_.toSeq).toSeq
    val b = viaCodec.orderBy("trip_id", "watermark")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.size == 15) // 16 lines - 1 malformed
  }

  test("short name resolves through DataSourceRegister") {
    // format("wire-taxi") (not the FQCN) is what resolved above; the
    // schema must be the full union wire schema
    assert(viaSource.schema == graft.model.Events.wireSchema)
  }

  test("type filter and column pruning reach the source scan") {
    val q = viaSource.filter(col("type") === "trip" &&
        col("total_amount") >= 5.0)
      .select("trip_id", "total_amount")
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.size == 1)
    val desc = scans.head.scan.description()
    assert(desc.contains("EqualTo(type,trip)"))
    assert(desc.contains("GreaterThanOrEqual(total_amount,5.0)"))
    // pruned read schema: only the referenced columns
    val read = scans.head.scan.readSchema().fieldNames.toSet
    assert(read == Set("trip_id", "total_amount", "type"))
    // trips 8/9/11/12 pass the amount cut... recompute: amounts >= 5
    val ids = q.collect().map(_.getLong(0)).sorted.toSeq
    val expected = viaCodec.filter(col("type") === "trip" &&
        col("total_amount") >= 5.0)
      .collect().map(_.getAs[Long]("trip_id")).sorted.toSeq
    assert(ids == expected && ids.nonEmpty)
  }

  test("gzipped files read transparently, one partition per file") {
    val dir = Files.createTempDirectory("wiretaxi")
    val gz = dir.resolve("part-0.jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(gz))
    out.write(Files.readAllBytes(Paths.get(fixture)))
    out.close()
    Files.copy(Paths.get(fixture), dir.resolve("part-1.jsonl"))

    val df = spark.read.format("wire-taxi").load(dir.toString)
    assert(df.count() == 30) // both files, malformed line skipped in each
    assert(df.rdd.getNumPartitions == 2)
  }

  test("scan reports file-size statistics for join planning") {
    val q = viaSource.filter(col("type") === "trip")
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    val stats = scans.head.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.sizeInBytes.getAsLong ==
      Files.size(Paths.get(fixture)))
    assert(!stats.numRows.isPresent) // unknowable without parsing
  }

  test("micro-batch stream ingests per file and resumes from checkpoint") {
    val dir = Files.createTempDirectory("wiretaxi-stream")
    val out = Files.createTempDirectory("wiretaxi-out").toString
    val ckpt = Files.createTempDirectory("wiretaxi-ckpt").toString
    Files.copy(Paths.get(fixture), dir.resolve("part-00000.jsonl"))

    def runOnce(): Unit = {
      val q = spark.readStream.format("wire-taxi").load(dir.toString)
        .filter(col("type") === "trip")
        .select("trip_id", "total_amount")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(spark.read.parquet(out).count() == 12) // trips in the fixture

    // append a file whose name sorts after part-00000 (the producer
    // contract); a restarted query must ingest ONLY the new file
    Files.copy(Paths.get(fixture), dir.resolve("part-00001.jsonl"))
    runOnce()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 24, "restart re-ingested or skipped files")
    // every trip id exactly twice: no duplicates from re-reading file 0
    val perId = rows.groupBy("trip_id").count()
      .collect().map(_.getLong(1)).toSet
    assert(perId == Set(2L))
  }

  test("throttled admission reports Kinesis-shaped iterator-age metrics") {
    val dir = Files.createTempDirectory("wiretaxi-lag")
    // three files published 60 s "ago": with 1-file-per-trigger
    // admission the source is behind from the first batch, exactly
    // the condition the reference's IteratorAge alarm monitors
    val backdate = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60000)
    (0 to 2).foreach { i =>
      val f = dir.resolve(f"part-$i%05d.jsonl")
      Files.copy(Paths.get(fixture), f)
      Files.setLastModifiedTime(f, backdate)
    }
    val telemetry = new graft.streaming.ProgressTelemetry
    spark.streams.addListener(telemetry)
    try {
      val out = Files.createTempDirectory("wiretaxi-lag-out").toString
      val q = spark.readStream.format("wire-taxi")
        .option("maxFilesPerTrigger", "1")
        .load(dir.toString)
        .filter(col("type") === "trip")
        .select("trip_id", "total_amount")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation",
          Files.createTempDirectory("wiretaxi-lag-ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // listener delivery is async: wait for the final batch's event
      val deadline = System.currentTimeMillis() + 20000
      while (telemetry.batches.get < 3 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(telemetry.batches.get >= 3, "expected one batch per file")
      // while throttled behind, the oldest unread file was ~60 s old
      assert(telemetry.maxIteratorAgeMs.get >= 50000,
        s"iterator age ${telemetry.maxIteratorAgeMs.get} ms not surfaced")
      assert(telemetry.lastPendingFiles.get == 0,
        "drained run must end caught up")
      assert(telemetry.summary.contains("maxIteratorAgeMs="))
    } finally spark.streams.removeListener(telemetry)
  }

  test("streaming Q1 through the connector matches the text-source path") {
    val dir = Files.createTempDirectory("wiretaxi-q1")
    Files.copy(Paths.get(fixture), dir.resolve("part-00000.jsonl"))
    def q1Of(events: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val out = Files.createTempDirectory("wiretaxi-q1-out").toString
      val q = graft.operators.TaxiQueries.q1PickupHotspots(
        graft.streaming.StreamingTaxi.tripStream(events))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation",
          Files.createTempDirectory("wiretaxi-q1-ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).collect().map(_.toSeq).toSet
    }
    // the connector parses source-side and skips malformed lines (R1);
    // the codec's strict unknown-type layer still applies on top
    val viaConnector = q1Of(graft.io.EventCodec.strictTyped(
      spark.readStream.format("wire-taxi").load(dir.toString)))
    val viaText = q1Of(
      graft.streaming.StreamingTaxi.fromJsonFiles(spark, dir.toString))
    assert(viaConnector == viaText && viaConnector.nonEmpty)
  }

  test("out-of-order file publication neither loses nor duplicates") {
    // the replay writer publishes part-P-S interleaved across
    // partitions: a later file may sort BEFORE an already-ingested
    // one; the discovery log (not the sorted listing) defines offsets
    val dir = Files.createTempDirectory("wiretaxi-ooo")
    val out = Files.createTempDirectory("wiretaxi-ooo-out").toString
    val ckpt = Files.createTempDirectory("wiretaxi-ooo-ck").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("wire-taxi").load(dir.toString)
        .filter(col("type") === "trip").select("trip_id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Files.copy(Paths.get(fixture), dir.resolve("part-00001-00000.jsonl"))
    runOnce()
    assert(spark.read.parquet(out).count() == 12)
    // sorts BEFORE the ingested file
    Files.copy(Paths.get(fixture), dir.resolve("part-00000-00001.jsonl"))
    runOnce()
    val perId = spark.read.parquet(out).groupBy("trip_id").count()
      .collect().map(_.getLong(1)).toSet
    assert(perId == Set(2L), s"loss or duplication: $perId")
  }

  test("hidden and in-flight temp files are excluded from listings") {
    val dir = Files.createTempDirectory("wiretaxi-hidden")
    Files.copy(Paths.get(fixture), dir.resolve("part-0.jsonl"))
    Files.writeString(dir.resolve(".part-1.jsonl.tmp"), "{\"type\"")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    assert(WireTaxiFiles.list(dir.toString).length == 1)
    assert(spark.read.format("wire-taxi").load(dir.toString)
      .count() == 15)
  }

  test("lenient timestamps and exact long comparisons at the source") {
    // no-zone / space-separated timestamps parse as UTC (the codec
    // path's session-zone semantics — every graft session pins UTC)
    val utc = java.time.Instant.parse("2016-01-01T00:05:00Z")
    val micros = utc.getEpochSecond * 1000000L
    assert(WireTaxiFilters.parseTimestampMicros(
      "2016-01-01T00:05:00") == micros)
    assert(WireTaxiFilters.parseTimestampMicros(
      "2016-01-01 00:05:00") == micros)
    assert(WireTaxiFilters.parseTimestampMicros(
      "2016-01-01T05:05:00+05:00") == micros)
    assert(WireTaxiFilters.parseTimestampMicros("not a time") == null)

    // ids above 2^53: a double round-trip would collapse neighbors
    // and drop the row AT THE SOURCE (no residual resurrection)
    val dir = Files.createTempDirectory("wiretaxi-long")
    val big = (1L << 53) + 1
    Files.writeString(dir.resolve("part-0.jsonl"),
      s"""{"type": "trip", "trip_id": $big, "total_amount": 1.0}\n""")
    val ids = spark.read.format("wire-taxi").load(dir.toString)
      .filter(col("trip_id") > (1L << 53))
      .select("trip_id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(big))
  }

  test("nonexistent path lists empty, never itself") {
    // a bogus 'file' entry for a not-yet-created directory would
    // poison the streaming discovery log permanently (replayed as a
    // per-batch failure on every restart)
    assert(WireTaxiFiles.list("/no/such/dir-xyz").isEmpty)
    assert(spark.read.format("wire-taxi").load("/no/such/dir-xyz")
      .count() == 0)
  }

  test("fractional longs null out, matching pushed-filter eval") {
    // canConvertToLong alone would truncate trip_id 5.5 to 5 — a row
    // a pushed EqualTo(trip_id, 5) drops (longCmp compares 5.5 as a
    // double) but an unfiltered scan would then show as trip_id=5.
    // Non-integral input must read back null either way.
    val dir = Files.createTempDirectory("wiretaxi-frac")
    Files.writeString(dir.resolve("part-0.jsonl"),
      """{"type": "trip", "trip_id": 5.5, "total_amount": 1.0}""" + "\n" +
        """{"type": "trip", "trip_id": 5, "total_amount": 2.0}""" + "\n")
    val unfiltered = spark.read.format("wire-taxi").load(dir.toString)
      .select("trip_id").collect().map(r =>
        if (r.isNullAt(0)) null else r.getLong(0)).toSet
    assert(unfiltered == Set[Any](null, 5L))
    val filtered = spark.read.format("wire-taxi").load(dir.toString)
      .filter(col("trip_id") === 5L)
      .select("trip_id", "total_amount").collect()
    assert(filtered.map(_.getLong(0)).toSeq == Seq(5L))
    assert(filtered.map(_.getDouble(1)).toSeq == Seq(2.0))
  }

  test("timestamps parse identically to the from_json codec path") {
    val a = viaSource.filter(col("type") === "trip")
      .select(unix_millis(col("dropoff_datetime"))).as[Long](
        org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq
    val b = viaCodec.filter(col("type") === "trip")
      .select(unix_millis(col("dropoff_datetime"))).as[Long](
        org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted.toSeq
    assert(a == b)
  }
}
