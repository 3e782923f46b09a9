package graft.streaming

import java.nio.file.Files

import graft.SparkSessionSpec
import graft.app.ProcessTaxiStream
import graft.io.EventCodec
import graft.sources.SyntheticTrips
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end application test (SURVEY.md §7.1): one program wiring
  * replay → strict codec → watermarked trip stream → BOTH Q1 and Q2 →
  * idempotent bulk indexes, then a restart over the same input. */
class ProcessTaxiStreamAppSpec extends AnyFunSuite with SparkSessionSpec {

  test("app populates both indexes and a restart re-indexes nothing") {
    val wireDir = Files.createTempDirectory("app-wire").toString
    val workDir = Files.createTempDirectory("app-work").toString
    val indexDir = Files.createTempDirectory("app-index").toString

    // wire-format input at sf0.01 (enough airport-trip density that
    // Q2's count>1 windows emit from the early micro-batches)
    EventCodec.toJsonLines(SyntheticTrips.fromEvents(spark, "/root/testdata/sf0.01"))
      .coalesce(1).write.mode("overwrite").text(wireDir)

    val cfg = ProcessTaxiStream.Config(
      inputDir = wireDir, workDir = workDir, indexDir = indexDir,
      speedup = 1e12, replayPartitions = 4,
      maxFilesPerTrigger = Some(1), once = true)

    val first = ProcessTaxiStream.run(spark, cfg)
    info(s"first run: $first")
    assert(first.replayedEvents > 0)
    assert(first.pickupDocs > 0, "pickup_count index is empty")
    assert(first.durationDocs > 0, "trip_duration index is empty")

    // restart: replay re-writes the same partition file names, the
    // file source's checkpoint skips them, the sinks' deterministic
    // ids would absorb any re-delivered batch — index must not change
    val second = ProcessTaxiStream.run(spark, cfg)
    info(s"second run: $second")
    assert(second.pickupDocs == first.pickupDocs)
    assert(second.durationDocs == first.durationDocs)
  }

  test("kinesis mode: the whole pipeline over the protocol indexes the same docs") {
    val wireDir = Files.createTempDirectory("appk-wire").toString
    val workDir = Files.createTempDirectory("appk-work").toString
    val indexDir = Files.createTempDirectory("appk-index").toString
    val workDir2 = Files.createTempDirectory("appk-work2").toString
    val indexDir2 = Files.createTempDirectory("appk-index2").toString
    EventCodec.toJsonLines(SyntheticTrips.fromEvents(spark, "/root/testdata/sf0.001"))
      .coalesce(1).write.mode("overwrite").text(wireDir)

    val base = ProcessTaxiStream.Config(
      inputDir = wireDir, workDir = workDir, indexDir = indexDir,
      speedup = 1e12, replayPartitions = 2,
      maxFilesPerTrigger = Some(1), once = true)
    val viaText = ProcessTaxiStream.run(spark, base)

    val srv = new graft.sources.StubKinesisServer(shardCount = 2)
    try {
      val viaKinesis = ProcessTaxiStream.run(spark, base.copy(
        workDir = workDir2, indexDir = indexDir2,
        maxFilesPerTrigger = None,
        kinesisEndpoint = Some(srv.endpoint),
        kinesisStream = srv.streamName))
      info(s"text: $viaText kinesis: $viaKinesis")
      assert(viaKinesis.replayedEvents == viaText.replayedEvents)
      assert(viaKinesis.pickupDocs == viaText.pickupDocs)
      assert(viaKinesis.durationDocs == viaText.durationDocs)
      assert(viaKinesis.pickupDocs > 0)
    } finally srv.stop()
  }

  test("kinesis --aggregate mode: KPL packs on the wire, same docs out") {
    val wireDir = Files.createTempDirectory("appa-wire").toString
    val workDir = Files.createTempDirectory("appa-work").toString
    val indexDir = Files.createTempDirectory("appa-index").toString
    val workDir2 = Files.createTempDirectory("appa-work2").toString
    val indexDir2 = Files.createTempDirectory("appa-index2").toString
    EventCodec.toJsonLines(SyntheticTrips.fromEvents(spark, "/root/testdata/sf0.001"))
      .coalesce(1).write.mode("overwrite").text(wireDir)

    val base = ProcessTaxiStream.Config(
      inputDir = wireDir, workDir = workDir, indexDir = indexDir,
      speedup = 1e12, replayPartitions = 2,
      maxFilesPerTrigger = Some(1), once = true)
    val viaText = ProcessTaxiStream.run(spark, base)

    val srv = new graft.sources.StubKinesisServer(shardCount = 2)
    try {
      val viaAgg = ProcessTaxiStream.run(spark, base.copy(
        workDir = workDir2, indexDir = indexDir2,
        maxFilesPerTrigger = None,
        kinesisEndpoint = Some(srv.endpoint),
        kinesisStream = srv.streamName,
        kplAggregate = true))
      // the wire really carried KPL packs, not plain records
      assert((0 until 2).flatMap(srv.storedRecords(_)).exists(s =>
        graft.io.KplAggregation.isAggregated(s.data)),
        "no aggregated record on the wire")
      assert(viaAgg.replayedEvents == viaText.replayedEvents)
      assert(viaAgg.pickupDocs == viaText.pickupDocs)
      assert(viaAgg.durationDocs == viaText.durationDocs)
      assert(viaAgg.pickupDocs > 0)
    } finally srv.stop()
  }

  test("continuous mode: replay runs concurrently with the queries") {
    val wireDir = Files.createTempDirectory("appc-wire").toString
    val workDir = Files.createTempDirectory("appc-work").toString
    val indexDir = Files.createTempDirectory("appc-index").toString
    EventCodec.toJsonLines(SyntheticTrips.fromEvents(spark, "/root/testdata/sf0.001"))
      .coalesce(1).write.mode("overwrite").text(wireDir)

    val cfg = ProcessTaxiStream.Config(
      inputDir = wireDir, workDir = workDir, indexDir = indexDir,
      speedup = 1e12, replayPartitions = 2,
      maxFilesPerTrigger = Some(1), once = false) // ProcessingTime 5 s

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val running = Future(ProcessTaxiStream.run(spark, cfg))

    // wait until the concurrently-replayed data flows through Q1 into
    // the index, then stop the queries from outside (a service would
    // run until signalled, which is exactly this)
    val deadline = System.currentTimeMillis() + 120000
    def pickupDocs = {
      val d = new java.io.File(s"$indexDir/pickup_count")
      if (d.isDirectory) d.listFiles().count(_.getName.endsWith(".json")) else 0
    }
    while (pickupDocs == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(250)
    assert(pickupDocs > 0, "no pickup docs appeared within the deadline")
    spark.streams.active
      .filter(q => Seq("q1_pickup_hotspots", "q2_airport_durations")
        .contains(q.name))
      .foreach(_.stop())
    val summary = Await.result(running, 60.seconds)
    info(s"continuous run: $summary")
    assert(summary.replayedEvents > 0) // replay thread joined in finally
    assert(summary.pickupDocs > 0)
  }

  test("http-index mode: the pipeline bulk-POSTs both doc types over HTTP") {
    val wireDir = Files.createTempDirectory("apph-wire").toString
    val workDir = Files.createTempDirectory("apph-work").toString
    val indexDir = Files.createTempDirectory("apph-index").toString
    EventCodec.toJsonLines(SyntheticTrips.fromEvents(spark, "/root/testdata/sf0.01"))
      .coalesce(1).write.mode("overwrite").text(wireDir)

    val srv = new graft.io.StubBulkServer()
    try {
      val cfg = ProcessTaxiStream.Config(
        inputDir = wireDir, workDir = workDir, indexDir = indexDir,
        speedup = 1e12, replayPartitions = 4,
        maxFilesPerTrigger = Some(1), once = true,
        httpIndex = Some(srv.base))
      val s = ProcessTaxiStream.run(spark, cfg)
      info(s"http run: $s, indexed=${srv.store.size()}")
      assert(s.replayedEvents > 0)
      // the summary reports delivered-action counts in http mode
      assert(s.pickupDocs > 0 && s.durationDocs > 0, s"summary: $s")
      assert(srv.store.size() > 0, "nothing indexed over HTTP")
      assert(srv.paths.contains("/pickup_count/_bulk"))
      assert(srv.paths.contains("/trip_duration/_bulk"))
      // restart: deterministic ids make HTTP re-delivery idempotent
      val before = srv.store.size()
      ProcessTaxiStream.run(spark, cfg)
      assert(srv.store.size() == before)
    } finally srv.stop()
  }

  test("create-index mode PUTs both mappings before streaming, once") {
    val wireDir = Files.createTempDirectory("appb-wire").toString
    val workDir = Files.createTempDirectory("appb-work").toString
    val indexDir = Files.createTempDirectory("appb-index").toString
    EventCodec.toJsonLines(SyntheticTrips.fromEvents(spark, "/root/testdata/sf0.001"))
      .coalesce(1).write.mode("overwrite").text(wireDir)

    val srv = new graft.io.StubBulkServer()
    try {
      val cfg = ProcessTaxiStream.Config(
        inputDir = wireDir, workDir = workDir, indexDir = indexDir,
        speedup = 1e12, replayPartitions = 2,
        maxFilesPerTrigger = Some(1), once = true,
        httpIndex = Some(srv.base), createIndex = true)
      val s = ProcessTaxiStream.run(spark, cfg)
      assert(s.pickupDocs > 0)
      // the reference's es-index.json mappings, per doc type
      assert(srv.mappings.get("/pickup_count").contains("geo_point"))
      assert(srv.mappings.get("/trip_duration").contains(
        "airport_code"))
      assert(srv.mappings.size() == 2)
      // restart: bootstrap is idempotent, mappings are not re-PUT
      ProcessTaxiStream.run(spark, cfg)
      assert(srv.mappings.size() == 2)
    } finally srv.stop()
  }

  test("a run that fails before its queries start leaves no listener behind") {
    val wireDir = Files.createTempDirectory("appf-wire").toString
    val workDir = Files.createTempDirectory("appf-work").toString
    val indexDir = Files.createTempDirectory("appf-index").toString
    val base = ProcessTaxiStream.Config(
      inputDir = wireDir, workDir = workDir, indexDir = indexDir,
      speedup = 1e12, once = true)
    val before = spark.streams.listListeners().toSeq
    // an argument check
    intercept[IllegalArgumentException](ProcessTaxiStream.run(spark,
      base.copy(createIndex = true, httpIndex = None)))
    assert(spark.streams.listListeners().toSeq == before)
    // the --once replay, over an input directory that does not exist
    intercept[java.nio.file.NoSuchFileException](ProcessTaxiStream.run(
      spark, base.copy(inputDir = s"$wireDir/missing")))
    assert(spark.streams.listListeners().toSeq == before)
  }

  test("a once run starts no chmod or readlink process on its work directory") {
    val wireDir = Files.createTempDirectory("appj-wire").toString
    val workDir = Files.createTempDirectory("appj-work").toFile
      .getCanonicalPath
    val indexDir = Files.createTempDirectory("appj-index").toString
    EventCodec.toJsonLines(SyntheticTrips.fromEvents(spark, "/root/testdata/sf0.001"))
      .coalesce(1).write.mode("overwrite").text(wireDir)
    val cfg = ProcessTaxiStream.Config(
      inputDir = wireDir, workDir = workDir, indexDir = indexDir,
      speedup = 1e12, replayPartitions = 2,
      maxFilesPerTrigger = Some(1), once = true)

    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    val jfr = Files.createTempFile("appj", ".jfr")
    recording.start()
    val summary =
      try ProcessTaxiStream.run(spark, cfg)
      finally { recording.stop(); recording.dump(jfr); recording.close() }
    assert(summary.pickupDocs > 0)

    import scala.jdk.CollectionConverters._
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    Files.delete(jfr)
    // other suites may run beside this one: count only this run's paths
    val onWork = commands.filter(_.contains(s"$workDir/"))
    info(s"${commands.size} process starts, ${onWork.size} on the work directory")
    val perFile = onWork.filter(c =>
      c.startsWith("chmod ") || c.startsWith("readlink "))
    assert(perFile.isEmpty, s"${perFile.size} of ${onWork.size} processes " +
      s"on the work directory, e.g. ${perFile.take(3).mkString("; ")}")
  }

  test("CLI parser covers the reference's flags") {
    val cfg = ProcessTaxiStream.parse(Array(
      "--input", "/in", "--work", "/w", "--index", "/idx",
      "--speedup", "100", "--partitions", "2", "--noeventtime",
      "--max-files-per-trigger", "3", "--once"))
    assert(cfg == ProcessTaxiStream.Config("/in", "/w", "/idx",
      eventTime = false, speedup = 100.0, replayPartitions = 2,
      maxFilesPerTrigger = Some(3), once = true))
    val cfg2 = ProcessTaxiStream.parse(Array(
      "--input", "/in", "--work", "/w", "--index", "/idx",
      "--http-index", "http://h", "--create-index", "--sigv4", "eu-west-1"))
    assert(cfg2.createIndex && cfg2.sigv4Region.contains("eu-west-1") &&
      cfg2.httpIndex.contains("http://h"))
    val cfg3 = ProcessTaxiStream.parse(Array(
      "--input", "/in", "--work", "/w", "--index", "/idx",
      "--kinesis", "http://k", "--stream", "s", "--aggregate"))
    assert(cfg3.kinesisEndpoint.contains("http://k") &&
      cfg3.kinesisStream == "s" && cfg3.kplAggregate)
    intercept[IllegalArgumentException] {
      ProcessTaxiStream.parse(Array("--bogus"))
    }
    intercept[IllegalArgumentException] {
      ProcessTaxiStream.parse(Array("--input", "/in"))
    }
    val required = Array("--input", "/in", "--work", "/w", "--index", "/idx")
    intercept[IllegalArgumentException] {
      ProcessTaxiStream.parse(required :+ "--create-index")
    }
    intercept[IllegalArgumentException] {
      ProcessTaxiStream.parse(required ++ Seq("--sigv4", "eu-west-1"))
    }
  }
}
