package graft.app

import graft.io.{BulkIndexSink, BulkTransport, CountingTransport, HttpBulkTransport, LocalDirTransport}
import graft.replay.StreamPopulator
import graft.streaming.{ProgressTelemetry, StreamingTaxi}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The end-to-end application: the Spark-first counterpart of the
  * reference's `ProcessTaxiStream.main` (ProcessTaxiStream.java:64-167)
  * plus its producer, wired as ONE runnable program:
  *
  *   wire-format input ─(replay: R1-R6 pacing + watermark lines)→
  *   partition files ─(file streaming source S1 + strict codec S2)→
  *   watermarked trip stream (P2/F1-F3) ─→ Q1 AND Q2 ─→
  *   buffered idempotent bulk indexes (SK1), checkpointed (C1).
  *
  * '''Cheap commits and starts''': [[run]] applies
  * [[StreamingTaxi.configureStreamingSession]] before any query
  * starts. Each micro-batch's state commit appends a RocksDB changelog
  * instead of copying a full checkpoint; its offset, state and commit
  * files are written without starting a `chmod` or `readlink` process
  * per file ([[graft.io.LocalCheckpointFileManager]]); and every query
  * compiles into one class loader, so a query started again in the
  * same JVM (a second `run` with `once`) reuses the code the first one
  * compiled.
  *
  * '''Shared-prefix fan-out (SURVEY.md §7.5), decided''': Q1 and Q2
  * run as TWO streaming queries over the one replayed file source.
  * The alternative — a single query over a unioned keyspace
  * (tag ∈ {Q1, Q2}, normalized key struct, split in the sink) — saves
  * one source re-read but couples the two aggregations' watermark,
  * state store and failure domain, and the sink must demultiplex
  * heterogeneous schemas. A file (or Kinesis) source re-read is cheap
  * and each query keeps independent checkpoints/state — on restart
  * they recover independently, like the reference's two window
  * operators inside one Flink job. The source files are read twice;
  * the expensive parts (shuffle, state) are per-query either way.
  *
  * Index layout mirrors the reference's two document types
  * (ProcessTaxiStream.java:159-160): `<indexDir>/pickup_count` keyed
  * by (location, timestamp), `<indexDir>/trip_duration` keyed by
  * (location, airport_code, timestamp) — deterministic doc ids make
  * re-delivery after restart idempotent (effectively-once).
  *
  * CLI (reference flags at ProcessTaxiStream.java:65-71 and
  * StreamPopulator.java:82-119):
  * {{{
  * runMain graft.app.ProcessTaxiStream \
  *   --input <wire jsonl dir> --work <staging/checkpoint root> \
  *   --index <index root> [--http-index <base url>] [--speedup N] \
  *   [--partitions N] [--noeventtime] [--max-files-per-trigger N] [--once]
  *   [--create-index] [--sigv4 <region>]
  *   [--kinesis <endpoint> [--stream <name>] [--aggregate]]
  * }}}
  */
object ProcessTaxiStream {

  final case class Config(
      inputDir: String,
      workDir: String,
      indexDir: String,
      eventTime: Boolean = true,            // --noeventtime toggles (C2)
      speedup: Double = 6480.0,             // reference default
      replayPartitions: Int = 8,
      maxFilesPerTrigger: Option[Int] = None,
      once: Boolean = false,                // AvailableNow instead of 5 s
      skipReplay: Boolean = false,          // restart onto existing files
      // --http-index <base>: bulk-POST documents to
      // <base>/<doc_type>/_bulk over HTTP (the reference's ES sink
      // shape) instead of the local-dir index
      httpIndex: Option[String] = None,
      // --create-index: idempotently PUT the reference's index
      // mappings (geo_point location, date timestamp) onto the
      // --http-index endpoint before streaming (the step the
      // reference runs from EC2 user-data at stack boot)
      createIndex: Boolean = false,
      // --sigv4 <region>: SigV4-sign every HTTP index request with
      // credentials from the standard AWS env vars (the reference
      // sink's signed-client parity); service "es"
      sigv4Region: Option[String] = None,
      // --kinesis <endpoint> [--stream <name>]: run the WHOLE
      // pipeline over the Kinesis protocol — the replay publishes
      // through the KPL-shaped PutRecords producer (watermarks
      // broadcast per shard) and both queries read through the
      // kinesis-taxi DSv2 source. This is the reference's actual
      // deployment shape (producer EC2 → Kinesis → analytics);
      // the file staging dir is bypassed entirely. Credentials from
      // the AWS env vars sign requests when present.
      kinesisEndpoint: Option[String] = None,
      kinesisStream: String = "taxi",
      // --aggregate: publish in the KPL aggregated-record format
      // (the reference producer's `.setAggregationEnabled(aggregate)`
      // flag) — many user records per Kinesis record, de-aggregated
      // transparently by the kinesis-taxi source
      kplAggregate: Boolean = false)

  final case class Summary(
      replayedEvents: Long, skippedLines: Long,
      pickupDocs: Long, durationDocs: Long, telemetry: String)

  def parse(args: Array[String]): Config = {
    def loop(cfg: Config, rest: List[String]): Config = rest match {
      case "--input" :: v :: t => loop(cfg.copy(inputDir = v), t)
      case "--work" :: v :: t => loop(cfg.copy(workDir = v), t)
      case "--index" :: v :: t => loop(cfg.copy(indexDir = v), t)
      case "--speedup" :: v :: t => loop(cfg.copy(speedup = v.toDouble), t)
      case "--partitions" :: v :: t =>
        loop(cfg.copy(replayPartitions = v.toInt), t)
      case "--noeventtime" :: t => loop(cfg.copy(eventTime = false), t)
      case "--max-files-per-trigger" :: v :: t =>
        loop(cfg.copy(maxFilesPerTrigger = Some(v.toInt)), t)
      case "--once" :: t => loop(cfg.copy(once = true), t)
      case "--skip-replay" :: t => loop(cfg.copy(skipReplay = true), t)
      case "--http-index" :: v :: t =>
        loop(cfg.copy(httpIndex = Some(v)), t)
      case "--create-index" :: t => loop(cfg.copy(createIndex = true), t)
      case "--sigv4" :: v :: t => loop(cfg.copy(sigv4Region = Some(v)), t)
      case "--kinesis" :: v :: t => loop(cfg.copy(kinesisEndpoint = Some(v)), t)
      case "--stream" :: v :: t => loop(cfg.copy(kinesisStream = v), t)
      case "--aggregate" :: t => loop(cfg.copy(kplAggregate = true), t)
      case Nil => cfg
      case other => throw new IllegalArgumentException(
        s"unknown argument: ${other.head}")
    }
    check(loop(Config("", "", ""), args.toList))
  }

  /** The checks on a [[Config]]'s arguments, made by [[parse]] and
    * again by [[run]] before it has any side effect. */
  private def check(cfg: Config): Config = {
    require(cfg.inputDir.nonEmpty && cfg.workDir.nonEmpty &&
      cfg.indexDir.nonEmpty, "--input, --work and --index are required")
    // --sigv4 only means something with an HTTP index (or as the
    // region for --kinesis signing): fail loudly rather than silently
    // not signing
    require(cfg.sigv4Region.isEmpty || cfg.httpIndex.isDefined ||
      cfg.kinesisEndpoint.isDefined, "--sigv4 requires --http-index or --kinesis")
    require(!cfg.createIndex || cfg.httpIndex.isDefined,
      "--create-index requires --http-index")
    cfg
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = run(spark, cfg)
    println(s"[app] replayed=${s.replayedEvents} skipped=${s.skippedLines} " +
      s"pickup_count docs=${s.pickupDocs} trip_duration docs=${s.durationDocs} " +
      s"telemetry: ${s.telemetry}")
    spark.stop()
  }

  /** Wire and run the whole pipeline; blocks until both queries
    * terminate (with `once` that is when all replayed files are
    * processed). Restart-safe: replay re-writes the same partition
    * file names (the file source's checkpoint skips already-processed
    * names) and the sinks' deterministic doc ids absorb re-delivered
    * batches. A run that fails leaves no query, replay thread or
    * listener behind in the session. */
  def run(spark: SparkSession, cfg: Config): Summary = {
    check(cfg)
    // --sigv4: credentials from the standard AWS environment names,
    // read before the session is touched
    val signer: Option[graft.io.SigV4Signer] = cfg.sigv4Region.map { region =>
      val access = sys.env.getOrElse("AWS_ACCESS_KEY_ID",
        throw new IllegalArgumentException(
          "--sigv4 requires AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY"))
      val secret = sys.env.getOrElse("AWS_SECRET_ACCESS_KEY",
        throw new IllegalArgumentException(
          "--sigv4 requires AWS_ACCESS_KEY_ID / AWS_SECRET_ACCESS_KEY"))
      graft.io.SigV4Signer(access, secret, region, "es",
        sys.env.get("AWS_SESSION_TOKEN"))
    }
    StreamingTaxi.configureStreamingSession(spark)
    val telemetry = new ProgressTelemetry
    spark.streams.addListener(telemetry)

    // ---- producer half: replay wire input into partition files ----
    // In continuous mode the replay runs CONCURRENTLY with the
    // queries (the reference's producer and Flink job run side by
    // side; the paced replay and the 5 s trigger only mean something
    // if the consumer is draining while the producer writes). In
    // --once mode it runs first: AvailableNow snapshots the available
    // files at query start, so racing the producer would silently
    // truncate the run.
    val replayDir = s"${cfg.workDir}/replay"
    val replayed = new java.util.concurrent.atomic.AtomicReference((0L, 0L))
    val replayError = new java.util.concurrent.atomic.AtomicReference[Throwable]
    // kinesis requests sign with the standard AWS env credentials
    // when present (source options and producer client alike)
    val kinesisCreds: Option[(String, String)] = for {
      a <- sys.env.get("AWS_ACCESS_KEY_ID")
      s <- sys.env.get("AWS_SECRET_ACCESS_KEY")
    } yield (a, s)
    def doReplay(): Unit = cfg.kinesisEndpoint match {
      case Some(endpoint) =>
        // producer half over the PROTOCOL: KPL-shaped PutRecords,
        // per-shard watermark broadcast; the staging dir is bypassed
        val client = new graft.io.KinesisHttpClient(endpoint,
          signer = kinesisCreds.map { case (a, s) =>
            graft.io.SigV4Signer(a, s,
              cfg.sigv4Region.getOrElse("us-east-1"), "kinesis",
              sys.env.get("AWS_SESSION_TOKEN"))
          })
        val w = new graft.replay.AsyncKinesisWriter(client, cfg.kinesisStream,
          aggregate = cfg.kplAggregate)
        try replayed.set(
          new StreamPopulator(cfg.inputDir, replayDir,
            partitions = cfg.replayPartitions, speedup = cfg.speedup,
            statsEveryMs = 60000L, kinesisSink = Some(w)).populate())
        finally w.close()
      case None => replayed.set(
        new StreamPopulator(cfg.inputDir, replayDir,
          partitions = cfg.replayPartitions, speedup = cfg.speedup,
          statsEveryMs = 60000L).populate())
    }
    def startReplayThread(): Thread = {
      val t = new Thread(() =>
        try doReplay()
        catch {
          case _: InterruptedException => () // shutdown-interrupt: clean
          case e: Throwable => replayError.set(e) // surfaced below
        }, "graft-replay")
      t.setDaemon(true); t.start(); t
    }

    // ---- processor half: one source definition, two queries -------
    def source: DataFrame = {
      val r = spark.readStream
      cfg.maxFilesPerTrigger.foreach(n =>
        r.option("maxFilesPerTrigger", n.toString))
      cfg.kinesisEndpoint match {
        case Some(endpoint) =>
          // processor half over the PROTOCOL: per-shard partitions,
          // sequence-number offsets, MillisBehindLatest metrics
          var k = r.format("kinesis-taxi")
            .option("endpoint", endpoint)
            .option("stream", cfg.kinesisStream)
          kinesisCreds.foreach { case (a, s) =>
            k = k.option("accessKey", a).option("secretKey", s)
              .option("region", cfg.sigv4Region.getOrElse("us-east-1"))
          }
          graft.io.EventCodec.strictTyped(k.load())
        case None =>
          graft.io.EventCodec.parseEvents(
            r.text(s"$replayDir/*.jsonl").toDF("value"))
      }
    }
    def trips: DataFrame =
      StreamingTaxi.tripStream(source, eventTime = cfg.eventTime)
    val trigger =
      if (cfg.once) Trigger.AvailableNow()
      else Trigger.ProcessingTime("5 seconds") // reference checkpoint cadence

    // HTTP mode has no local files for the summary to count, so each
    // doc type's transport counts its delivered actions into an
    // accumulator (re-delivered batches count again; the remote store
    // stays idempotent regardless)
    val pickupAcc = spark.sparkContext.longAccumulator("pickup_count_docs")
    val durationAcc = spark.sparkContext.longAccumulator("trip_duration_docs")
    def transportFor(docType: String,
        acc: org.apache.spark.util.LongAccumulator): BulkTransport =
      cfg.httpIndex match {
        case Some(base) => new CountingTransport(
          new HttpBulkTransport(s"$base/$docType/_bulk", signer = signer), acc)
        case None => new LocalDirTransport(s"${cfg.indexDir}/$docType")
      }
    var replayThread: Option[Thread] = None
    val started = scala.collection.mutable.ListBuffer.empty[StreamingQuery]
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(replayDir))
      if (!cfg.skipReplay) {
        if (cfg.once) doReplay() else replayThread = Some(startReplayThread())
      }
      // bootstrap BEFORE the first query starts: a mapping PUT after
      // documents already auto-created the index would be rejected
      if (cfg.createIndex) cfg.httpIndex.foreach { base =>
        val created = graft.io.IndexBootstrap.ensureAll(base, signer)
        println(s"[app] index bootstrap: created=${created.mkString(",")}")
      }
      val q1 = StreamingTaxi.writer(
          StreamingTaxi.q1(trips), s"${cfg.workDir}/cp-q1", trigger)
        .foreachBatch(BulkIndexSink.foreachBatchWriter(
          Seq("location", "timestamp"),
          transportFor("pickup_count", pickupAcc)))
        .queryName("q1_pickup_hotspots")
        .start()
      started += q1
      val q2 = StreamingTaxi.writer(
          StreamingTaxi.q2(trips), s"${cfg.workDir}/cp-q2", trigger)
        .foreachBatch(BulkIndexSink.foreachBatchWriter(
          Seq("location", "airport_code", "timestamp"),
          transportFor("trip_duration", durationAcc)))
        .queryName("q2_airport_durations")
        .start()
      started += q2
      // poll rather than block: a dead producer must fail the run
      // instead of leaving queries waiting forever for data
      while ((q1.isActive || q2.isActive) && replayError.get() == null) {
        q1.awaitTermination(500)
        q2.awaitTermination(500)
      }
      Option(replayError.get()).foreach(e =>
        throw new IllegalStateException("replay producer failed", e))
    } finally {
      // any failure, from the replay to a query, must not leave a
      // query, the producer thread, or the listener running in the
      // session
      started.foreach(q => if (q.isActive) q.stop())
      replayThread.foreach { t =>
        if (t.isAlive) t.interrupt() // pacing sleep -> clean stop
        t.join(10000)
        if (t.isAlive) System.err.println(
          "[app] replay thread still running after shutdown; " +
            "replayed/skipped counts in the summary are incomplete")
      }
      spark.streams.removeListener(telemetry)
    }

    // local mode counts UNIQUE indexed files; http mode reports the
    // accumulator's delivered-action counts (see CountingTransport)
    def docs(sub: String, acc: org.apache.spark.util.LongAccumulator): Long =
      if (cfg.httpIndex.isDefined) acc.value
      else {
        val d = new java.io.File(s"${cfg.indexDir}/$sub")
        if (!d.isDirectory) 0L
        else d.listFiles().count(_.getName.endsWith(".json")).toLong
      }
    val (events, skipped) = replayed.get()
    Summary(events, skipped, docs("pickup_count", pickupAcc),
      docs("trip_duration", durationAcc), telemetry.summary)
  }
}
