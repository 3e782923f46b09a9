package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.app.ProcessTaxiStream
import graft.functions.GeoFunctions.{near_jfk, near_lga}
import graft.io.{BulkIndexSink, EventCodec}
import graft.operators.TaxiQueries
import graft.sources.StubKinesisServer
import graft.streaming.StreamingTaxi
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** JVM half of the benchmark. It sets up, drives one workload through
  * the program's public entry points, and writes what it observed as
  * one JSON file; `run.py` turns that file into metrics and checks.
  *
  * {{{
  * java -cp <classes>:<spark jars> perfbench.Main --workload taxi_live \
  *   --work <dir> --out <file> --seconds 10 --trace 0 --cores 4 \
  *   [--input <wire dir>] [--speedup N] [--fixture <dir> --queries a,b]
  * }}}
  */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    def workload: String = apply("workload")
    def seconds: Double = apply("seconds").toDouble
    def traced: Boolean = kv.get("trace").contains("1")
    def cores: Int = apply("cores").toInt
    def work: String = apply("work")
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap)

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val trace = new Trace
    val out: Map[String, Any] = a.workload match {
      case "taxi_live" => TaxiWorkloads.live(a, trace)
      case "taxi_drain" => TaxiWorkloads.drain(a, trace)
      case "battery" => BatteryWorkload.run(a, trace)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spans = trace.spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "start" -> s.start, "end" -> s.end, "parent" -> s.parent))
    val full = out ++ Map(
      "workload" -> a.workload,
      "peak_rss_mb" -> Proc.peakRssMb(),
      "peak_heap_after_gc_mb" -> Proc.peakHeapAfterGcMb(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "spans" -> (if (a.traced) spans else Seq.empty))
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(full))
    mark("result written")
    SparkSession.getActiveSession.foreach(_.stop())
    // stub and producer threads must not keep the JVM alive
    sys.exit(0)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The set-up `run.py` reports as `setup_s`: from JVM start through
    * the session and `setupOnce` (stubs, table touch, warm-up query). */
  def setup[T](a: Args, trace: Trace)(setupOnce: SparkSession => T): (SparkSession, T, Double) = {
    val spark = session(a)
    val state = setupOnce(spark)
    val t1 = Clock.nowMs()
    trace.add("setup", "app", jvmStartMs, t1)
    mark("setup done")
    (spark, state, t1 - jvmStartMs)
  }

  /** Drops cached data and any RDD a query left persisted, so every
    * query and drain starts from the same state. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private val jvmStartMs = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime.toDouble

  /** Progress line on stderr: seconds since JVM start. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowMs() - jvmStartMs) / 1000}%.1f s: $what")

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9

  private val heapAfterGc = new java.util.concurrent.atomic.AtomicLong(0)
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { gc =>
    gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
      (n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          heapAfterGc.accumulateAndGet(used, math.max)
        }, null, null)
  }

  /** Largest heap occupancy left after any collection since the last
    * reset, in MiB: the live set, without the garbage a collection
    * would have freed. */
  def peakHeapAfterGcMb(): Double = heapAfterGc.get / (1024.0 * 1024.0)
  def resetPeakHeap(): Unit = heapAfterGc.set(0)

  /** VmHWM of this process in MiB (0 where /proc is absent). */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) 0.0
    else Files.readAllLines(f.toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Streaming layers of one traced run, from `StreamingQueryProgress`. */
object StreamingMetrics {
  def apply(l: StreamingListener, trace: Trace, runSpan: Int,
      wallMs: Double): Map[String, Double] = {
    val ps = l.progress.asScala.toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L).toDouble
    val perQuery = Seq("q1_pickup_hotspots", "q2_airport_durations").flatMap { q =>
      val qs = ps.filter(_.name == q)
      def sum(k: String) = qs.map(dur(_, k)).sum
      val state = qs.flatMap(_.stateOperators)
      Seq(
        s"streaming.$q.batches" -> qs.size.toDouble,
        s"streaming.$q.query_planning_ms" -> sum("queryPlanning"),
        s"streaming.$q.wal_commit_ms" -> sum("walCommit"),
        s"streaming.$q.commit_offsets_ms" -> sum("commitOffsets"),
        s"streaming.$q.add_batch_ms" -> sum("addBatch"),
        s"streaming.$q.state_commit_ms" -> state.map(_.commitTimeMs.toDouble).sum,
        s"streaming.$q.idle_ms" -> math.max(0.0, wallMs - sum("triggerExecution")),
        s"streaming.$q.state_rows_max" ->
          state.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
        s"streaming.$q.state_memory_bytes_max" ->
          state.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
        s"streaming.$q.rows_dropped_by_watermark" ->
          state.map(_.numRowsDroppedByWatermark.toDouble).sum)
    }
    val sources = ps.flatMap(_.sources)
    val behind = sources.flatMap(s => Option(s.metrics)
      .flatMap(m => Option(m.get("millisBehindLatest"))).flatMap(_.toDoubleOption))
    // micro-batches as spans, their phases as children laid end to end
    // in execution order (progress events carry durations only)
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val id = trace.add(s"batch:${p.name}#${p.batchId}", "streaming", start,
        start + dur(p, "triggerExecution"), runSpan)
      var t = start
      Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
        "getBatch" -> "sources", "queryPlanning" -> "plans",
        "addBatch" -> "streaming", "commitOffsets" -> "streaming")
        .foreach { case (k, layer) =>
          val d = dur(p, k)
          if (d > 0) trace.add(s"$k:${p.name}#${p.batchId}", layer, t, t + d, id)
          t += d
        }
    }
    perQuery.toMap ++ Map(
      "sources.latest_offset_ms" -> ps.map(dur(_, "latestOffset")).sum,
      "sources.millis_behind_latest_max" -> behind.maxOption.getOrElse(0.0),
      "sources.input_rows" -> ps.map(_.numInputRows.toDouble).sum)
  }

  /** Streaming jobs become children of the micro-batch that ran them. */
  def jobSpans(ops: OperatorsListener, trace: Trace,
      l: StreamingListener): Unit = {
    val queryName = l.progress.asScala.map(p => p.id.toString -> p.name).toMap
    val batchSpan = trace.spans.asScala.filter(_.layer == "streaming")
      .map(s => s.name -> s.id).toMap
    ops.jobSpans.asScala.foreach { case (s, e, _, qid, bid) =>
      val parent = queryName.get(qid)
        .flatMap(q => batchSpan.get(s"batch:$q#$bid")).getOrElse(-1)
      trace.add("job", "operators", s.toDouble, e.toDouble, parent)
    }
  }
}

/** The `io` layer as the bulk stub saw it. Requests become spans under
  * the micro-batch of the query that owns their document type. */
object IoMetrics {
  val queryOf = Map("pickup_count" -> "q1_pickup_hotspots",
    "trip_duration" -> "q2_airport_durations")

  def apply(reqs: Seq[BulkStub.Request], trace: Option[Trace]): Map[String, Double] = {
    trace.foreach { t =>
      reqs.foreach { r =>
        val q = queryOf.getOrElse(r.docType, "")
        t.add(s"bulk:${r.docType}", "io", r.startMs, r.endMs,
          t.enclosing(r.startMs, "streaming", s"batch:$q#"))
      }
    }
    val docs = reqs.map(_.docs.toDouble).sum
    Map(
      "io.bulk_requests" -> reqs.size.toDouble,
      "io.docs_received" -> docs,
      "io.docs_per_request" -> (if (reqs.isEmpty) 0.0 else docs / reqs.size),
      "io.bytes_received" -> reqs.map(_.bytes.toDouble).sum,
      "io.docs_redelivered" -> reqs.map(_.redelivered.toDouble).sum,
      "io.stub_handling_ms" -> reqs.map(r => r.endMs - r.startMs).sum)
  }
}

object TaxiWorkloads {
  import Main._

  /** The app's continuous-mode trigger interval. */
  val TriggerMs = 5000L
  /** Where in the trigger interval a live run starts. The queries'
    * first micro-batch (about 1 s after the start, 1-3 s long) then ends
    * before the next tick, and a producer publishing for a multiple of
    * 5 s finishes 1 s before a tick, so every run reads its last events
    * on the same tick. */
  val StartPhaseMs = 4000L
  /** How long a live run may take to deliver its last documents after
    * the measuring time before it counts as timed out. */
  val TailLimitMs = 60000L
  /** Untimed drains that warm the streaming path, then timed drains. */
  val WarmupDrains = 1
  val TimedDrains = 3

  /** `movers`: per document type, the trip ids that move the watermark
    * of the query writing that type. */
  final case class Expected(docs: Seq[Map[String, Any]], watermarkDelayMs: Long,
      movers: Map[String, Seq[Long]])

  def delayMs(s: String): Long = s.trim.split("\\s+") match {
    case Array(n, u) if u.startsWith("second") => n.toLong * 1000L
    case Array(n, u) if u.startsWith("minute") => n.toLong * 60000L
    case _ => throw new IllegalArgumentException(s"unparsed delay $s")
  }

  /** Documents the batch Q1/Q2 produce over the same input, keyed like
    * the sink, restricted to windows each query's final watermark
    * closes. Catalyst pushes Q2's airport filter below the stream's
    * watermark node, so Q2's watermark moves on airport trips only. */
  def expected(spark: SparkSession, input: String): Expected = {
    val delay = delayMs(StreamingTaxi.DefaultWatermarkDelay)
    val trips = TaxiQueries.validNycTrips(
      EventCodec.parseEvents(spark.read.text(input).toDF("value")))
    val airportTrips = trips.filter(
      near_jfk(col("dropoff_lat"), col("dropoff_lon")) ||
      near_lga(col("dropoff_lat"), col("dropoff_lon")))
    def moverTimes(df: org.apache.spark.sql.DataFrame) =
      df.select(col("trip_id"), unix_millis(col("dropoff_datetime")))
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    def docs(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        docType: String, movers: Seq[(Long, Long)]) = {
      val closedBy = movers.map(_._2).max - delay
      BulkIndexSink.withDocId(df, keys)
        .filter(col("timestamp") + 1 <= closedBy)
        .select(col("_id"), col("_source"), col("timestamp"))
        .collect().toSeq.map(r => Map("id" -> r.getString(0),
          "type" -> docType, "source" -> r.getString(1),
          "timestamp" -> r.getLong(2)))
    }
    val q1Movers = moverTimes(trips)
    val q2Movers = moverTimes(airportTrips)
    Expected(
      docs(TaxiQueries.q1PickupHotspots(trips), Seq("location", "timestamp"),
        "pickup_count", q1Movers) ++
      docs(TaxiQueries.q2AirportDurations(trips),
        Seq("location", "airport_code", "timestamp"), "trip_duration", q2Movers),
      delay,
      Map("pickup_count" -> q1Movers.map(_._1),
        "trip_duration" -> q2Movers.map(_._1)))
  }

  /** Table touch plus one small query over the generated input. */
  def warmUp(spark: SparkSession, input: String): Unit = {
    val lines = spark.read.text(input).toDF("value")
    lines.write.format("noop").mode("overwrite").save()
    TaxiQueries.q1PickupHotspots(TaxiQueries.validNycTrips(
      EventCodec.parseEvents(lines.limit(2000))))
      .write.format("noop").mode("overwrite").save()
  }

  def arrivals(stub: BulkStub): Seq[Map[String, Any]] =
    stub.docs.asScala.toSeq.map { case (id, d) => Map("id" -> id,
      "type" -> d.docType, "source" -> d.source, "arrival_ms" -> d.arrivalMs) }

  def summaryMap(s: ProcessTaxiStream.Summary): Map[String, Any] = Map(
    "replayed_events" -> s.replayedEvents, "skipped_lines" -> s.skippedLines,
    "pickup_docs" -> s.pickupDocs, "duration_docs" -> s.durationDocs)

  /** Open loop: the paced producer publishes into the Kinesis stub
    * while both queries run on the app's own 5 s trigger; the run is
    * stopped through `spark.streams` once every expected document has
    * reached the bulk stub, or at the deadline. */
  def live(a: Args, trace: Trace): Map[String, Any] = {
    val input = a("input")
    val (spark, (bulk, kin), setupMs) = setup(a, trace) { s =>
      val stubs = (new BulkStub, new StubKinesisServer("taxi", shardCount = a.cores))
      warmUp(s, input)
      stubs
    }
    val exp = expected(spark, input)
    mark("expected documents computed")
    val expectedIds = exp.docs.map(_("id").asInstanceOf[String]).toSet
    val listeners = if (a.traced) Some(new Listeners(spark)) else None
    val cfg = ProcessTaxiStream.Config(
      inputDir = input, workDir = s"${a.work}/live", indexDir = s"${a.work}/index",
      speedup = a("speedup").toDouble, replayPartitions = a.cores,
      httpIndex = Some(bulk.endpoint), kinesisEndpoint = Some(kin.endpoint))
    val deadline = Clock.nowMs() + a.seconds * 1000 + TailLimitMs
    var summary: Option[ProcessTaxiStream.Summary] = None
    var error: Option[String] = None
    // start at a fixed phase of the app's 5 s trigger (ProcessingTime
    // triggers fire at multiples of the interval since the epoch), so
    // runs differ by their inputs, not by where the grid falls
    Thread.sleep(math.floorMod(StartPhaseMs - System.currentTimeMillis(), TriggerMs))
    Proc.resetPeakHeap()
    val cpu0 = Proc.cpuS()
    val entry = Clock.nowMs()
    val runner = new Thread(() =>
      try summary = Some(ProcessTaxiStream.run(spark, cfg))
      catch { case e: Throwable => error = Some(errorText(e)) }, "perfbench-app")
    runner.start()
    def allArrived = bulk.docs.size >= expectedIds.size &&
      expectedIds.forall(bulk.docs.containsKey)
    while (runner.isAlive && !allArrived && Clock.nowMs() < deadline)
      Thread.sleep(10)
    val stopAt = Clock.nowMs()
    mark("stopping queries")
    val timedOut = !allArrived
    spark.streams.active.foreach(_.stop())
    runner.join()
    val ret = Clock.nowMs()
    val cpu = Proc.cpuS() - cpu0
    val runSpan = trace.add("ProcessTaxiStream.run", "app", entry, ret)
    // the producer as the Kinesis stub saw it
    val stored = (0 until a.cores).flatMap(kin.storedRecords)
    val data = stored.filterNot(r =>
      new String(r.data, "UTF-8").contains("\"type\": \"watermark\""))
    val lastData = data.map(_.arrivalMs.toDouble).maxOption.getOrElse(entry)
    val layers = listeners.map { l =>
      l.detach()
      trace.add("populate", "replay", entry, lastData, runSpan)
      val sm = StreamingMetrics(l.streams, trace, runSpan, ret - entry)
      StreamingMetrics.jobSpans(l.ops, trace, l.streams)
      sm ++ l.ops.metrics(Seq((entry, ret)), a.cores) ++ l.planMetrics ++
        IoMetrics(bulk.requests.asScala.toSeq, Some(trace)) ++ Map(
          "app.run_s" -> (ret - entry) / 1000.0,
          "app.shutdown_s" -> (ret - stopAt) / 1000.0,
          "replay.publish_s" -> (lastData - entry) / 1000.0)
    }
    val res = Map(
      "setup_ms" -> setupMs,
      "expected" -> exp.docs, "watermark_delay_ms" -> exp.watermarkDelayMs,
      "watermark_movers" -> exp.movers,
      "runs" -> Seq(Map(
        "entry_ms" -> entry, "stop_ms" -> stopAt, "return_ms" -> ret,
        "cpu_s" -> cpu, "warmup" -> false, "timed_out" -> timedOut,
        "error" -> error.orNull, "summary" -> summary.map(summaryMap).orNull,
        "arrivals" -> arrivals(bulk),
        "kinesis_data_records" -> data.size,
        "kinesis_last_data_arrival_ms" -> lastData,
        "layers" -> layers.orNull)))
    bulk.stop(); kin.stop()
    res
  }

  /** Catch-up: a generated backlog replayed at full speed into the
    * file source and drained with AvailableNow (`once`), repeated on
    * fresh checkpoints. */
  def drain(a: Args, trace: Trace): Map[String, Any] = {
    val input = a("input")
    val (spark, bulk, setupMs) = setup(a, trace) { s =>
      val b = new BulkStub
      warmUp(s, input)
      b
    }
    val exp = expected(spark, input)
    def once(i: Int): Map[String, Any] = {
      bulk.reset()
      release(spark)
      val listeners =
        if (a.traced && i >= WarmupDrains) Some(new Listeners(spark)) else None
      val cfg = ProcessTaxiStream.Config(
        inputDir = input, workDir = s"${a.work}/drain-$i",
        indexDir = s"${a.work}/index-$i", speedup = 1e12,
        replayPartitions = a.cores, once = true,
        httpIndex = Some(bulk.endpoint))
      var summary: Option[ProcessTaxiStream.Summary] = None
      var error: Option[String] = None
      val cpu0 = Proc.cpuS()
      val entry = Clock.nowMs()
      try summary = Some(ProcessTaxiStream.run(spark, cfg))
      catch { case e: Throwable => error = Some(errorText(e)) }
      val ret = Clock.nowMs()
      val cpu = Proc.cpuS() - cpu0
      mark(s"drain $i done")
      val layers = listeners.map { l =>
        l.detach()
        val runSpan = trace.add(s"ProcessTaxiStream.run#$i", "app", entry, ret)
        val firstStart = l.streams.started.asScala.minOption.getOrElse(entry)
        trace.add("populate", "replay", entry, firstStart, runSpan)
        val sm = StreamingMetrics(l.streams, trace, runSpan, ret - firstStart)
        StreamingMetrics.jobSpans(l.ops, trace, l.streams)
        val lastBatchEnd = l.streams.progress.asScala.map(p =>
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
            Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
          .maxOption.getOrElse(ret)
        sm ++ l.ops.metrics(Seq((entry, ret)), a.cores) ++ l.planMetrics ++
          IoMetrics(bulk.requests.asScala.toSeq, Some(trace)) ++ Map(
            "app.run_s" -> (ret - entry) / 1000.0,
            "app.shutdown_s" -> math.max(0.0, ret - lastBatchEnd) / 1000.0,
            "replay.publish_s" -> (firstStart - entry) / 1000.0)
      }
      Map("entry_ms" -> entry, "return_ms" -> ret, "cpu_s" -> cpu,
        "warmup" -> (i < WarmupDrains), "timed_out" -> false,
        "error" -> error.orNull, "summary" -> summary.map(summaryMap).orNull,
        "arrivals" -> arrivals(bulk), "layers" -> layers.orNull)
    }
    // untimed warm-up drains first (checked like the rest)
    mark("expected documents computed")
    val warm = (0 until WarmupDrains).map(once)
    Proc.resetPeakHeap()
    val runs = warm ++ (WarmupDrains until WarmupDrains + TimedDrains).map(once)
    bulk.stop()
    Map("setup_ms" -> setupMs, "expected" -> exp.docs,
      "watermark_delay_ms" -> exp.watermarkDelayMs, "runs" -> runs)
  }
}

/** Batch battery: the named `SparkEntry.queries`, in a fixed order, in
  * one warm session. An untimed pass writes each result as parquet for
  * `run.py`'s digest check; timed passes then materialize each query
  * with a noop write, as `graft.Bench` does. */
object BatteryWorkload {
  import Main._

  /** Timed passes; `run.py` keeps each query's two fastest. */
  val TimedPasses = 4

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def run(a: Args, trace: Trace): Map[String, Any] = {
    val fixture = a("fixture")
    val names = a("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val (spark, _, setupMs) = setup(a, trace) { s =>
      Tables.foreach { t =>
        val p = new File(s"$fixture/$t.parquet")
        if (p.exists()) s.read.parquet(p.toString).write.format("noop")
          .mode("overwrite").save()
      }
      s.read.parquet(s"$fixture/nation.parquet").groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    val queries = graft.SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    // untimed pass: each result is written for the digest check, and
    // every query's code is compiled before the timed pass
    val checked = names.map { n =>
      val err = try {
        queries(n)(spark, fixture).write.mode("overwrite")
          .parquet(s"${a.work}/results/$n")
        None
      } catch { case e: Throwable => Some(errorText(e)) }
      release(spark)
      n -> err
    }.toMap
    mark("check pass done")
    val listeners = if (a.traced) Some(new Listeners(spark)) else None
    val windows = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    Proc.resetPeakHeap()
    val passes = (0 until TimedPasses).map { i =>
      val cpu0 = Proc.cpuS()
      val times = names.map { n =>
        val key = s"query:$n#$i"
        spark.sparkContext.setLocalProperty("perfbench.span", key)
        val s0 = Clock.nowMs()
        val err = try {
          val df = queries(n)(spark, fixture)
          df.write.format("noop").mode("overwrite").save()
          // the Dataset was analysed when it was built, in its own
          // QueryExecution, which the write's listener event never shows
          listeners.foreach(_.plans.record(df.queryExecution))
          None
        } catch { case e: Throwable => Some(errorText(e)) }
        val s1 = Clock.nowMs()
        spark.sparkContext.setLocalProperty("perfbench.span", null)
        trace.add(key, "app", s0, s1)
        windows += ((s0, s1))
        release(spark)
        Map("name" -> n, "s" -> (s1 - s0) / 1000.0,
          "error" -> err.orElse(checked(n)).orNull)
      }
      mark(s"timed pass $i done")
      Map("queries" -> times, "cpu_s" -> (Proc.cpuS() - cpu0))
    }
    val layers = listeners.map { l =>
      l.detach()
      val querySpan = trace.spans.asScala.filter(_.name.startsWith("query:"))
        .map(s => s.name -> s.id).toMap
      l.ops.jobSpans.asScala.foreach { case (s, e, key, _, _) =>
        trace.add("job", "operators", s.toDouble, e.toDouble,
          querySpan.getOrElse(key, -1))
      }
      l.plans.phases.asScala.foreach { case (phase, s, e) =>
        trace.add(phase, "plans", s, e, trace.enclosing(s, "app", "query:"))
      }
      l.ops.metrics(windows.toSeq, a.cores) ++ l.planMetrics
    }
    Map("setup_ms" -> setupMs, "passes" -> passes,
      "layers" -> layers.orNull)
  }
}
