package graft.replay

import java.io.{BufferedReader, BufferedWriter, InputStreamReader}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Replay/ingest tooling — the engine's counterpart of the
  * reference's producer module (SURVEY.md §2.3):
  *
  *  - [[TaxiEventReader]]: multi-file line scan with gzip
  *    auto-detection and bad-line skip (R1,
  *    TaxiEventReader.java:32-145) plus timestamp seek (R2, :52-70);
  *  - [[AdaptTime]]: the three time-adaptation modes (R4,
  *    AdaptTimeOption.java:18-22, producer TripEvent.java:45-82);
  *  - [[StreamPopulator]]: speed-up pacing (R3,
  *    StreamPopulator.java:143-161, MIN_SLEEP :44), watermark
  *    broadcast to every output partition (R5/R6,
  *    WatermarkTracker.java:57-91), progress statistics (R9,
  *    StreamPopulator.java:200-210), over one of two write paths:
  *    synchronous partition files, which the streaming engine reads
  *    as its source (StreamingTaxi.fromJsonFiles), or the Kinesis
  *    protocol through [[AsyncKinesisWriter]] (R8) behind a
  *    [[BackpressureSemaphore]] (R7).
  */
object ReplayJson {
  val mapper = new ObjectMapper()

  private val isoFmt = java.time.format.DateTimeFormatter.ISO_INSTANT

  def parseIso(s: String): Long = java.time.Instant.parse(s).toEpochMilli
  def toIso(ms: Long): String =
    isoFmt.format(java.time.Instant.ofEpochMilli(ms))

  /** Event timestamp of a wire line: dropoff time for trips,
    * watermark time for control records (TripEvent.java:41-43,
    * WatermarkEvent.java:29-31). None = unparseable (skip). */
  def timestampOf(line: String): Option[Long] =
    try {
      val n = mapper.readTree(line)
      n.path("type").asText() match {
        case "trip" => Some(parseIso(n.path("dropoff_datetime").asText()))
        case "watermark" => Some(parseIso(n.path("watermark").asText()))
        case _ => None
      }
    } catch { case _: Exception => None }
}

/** R1 + R2: iterate (line, eventTimeMs) over files sorted by name,
  * transparently gunzipping (magic-byte detection), skipping
  * unparseable lines with a counter. */
class TaxiEventReader(files: Seq[Path]) extends Iterator[(String, Long)] {
  def this(dir: String) = this {
    val listing = Files.list(Paths.get(dir))
    try listing.toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).sortBy(_.getFileName.toString).toSeq
    finally listing.close() // Files.list holds a directory handle
  }

  private var skipped = 0L
  private val lines: Iterator[String] = files.iterator.flatMap { p =>
    val raw = Files.newInputStream(p)
    val in = new java.io.PushbackInputStream(raw, 2)
    val b1 = in.read(); val b2 = in.read()
    if (b2 != -1) in.unread(b2)
    if (b1 != -1) in.unread(b1)
    val stream =
      if (b1 == 0x1f && b2 == 0x8b) new GZIPInputStream(in) else in
    val r = new BufferedReader(new InputStreamReader(stream, "UTF-8"))
    // close each file's reader when its lines are exhausted — a long
    // replay over many (possibly gzipped) files must not hold every
    // file descriptor / native zlib handle until GC
    new Iterator[String] {
      private var line: String = read()
      private def read(): String = {
        val l = r.readLine()
        if (l == null) r.close()
        l
      }
      override def hasNext: Boolean = line != null
      override def next(): String = { val l = line; line = read(); l }
    }
  }

  private var nextEvent: Option[(String, Long)] = advance()

  private def advance(): Option[(String, Long)] = {
    while (lines.hasNext) {
      val l = lines.next()
      ReplayJson.timestampOf(l) match {
        case Some(ts) => return Some((l, ts))
        case None => skipped += 1 // bad line: skip with a warning count
      }
    }
    None
  }

  override def hasNext: Boolean = nextEvent.isDefined
  override def next(): (String, Long) = {
    val e = nextEvent.get
    nextEvent = advance()
    e
  }

  /** R2: skip forward until event time >= t. */
  def seek(t: Long): Unit =
    while (nextEvent.exists(_._2 < t)) nextEvent = advance()

  def skippedLines: Long = skipped
}

/** R4: the three time-adaptation modes. */
object AdaptTime {
  sealed trait Mode
  /** Replay timestamps as-is. */
  case object Original extends Mode
  /** Shift all timestamps by (invocation time − dataset epoch) —
    * preserves inter-event gaps and durations. */
  final case class Invocation(datasetEpochMs: Long, nowMs: Long) extends Mode
  /** Rewrite dropoff to "now", preserving the trip duration. */
  final case class Ingestion(nowMs: () => Long) extends Mode

  def adapt(line: String, eventTs: Long, mode: Mode): String = mode match {
    case Original => line
    case Invocation(epoch, now) => shift(line, now - epoch)
    case Ingestion(now) => shift(line, now() - eventTs)
  }

  private def shift(line: String, deltaMs: Long): String = {
    val n = ReplayJson.mapper.readTree(line).asInstanceOf[ObjectNode]
    def bump(field: String): Unit = if (n.hasNonNull(field))
      n.put(field, ReplayJson.toIso(
        ReplayJson.parseIso(n.get(field).asText()) + deltaMs))
    bump("pickup_datetime"); bump("dropoff_datetime"); bump("watermark")
    ReplayJson.mapper.writeValueAsString(n)
  }
}

/** R3 + R6 + R9: replay a directory of wire-format files into
  * `partitions` output files at `speedup`× real time, broadcasting a
  * watermark line to every partition each `watermarkEveryMs` of wall
  * time or `watermarkEveryEvents` events (StreamPopulator.java:39-41),
  * logging progress every `statsEveryMs`. With synchronous file
  * writes every prior record is durable, so the low watermark of
  * un-acked events is the timestamp of the last written event.
  *
  * `kinesisSink` switches to the reference's actual architecture
  * (StreamPopulator.java:62-66): records publish over the Kinesis
  * protocol, routed by partition key = hash(payload) (R8); a fair
  * [[BackpressureSemaphore]] of `maxOutstanding` permits bounds the
  * records in flight (R7, reference default 50,000); watermarks
  * broadcast to EVERY shard via ExplicitHashKey (R6) and carry the
  * genuine [[WatermarkTracker]] low watermark of un-acked events
  * (R5). Failed records are counted in [[failedWrites]] and skipped
  * (the reference skips throttling exceptions,
  * StreamPopulator.java:189-198). The caller owns the writer's
  * lifecycle; populate() drains it before the final watermark. */
class StreamPopulator(
    inputDir: String,
    outputDir: String,
    partitions: Int = 4,
    speedup: Double = 6480.0, // reference default, StreamPopulator.java:107
    adaptMode: AdaptTime.Mode = AdaptTime.Original,
    watermarkEveryMs: Long = 5000L,
    watermarkEveryEvents: Long = 100000L,
    statsEveryMs: Long = 60000L,
    sleep: Long => Unit = Thread.sleep,
    now: () => Long = () => System.currentTimeMillis(),
    maxOutstanding: Int = 50000, // Kinesis records in flight (R7)
    rotateEveryEvents: Long = 100000L, // segment size (see SegmentWriters)
    kinesisSink: Option[AsyncKinesisWriter] = None) {

  val MinSleepMs = 5L // StreamPopulator.java:44

  private val failed = new java.util.concurrent.atomic.AtomicLong(0)
  private val failedControl = new java.util.concurrent.atomic.AtomicLong(0)

  /** DATA records whose Kinesis publish failed (0 with file
    * output). Watermark control lines are tracked separately in
    * [[failedControlLines]] — a wedged shard must not make lost
    * control lines read as lost data. */
  def failedWrites: Long = failed.get()

  /** Watermark control lines whose Kinesis broadcast failed. */
  def failedControlLines: Long = failedControl.get()

  /** Synchronous segmented writers: each partition writes segment
    * files `part-PPPPP-SSSSS.jsonl`, authored under a dot-prefixed
    * `.tmp` name and PUBLISHED by atomic rename when the segment
    * rotates (every [[rotateEveryEvents]] events — event-count-based
    * so a restarted replay reproduces the same segment names) or at
    * close. A consumer globbing `*.jsonl` therefore only ever lists
    * complete, immutable files — essential for Spark's file streaming
    * source, which reads each path exactly once and silently drops
    * content appended to an already-seen file. */
  private final class SegmentWriters {
    Files.createDirectories(Paths.get(outputDir))
    private var segment = 0
    private var open: IndexedSeq[(Path, BufferedWriter)] = openSegment()
    private def openSegment(): IndexedSeq[(Path, BufferedWriter)] =
      (0 until partitions).map { p =>
        val tmp = Paths.get(outputDir, f".part-$p%05d-$segment%05d.jsonl.tmp")
        (tmp, Files.newBufferedWriter(tmp))
      }
    def write(p: Int, line: String): Unit = {
      val w = open(p)._2; w.write(line); w.newLine()
    }
    def writeAll(line: String): Unit =
      (0 until partitions).foreach(write(_, line))
    private def publish(): Unit = {
      open.zipWithIndex.foreach { case ((tmp, w), p) =>
        w.close()
        Files.move(tmp,
          Paths.get(outputDir, f"part-$p%05d-$segment%05d.jsonl"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def rotate(): Unit = { publish(); segment += 1; open = openSegment() }
    def close(): Unit = publish()
  }

  // exactly one of the two write paths is materialized per populator
  private lazy val syncWriters: SegmentWriters = new SegmentWriters
  private lazy val kinesisBundle: (BackpressureSemaphore, WatermarkTracker) =
    (new BackpressureSemaphore(maxOutstanding), new WatermarkTracker)
  private def kinesis = kinesisSink.isDefined

  private def writeRecord(p: Int, line: String, eventTs: Long): Unit =
    if (kinesis) {
      val (sem, tracker) = kinesisBundle
      tracker.track(eventTs)
      sem.acquire() // R7: block the producer at maxOutstanding
      // R8: partition key = hash of the payload, the reference's choice
      kinesisSink.get.addRecord(line.hashCode.toString,
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .whenComplete { (_, err) =>
          sem.release()
          tracker.complete(eventTs)
          if (err != null) failed.incrementAndGet()
        }: Unit
    } else syncWriters.write(p, line)

  /** The raw event-time base for the next watermark line: the current
    * record's timestamp under synchronous writes (every prior record
    * is durable), the tracker's un-acked low watermark under kinesis
    * publishing (None until a first completion). */
  private def watermarkBase(currentTs: Long): Option[Long] =
    if (kinesis) Some(kinesisBundle._2.watermark).filter(_ != Long.MinValue)
    else Some(currentTs)

  private def emitWatermark(ts: Long): Unit = {
    val line = s"""{"type": "watermark", "watermark": "${ReplayJson.toIso(ts)}"}"""
    if (kinesis)
      // R6 at protocol level: one copy per shard via ExplicitHashKey;
      // failures count as lost control lines, replay carries on (the
      // reference skips throttling exceptions the same way)
      try kinesisSink.get.broadcastToAllShards("watermark",
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      catch { case _: java.io.IOException => failedControl.incrementAndGet() }
    else syncWriters.writeAll(line)
  }

  private def rotateSegments(): Unit =
    if (!kinesis) syncWriters.rotate() // shards don't rotate

  private def adaptWm(rawTs: Long): Long = adaptMode match {
    case AdaptTime.Original => rawTs
    case AdaptTime.Invocation(epoch, n0) => rawTs + (n0 - epoch)
    case AdaptTime.Ingestion(n) => n()
  }

  /** Replay everything at the configured pace; returns (events,
    * skipped lines). */
  def populate(seekTo: Option[Long] = None): (Long, Long) = {
    val reader = new TaxiEventReader(inputDir)
    seekTo.foreach(reader.seek)
    var t0Log = -1L
    var t0Sys = -1L
    var events = 0L
    var lastWmWall = now()
    var lastWmEvents = 0L
    var lastStats = now()
    var lastTs = -1L
    for ((line, ts) <- reader) {
      if (t0Log < 0) { t0Log = ts; t0Sys = now() }
      // pacing: wait until (wall elapsed)×speedup reaches event offset
      var wait = ((ts - t0Log) / speedup - (now() - t0Sys)).toLong
      while (wait > 0) { sleep(math.max(wait, MinSleepMs)); wait =
        ((ts - t0Log) / speedup - (now() - t0Sys)).toLong }
      val out = AdaptTime.adapt(line, ts, adaptMode)
      val p = math.floorMod(out.hashCode, partitions)
      writeRecord(p, out, ts)
      events += 1
      lastTs = ts
      if (events % rotateEveryEvents == 0L) rotateSegments()
      if (now() - lastWmWall >= watermarkEveryMs ||
          events - lastWmEvents >= watermarkEveryEvents) {
        watermarkBase(ts).foreach(base => emitWatermark(adaptWm(base)))
        lastWmWall = now(); lastWmEvents = events
      }
      if (now() - lastStats >= statsEveryMs) {
        val rate = events * 1000.0 / math.max(1, now() - t0Sys)
        println(f"[replay] $events events, $rate%.0f ev/s, replay lag " +
          f"${(now() - t0Sys) - (ts - t0Log) / speedup}%.0f ms")
        lastStats = now()
      }
    }
    if (kinesis) {
      // drain: every submitted record acked (or failed) before the
      // final watermark; the caller keeps ownership of the writer.
      // A real semaphore wait, NOT the injected pacing sleep — bench
      // and specs inject a no-op sleep, which would turn a poll loop
      // into a core-burning spin alongside the measured producer.
      kinesisBundle._1.awaitDrained()
    }
    if (lastTs >= 0)
      watermarkBase(lastTs).foreach(base => emitWatermark(adaptWm(base)))
    if (!kinesis) syncWriters.close() // caller-owned writer stays open
    (events, reader.skippedLines)
  }
}
