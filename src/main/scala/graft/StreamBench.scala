package graft

import java.nio.file.Files

import graft.io.EventCodec
import graft.replay.StreamPopulator
import graft.sources.SyntheticTrips
import graft.streaming.StreamingTaxi
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** B3 streaming bench (BASELINE.md): derive the wire-format event
  * stream at the given SF, replay it through the producer into
  * partition files, then run streaming Q1 AND Q2 concurrently over
  * the replayed partitions (the reference runs both windowed
  * analytics in one job, ProcessTaxiStream.java:96-136; fan-out
  * decision in graft.app.ProcessTaxiStream) and report sustained
  * events/s plus per-query max micro-batch duration (the
  * consumer-lag SLO analogue). One JSON line on stdout.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    graft.util.HostLoad.record()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StreamingTaxi.configureStreamingSession(spark)

    // SPARK_GRAFT_STREAM_MODE=kinesis replays through the PutRecords
    // producer into an in-process protocol stub and streams both
    // queries through the kinesis-taxi source — the B3 measurement
    // with the protocol path in place of the file path (BASELINE.md
    // records both; the delta IS the protocol overhead).
    // SPARK_GRAFT_STREAM_MODE=kinesis-reshard is the protocol
    // measurement ACROSS a mid-stream reshard: half the events land
    // on the original 8 shards, then shard 0 is SPLIT and shards
    // 1+2 MERGED (the two lineage shapes), the remaining half lands
    // on the post-reshard topology, and both queries consume the
    // whole stream through the parent-before-children source —
    // BASELINE.md's r15-brief row pricing the reshard lineage.
    val mode = sys.env.getOrElse("SPARK_GRAFT_STREAM_MODE", "file")
    val wireDir = graft.util.TempDirs.create("wire")
    val replayDir = graft.util.TempDirs.create("replay")
    val cpDir = graft.util.TempDirs.create("cp")

    // wire-format JSONL of the SF's synthetic trip stream
    EventCodec.toJsonLines(SyntheticTrips.fromEvents(spark, sfDir))
      .coalesce(4).write.mode("overwrite").text(wireDir)

    val stub =
      if (mode.startsWith("kinesis"))
        Some(new graft.sources.StubKinesisServer(
          streamName = "bench", shardCount = 8))
      else None

    // replay (R1/R3/R6) at max speed: 8 partition files, or the
    // 8-shard protocol stream via the KPL-shaped producer
    val t0 = System.nanoTime()
    var reshardJson = ""
    val events = stub match {
      case Some(srv) if mode == "kinesis-reshard" =>
        // split the wire EVENTS into two halves around the reshard
        // (file-count splits are skew-prone: coalesce can leave
        // empty partitions and stack every event on one side)
        val parts = new java.io.File(wireDir).listFiles()
          .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        val lines = parts.toVector.flatMap { f =>
          val s = scala.io.Source.fromFile(f)
          try s.getLines().toVector finally s.close()
        }
        val wireA = graft.util.TempDirs.create("wireA")
        val wireB = graft.util.TempDirs.create("wireB")
        val (la, lb) = lines.splitAt(lines.length / 2)
        Files.write(java.nio.file.Paths.get(wireA, "half-a.jsonl"),
          la.mkString("\n").getBytes("UTF-8"))
        Files.write(java.nio.file.Paths.get(wireB, "half-b.jsonl"),
          lb.mkString("\n").getBytes("UTF-8"))
        def replayHalf(dir: String): Long = {
          val w = new graft.replay.AsyncKinesisWriter(
            new graft.io.KinesisHttpClient(srv.endpoint),
            srv.streamName)
          try new StreamPopulator(dir, replayDir,
            partitions = 8, speedup = 1e12, sleep = _ => (),
            statsEveryMs = Long.MaxValue,
            kinesisSink = Some(w)).populate()._1
          finally w.close()
        }
        val pre = replayHalf(wireA)
        val before = srv.allShardIds.size
        val t = System.nanoTime()
        val open = srv.allShardIds
        srv.splitShard(open(0))
        srv.mergeShards(open(1), open(2))
        val reshardMs = (System.nanoTime() - t) / 1e6
        val post = replayHalf(wireB)
        reshardJson =
          s""""reshard":{"splits":1,"merges":1,""" +
            s""""shards_open_before":$before,""" +
            s""""shards_listed_after":${srv.allShardIds.size},""" +
            s""""events_pre":$pre,"events_post":$post,""" +
            s""""reshard_ms":$reshardMs},"""
        pre + post
      case Some(srv) =>
        val w = new graft.replay.AsyncKinesisWriter(
          new graft.io.KinesisHttpClient(srv.endpoint), srv.streamName)
        try new StreamPopulator(wireDir, replayDir,
          partitions = 8, speedup = 1e12, sleep = _ => (),
          statsEveryMs = Long.MaxValue, kinesisSink = Some(w)).populate()._1
        finally w.close()
      case None =>
        new StreamPopulator(wireDir, replayDir,
          partitions = 8, speedup = 1e12, sleep = _ => (),
          statsEveryMs = Long.MaxValue).populate()._1
    }
    val replaySec = (System.nanoTime() - t0) / 1e9

    // streaming Q1 + Q2 concurrently over the replayed partitions
    // (2 files per batch per query) or the 8 protocol shards — each
    // query keeps its own source read, watermark and state, the
    // production fan-out shape
    def stream = stub match {
      case Some(srv) => EventCodec.strictTyped(
        spark.readStream.format("kinesis-taxi")
          .option("endpoint", srv.endpoint)
          .option("stream", srv.streamName).load())
      case None => EventCodec.parseEvents(
        spark.readStream.option("maxFilesPerTrigger", "2")
          .text(s"$replayDir/*.jsonl").toDF("value"))
    }

    // Absorb one-time streaming warmup (incremental-plan codegen,
    // RocksDB state-store init, file-source listing) OUTSIDE the
    // measured loop — the same policy Bench.scala applies to batch.
    // Without this, batch 0 of the measured run carries ~3 s of JVM
    // warmup that belongs to no event (r7 measured batch 0 at 4.9 s
    // vs a 2.0 s steady state; at 96k events that skews the headline
    // ~25%, and the metric claims SUSTAINED events/s). A 200-line
    // slice through the identical q1/q2 plans compiles the same code
    // paths at negligible cost.
    try {
      val warmCp = graft.util.TempDirs.create("warmcp")
      // 200 wire lines through the mode's own source type, so the
      // warmed incremental plan is the measured one
      val src = new java.io.File(wireDir).listFiles()
        .filter(_.getName.startsWith("part-")).minBy(_.getName)
      val lines = scala.io.Source.fromFile(src)
      val slice = try lines.getLines().take(200).toVector finally lines.close()
      val (warmStub, warmStream) = stub match {
        case Some(_) =>
          val ws = new graft.sources.StubKinesisServer(
            streamName = "warm", shardCount = 2)
          slice.zipWithIndex.foreach { case (l, i) =>
            ws.putRecord(l, shard = Some(i % 2))
          }
          (Some(ws), () => EventCodec.strictTyped(
            spark.readStream.format("kinesis-taxi")
              .option("endpoint", ws.endpoint)
              .option("stream", ws.streamName).load()))
        case None =>
          val warmDir = graft.util.TempDirs.create("warm")
          Files.write(java.nio.file.Paths.get(warmDir, "warm.jsonl"),
            String.join("\n", slice: _*).getBytes("UTF-8"))
          (None, () => EventCodec.parseEvents(
            spark.readStream.text(s"$warmDir/*.jsonl").toDF("value")))
      }
      try {
        val w1 = StreamingTaxi.writer(
            StreamingTaxi.q1(StreamingTaxi.tripStream(warmStream())),
            s"$warmCp/q1", Trigger.AvailableNow())
          .format("memory").queryName("warm_q1").start()
        val w2 = StreamingTaxi.writer(
            StreamingTaxi.q2(StreamingTaxi.tripStream(warmStream())),
            s"$warmCp/q2", Trigger.AvailableNow())
          .format("memory").queryName("warm_q2").start()
        w1.awaitTermination(); w2.awaitTermination()
      } finally warmStub.foreach(_.stop())
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[stream-bench] warmup failed: ${e.getMessage}")
    }

    val t1 = System.nanoTime()
    val query1 = StreamingTaxi.writer(
        StreamingTaxi.q1(StreamingTaxi.tripStream(stream)),
        s"$cpDir/q1", Trigger.AvailableNow())
      .format("memory").queryName("bench_q1").start()
    val query2 = StreamingTaxi.writer(
        StreamingTaxi.q2(StreamingTaxi.tripStream(stream)),
        s"$cpDir/q2", Trigger.AvailableNow())
      .format("memory").queryName("bench_q2").start()
    query1.awaitTermination()
    query2.awaitTermination()
    val streamWallSec = (System.nanoTime() - t1) / 1e9

    def stats(q: org.apache.spark.sql.streaming.StreamingQuery) = {
      val p = q.recentProgress.toSeq
      // SPARK_GRAFT_VERBOSE=1: per-batch progress JSON to stderr —
      // the diagnostic view (addBatch vs planning vs state commit)
      // behind the one-line summary.
      if (sys.env.get("SPARK_GRAFT_VERBOSE").contains("1"))
        p.foreach(pr => System.err.println(s"[stream-bench] ${pr.json}"))
      (p.map(_.numInputRows).sum, p.size,
        p.map(_.durationMs.getOrDefault("triggerExecution", 0L).toLong)
          .maxOption.getOrElse(0L))
    }
    val (rows1, batches1, maxMs1) = stats(query1)
    val (rows2, batches2, maxMs2) = stats(query2)
    // events/s = source events fully processed by BOTH queries per
    // wall second (the job-level SLO view, not a per-query sum)
    val evPerSec = math.min(rows1, rows2) / streamWallSec
    println(s"""{"metric":"stream_events_per_sec","value":$evPerSec,""" +
      reshardJson +
      s""""unit":"events/sec","replay_events":$events,""" +
      s""""replay_sec":$replaySec,"stream_wall_sec":$streamWallSec,""" +
      s""""q1_rows":$rows1,"q1_batches":$batches1,"q1_max_batch_ms":$maxMs1,""" +
      s""""q2_rows":$rows2,"q2_batches":$batches2,"q2_max_batch_ms":$maxMs2,""" +
      s""""mode":"$mode","sf":"$sfDir",${graft.util.HostLoad.jsonFragment()}}""")
    stub.foreach(_.stop())
    spark.stop()
  }
}
