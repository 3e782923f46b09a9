package graft.replay

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSessionSpec
import graft.io.{EventCodec, KinesisHttpClient, PutRecordEntry}
import graft.sources.StubKinesisServer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Producer side of the Kinesis protocol: PutRecords through the
  * HTTP client — MD5 partition-key routing, explicit-hash-key
  * watermark broadcast to every shard (R6), KPL-shaped async
  * batching with per-record retry and TTL (R8) — and the full
  * producer→consumer protocol round trip back through the
  * kinesis-taxi source. */
class AsyncKinesisWriterSpec extends AnyFunSuite with SparkSessionSpec {

  private def bytes(s: String) = s.getBytes(StandardCharsets.UTF_8)

  private def withStub[A](srv: StubKinesisServer)(f: StubKinesisServer => A): A =
    try f(srv) finally srv.stop()

  test("putRecords routes by MD5(partitionKey) into shard hash ranges") {
    withStub(new StubKinesisServer(shardCount = 4)) { srv =>
      val client = new KinesisHttpClient(srv.endpoint)
      val keys = (1 to 40).map(i => s"key$i")
      val res = client.putRecords(srv.streamName,
        keys.map(k => PutRecordEntry(k, bytes(s"data-$k"))))
      assert(res.failedCount == 0)
      // client-side MD5 prediction matches the service's placement
      res.outcomes.zip(keys).foreach {
        case (Right((_, shardId)), k) =>
          assert(shardId == srv.shardIds(srv.shardForPartitionKey(k)),
            s"wrong shard for $k")
        case (Left(e), k) => fail(s"$k failed: $e")
      }
      // with 40 keys over 4 shards, MD5 spreads: no shard empty
      val used = res.outcomes.collect { case Right((_, s)) => s }.toSet
      assert(used.size == 4, s"MD5 routing left shards cold: $used")
    }
  }

  test("broadcastToAllShards lands one copy in EVERY shard (R6)") {
    withStub(new StubKinesisServer(shardCount = 3)) { srv =>
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName)
      try {
        val wm = """{"type": "watermark", "watermark": "2026-01-01T00:00:00Z"}"""
        assert(w.broadcastToAllShards("wm", bytes(wm)) == 3)
        // every shard holds exactly one copy, despite one partition key
        val client = new KinesisHttpClient(srv.endpoint)
        srv.shardIds.foreach { shard =>
          val it = client.getShardIterator(srv.streamName, shard, "TRIM_HORIZON")
          val got = client.getRecords(it, 100).records
          assert(got.size == 1 &&
            new String(got.head.data, "UTF-8") == wm, s"shard $shard: $got")
        }
      } finally w.close()
    }
  }

  test("async producer acks records; per-record throttling retried alone") {
    withStub(new StubKinesisServer(shardCount = 2)) { srv =>
      srv.failFirstPutForKeys = Set("key3", "key7")
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName,
        maxBatch = 10, flushMs = 20L)
      try {
        val futures = (1 to 10).map(i =>
          w.addRecord(s"key$i", bytes(s"d$i")))
        futures.foreach(_.get(10, java.util.concurrent.TimeUnit.SECONDS))
        assert(srv.recordCount == 10, "every record eventually landed")
      } finally w.close()
    }
  }

  test("whole-request failures retry bounded; TTL fails stale records") {
    withStub(new StubKinesisServer(shardCount = 1)) { srv =>
      srv.failNextPutRecords = 1
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint, maxRetries = 0),
        srv.streamName, maxBatch = 5, flushMs = 20L)
      try {
        val f = w.addRecord("k", bytes("d"))
        f.get(10, java.util.concurrent.TimeUnit.SECONDS)
        assert(srv.recordCount == 1)
      } finally w.close()

      // TTL: a clock jump makes the queued record stale before send
      var t = 1000L
      val w2 = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName,
        flushMs = 50L, ttlMs = 10L, now = () => t)
      try {
        t = 1000L
        val f2 = w2.addRecord("late", bytes("x"))
        t = 5000L // beyond ttl before the batch forms
        val e = intercept[java.util.concurrent.ExecutionException] {
          f2.get(10, java.util.concurrent.TimeUnit.SECONDS)
        }
        assert(e.getCause.isInstanceOf[java.util.concurrent.TimeoutException])
      } finally w2.close()
    }
  }

  test("unexpected response-handling failures fail futures, never strand them") {
    withStub(new StubKinesisServer(shardCount = 1)) { srv =>
      // a client whose putRecords blows up with a non-IOException (the
      // malformed-200-response shape): the batch must FAIL its futures
      // and the worker must survive for later batches
      val flaky = new KinesisHttpClient(srv.endpoint) {
        @volatile var boom = true
        override def putRecords(stream: String,
            records: Seq[PutRecordEntry]): graft.io.PutRecordsResult =
          if (boom) { boom = false; throw new NullPointerException("bad resp") }
          else super.putRecords(stream, records)
      }
      val w = new AsyncKinesisWriter(flaky, srv.streamName, flushMs = 20L)
      try {
        val f1 = w.addRecord("k1", bytes("d1"))
        val e = intercept[java.util.concurrent.ExecutionException] {
          f1.get(10, java.util.concurrent.TimeUnit.SECONDS)
        }
        assert(e.getCause.isInstanceOf[java.io.IOException])
        // worker alive: the next record goes through normally
        val f2 = w.addRecord("k2", bytes("d2"))
        f2.get(10, java.util.concurrent.TimeUnit.SECONDS)
        assert(srv.recordCount == 1)
      } finally w.close()
    }
    withStub(new StubKinesisServer(shardCount = 1)) { srv =>
      // a FATAL error kills the worker — every outstanding and future
      // record must fail fast instead of hanging the caller's drain
      val fatal = new KinesisHttpClient(srv.endpoint) {
        override def putRecords(stream: String,
            records: Seq[PutRecordEntry]): graft.io.PutRecordsResult =
          throw new LinkageError("fatal")
      }
      val w = new AsyncKinesisWriter(fatal, srv.streamName, flushMs = 20L)
      val f1 = w.addRecord("k1", bytes("d1"))
      val e = intercept[java.util.concurrent.ExecutionException] {
        f1.get(10, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(e.getCause.isInstanceOf[java.io.IOException])
      // submissions after worker death fail too — no silent strand
      val f2 = w.addRecord("k2", bytes("d2"))
      val e2 = intercept[java.util.concurrent.ExecutionException] {
        f2.get(10, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(e2.getCause.isInstanceOf[java.io.IOException])
    }
  }

  test("StreamPopulator publishes over the protocol: pacing, R6 broadcast, drain") {
    withStub(new StubKinesisServer(shardCount = 3)) { srv =>
      val fixture = "/root/repo/src/test/resources/trips_tiny.jsonl"
      val inDir = Files.createTempDirectory("kin-replay-in")
      Files.copy(java.nio.file.Paths.get(fixture),
        inDir.resolve("trips.jsonl"))
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName,
        maxBatch = 5, flushMs = 10L)
      try {
        val pop = new StreamPopulator(inDir.toString,
          outputDir = Files.createTempDirectory("kin-replay-unused").toString,
          speedup = 1e12, sleep = _ => (), statsEveryMs = Long.MaxValue,
          kinesisSink = Some(w))
        val (events, skipped) = pop.populate()
        assert(events == 15 && skipped == 1)
        assert(pop.failedWrites == 0 && pop.failedControlLines == 0)

        // every replayed line (12 trips + the fixture's 3 control
        // lines, routed by payload hash) landed exactly once, plus
        // the FINAL watermark broadcast: one identical generated
        // copy in EVERY shard (R6), ordered after the drain
        val client = new KinesisHttpClient(srv.endpoint)
        val byShard = srv.shardIds.map { shard =>
          val it = client.getShardIterator(srv.streamName, shard, "TRIM_HORIZON")
          shard -> client.getRecords(it, 1000).records
            .map(r => new String(r.data, "UTF-8"))
        }.toMap
        val all = byShard.values.flatten.toSeq
        assert(all.size == 15 + 3, s"15 lines + 3 broadcast copies: ${all.size}")
        val lastPerShard = srv.shardIds.map(s => byShard(s).last)
        assert(lastPerShard.toSet.size == 1,
          s"broadcast copies must be identical: $lastPerShard")
        assert(lastPerShard.head.startsWith("""{"type": "watermark""""))
        // exactly one broadcast copy per shard, nowhere else
        assert(all.count(_ == lastPerShard.head) == 3)
      } finally w.close()
    }
  }

  test("full reference architecture: replay -> protocol -> streaming Q1") {
    withStub(new StubKinesisServer(shardCount = 2)) { srv =>
      val fixture = "/root/repo/src/test/resources/trips_tiny.jsonl"
      val inDir = Files.createTempDirectory("kin-e2e-in")
      Files.copy(java.nio.file.Paths.get(fixture),
        inDir.resolve("trips.jsonl"))
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName, flushMs = 10L)
      try {
        new StreamPopulator(inDir.toString,
          outputDir = Files.createTempDirectory("kin-e2e-unused").toString,
          speedup = 1e12, sleep = _ => (), statsEveryMs = Long.MaxValue,
          kinesisSink = Some(w)).populate()
      } finally w.close()

      import graft.streaming.StreamingTaxi
      StreamingTaxi.configureStreamingSession(spark)
      val cpA = Files.createTempDirectory("kin-e2e-cpA").toString
      val cpB = Files.createTempDirectory("kin-e2e-cpB").toString
      val viaKinesis = EventCodec.strictTyped(
        spark.readStream.format("kinesis-taxi")
          .option("endpoint", srv.endpoint)
          .option("stream", srv.streamName).load())
      val qa = StreamingTaxi.runToMemory(
        StreamingTaxi.q1(StreamingTaxi.tripStream(viaKinesis)),
        "kin_e2e_q1", cpA)
      val viaFile = StreamingTaxi.fromJsonFiles(spark, inDir.toString)
      val qb = StreamingTaxi.runToMemory(
        StreamingTaxi.q1(StreamingTaxi.tripStream(viaFile)),
        "file_e2e_q1", cpB)
      qa.awaitTermination(); qb.awaitTermination()
      val a = spark.table("kin_e2e_q1").collect().map(_.toSeq).toSet
      val b = spark.table("file_e2e_q1").collect().map(_.toSeq).toSet
      assert(a == b, s"replayed-protocol Q1 diverged: a=$a b=$b")
    }
  }

  test("protocol round trip: producer replay in, kinesis-taxi source out") {
    withStub(new StubKinesisServer(shardCount = 2)) { srv =>
      val fixture = "/root/repo/src/test/resources/trips_tiny.jsonl"
      val lines = {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(java.nio.file.Paths.get(fixture)).asScala.toVector
      }
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName,
        maxBatch = 7, flushMs = 10L)
      try {
        // partition key = payload hash, the reference's choice (R8)
        val fs = lines.map(l => w.addRecord(l.hashCode.toString, bytes(l)))
        fs.foreach(_.get(10, java.util.concurrent.TimeUnit.SECONDS))
      } finally w.close()

      val back = spark.read.format("kinesis-taxi")
        .option("endpoint", srv.endpoint)
        .option("stream", srv.streamName)
        .load()
      val viaCodec = EventCodec.parseEvents(
        spark.read.text(fixture).toDF("value"), strict = false)
      val a = back.orderBy("trip_id", "watermark")
        .collect().map(_.toSeq).toSeq
      val b = viaCodec.orderBy("trip_id", "watermark")
        .collect().map(_.toSeq).toSeq
      assert(a == b, "producer->consumer protocol round trip must be lossless")
    }
  }

  test("KPL aggregation: packs per predicted shard, routing preserved") {
    withStub(new StubKinesisServer(shardCount = 3)) { srv =>
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName,
        flushMs = 5000L, // one big drain → real packing
        aggregate = true)
      val keys = (1 to 60).map(i => s"agg-key-$i")
      try {
        val fs = keys.map(k => w.addRecord(k, bytes(s"payload-$k")))
        fs.foreach(_.get(10, java.util.concurrent.TimeUnit.SECONDS))
      } finally w.close()
      // far fewer wire records than user records
      assert(srv.recordCount < keys.size / 2,
        s"aggregation produced ${srv.recordCount} wire records " +
          s"for ${keys.size} user records")
      // every wire record is an aggregated pack, every member sits in
      // the shard its OWN partition key routes to
      (0 until 3).foreach { shard =>
        srv.storedRecords(shard).foreach { stored =>
          assert(graft.io.KplAggregation.isAggregated(stored.data))
          val Right(members) =
            graft.io.KplAggregation.deaggregate(stored.data)
          members.foreach(m =>
            assert(srv.shardForPartitionKey(m.partitionKey) == shard,
              s"${m.partitionKey} mis-routed into shard $shard"))
        }
      }
      // and nothing was lost or duplicated across the packs
      val all = (0 until 3).flatMap(srv.storedRecords(_)).flatMap(s =>
        graft.io.KplAggregation.deaggregate(s.data).toOption.get)
      assert(all.map(_.partitionKey).sorted == keys.sorted)
    }
  }

  test("KPL aggregation round trip: aggregated replay in, source out") {
    withStub(new StubKinesisServer(shardCount = 2)) { srv =>
      val fixture = "/root/repo/src/test/resources/trips_tiny.jsonl"
      val lines = {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(java.nio.file.Paths.get(fixture)).asScala.toVector
      }
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName,
        flushMs = 5000L, aggregate = true)
      try {
        val fs = lines.map(l => w.addRecord(l.hashCode.toString, bytes(l)))
        fs.foreach(_.get(10, java.util.concurrent.TimeUnit.SECONDS))
      } finally w.close()
      assert((0 until 2).flatMap(srv.storedRecords(_))
        .exists(s => graft.io.KplAggregation.isAggregated(s.data)),
        "no aggregated record reached the stub")
      val back = spark.read.format("kinesis-taxi")
        .option("endpoint", srv.endpoint)
        .option("stream", srv.streamName)
        .load()
      val viaCodec = EventCodec.parseEvents(
        spark.read.text(fixture).toDF("value"), strict = false)
      val a = back.orderBy("trip_id", "watermark")
        .collect().map(_.toSeq).toSeq
      val b = viaCodec.orderBy("trip_id", "watermark")
        .collect().map(_.toSeq).toSeq
      assert(a == b,
        "aggregated producer->consumer round trip must be lossless")
    }
  }

  test("KPL aggregation: oversized records ship plain; corrupt packs skipped") {
    withStub(new StubKinesisServer(shardCount = 1)) { srv =>
      val w = new AsyncKinesisWriter(
        new KinesisHttpClient(srv.endpoint), srv.streamName,
        flushMs = 5000L, aggregate = true, maxAggBytes = 256)
      try {
        val big = w.addRecord("big", Array.fill[Byte](600)('x'))
        val small = (1 to 4).map(i => w.addRecord(s"s$i", bytes("tiny")))
        (big +: small).foreach(
          _.get(10, java.util.concurrent.TimeUnit.SECONDS))
      } finally w.close()
      val stored = srv.storedRecords(0)
      val (agg, plain) =
        stored.partition(s => graft.io.KplAggregation.isAggregated(s.data))
      assert(plain.exists(_.data.length == 600),
        "oversized record did not ship plain")
      assert(agg.nonEmpty, "small records were not packed")

      // a corrupt pack is skipped with a warning, siblings still parse:
      // store one valid trip line plain, plus a corrupt aggregated blob
      val line = """{"type": "trip", "trip_id": 91001, """ +
        """"pickup_datetime": "2026-01-01T00:00:00.000Z", """ +
        """"dropoff_datetime": "2026-01-01T00:10:00.000Z", """ +
        """"pickup_lat": 40.75, "pickup_lon": -73.98, """ +
        """"dropoff_lat": 40.76, "dropoff_lon": -73.97, """ +
        """"total_amount": 10.0}"""
      val good = graft.io.KplAggregation.aggregate(Seq(
        graft.io.KplAggregation.UserRecord("pk", None, bytes(line))))
      val corrupt = good.clone()
      corrupt(good.length - 1) = (corrupt(good.length - 1) ^ 0x7F).toByte
      srv.putRecordBytes(corrupt, "corrupt")
      srv.putRecordBytes(good, "good")
      val back = spark.read.format("kinesis-taxi")
        .option("endpoint", srv.endpoint)
        .option("stream", srv.streamName)
        .load()
      // exactly ONE trip surfaces: the valid pack's; the corrupt pack
      // is skipped whole (not half-parsed, not a crash)
      assert(back.filter(col("trip_id") === 91001L).count() == 1)
    }
  }
}
