package graft.replay

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** R7 (+ R5 in its real form): the asynchronous producer plumbing
  * that the Kinesis replay path runs on — the backpressure semaphore
  * and the genuine un-acked low-watermark tracker. The Kinesis writer
  * itself (R8, record TTL, drain and per-shard final watermark) is
  * covered by [[AsyncKinesisWriterSpec]]. */
class AsyncReplaySpec extends AnyFunSuite {

  test("watermark tracker advances only past the un-acked low watermark (R5)") {
    val t = new WatermarkTracker
    Seq(100L, 200L, 300L).foreach(t.track)
    assert(t.watermark == Long.MinValue) // nothing acked yet
    t.complete(200L) // 100 still in flight -> no advance
    assert(t.watermark == Long.MinValue && t.inFlightCount == 2)
    t.complete(100L) // oldest acked -> watermark = 100
    assert(t.watermark == 100L)
    t.complete(300L) // nothing in flight -> watermark = 300
    assert(t.watermark == 300L)
    // duplicate timestamps: both must ack before the wm passes them
    Seq(400L, 400L, 500L).foreach(t.track)
    t.complete(400L)
    assert(t.watermark == 400L) // 400 <= remaining {400, 500} head
    t.complete(500L)
    assert(t.watermark == 400L) // 400 still in flight blocks 500
    t.complete(400L)
    assert(t.watermark == 500L)
  }

  test("watermark tracker invariants hold under random interleavings (property)") {
    // deterministic pseudo-random interleavings modelling the real
    // producer: submissions arrive in non-decreasing event time (the
    // replay reader is event-time-ordered, like the reference's
    // trip_id-ordered stream) while completions ack in ARBITRARY
    // order (async writers race). After every step: (1) the watermark
    // never exceeds an un-acked event's timestamp, (2) the watermark
    // is monotone non-decreasing.
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val t = new WatermarkTracker
      val inFlight = scala.collection.mutable.ArrayBuffer.empty[Long]
      var lastWm = Long.MinValue
      var clock = 0L
      for (_ <- 1 to 200) {
        if (inFlight.isEmpty || rnd.nextBoolean()) {
          clock += rnd.nextInt(5)
          t.track(clock); inFlight += clock
        } else {
          val i = rnd.nextInt(inFlight.size)
          val ts = inFlight.remove(i)
          t.complete(ts)
        }
        val wm = t.watermark
        val minInFlight = inFlight.minOption
        assert(minInFlight.forall(wm <= _),
          s"watermark $wm passed un-acked event $minInFlight")
        assert(wm >= lastWm, s"watermark regressed $lastWm -> $wm")
        lastWm = wm
      }
    }
  }

  test("backpressure semaphore bounds outstanding records (R7)") {
    val gate = new CountDownLatch(1)
    // the completion side: one thread, blocked behind the gate, that
    // acks each submitted record in order (as a writer thread would)
    val acks = Executors.newSingleThreadExecutor()
    acks.execute(() => gate.await())
    val sem = new BackpressureSemaphore(2)
    val submitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val producer = new Thread(() => (1 to 5).foreach { _ =>
      sem.acquire()
      submitted.incrementAndGet()
      acks.execute(() => sem.release())
    })
    producer.start()
    // the producer must stall at exactly maxOutstanding submissions
    Thread.sleep(300)
    assert(submitted.get() == 2, "producer was not backpressured at 2")
    assert(sem.outstanding == 2)
    gate.countDown() // acks drain -> permits release -> producer finishes
    producer.join(5000)
    assert(!producer.isAlive && submitted.get() == 5)
    sem.awaitDrained()
    assert(sem.outstanding == 0)
    acks.shutdown()
    assert(acks.awaitTermination(5, TimeUnit.SECONDS))
  }
}
