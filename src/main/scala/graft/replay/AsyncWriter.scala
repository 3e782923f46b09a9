package graft.replay

import java.util.concurrent.Semaphore

/** R7: fair semaphore bounding the number of outstanding asynchronous
  * records (BackpressureSemaphore.java:24-51 — same contract: acquire
  * one permit per submitted record on the producer thread, release on
  * completion of the record's future, fairness so the producer is not
  * starved by completion bursts). */
class BackpressureSemaphore(val maxOutstanding: Int) {
  private val sem = new Semaphore(maxOutstanding, true)
  def acquire(): Unit = sem.acquire()
  def release(): Unit = sem.release()
  def outstanding: Int = maxOutstanding - sem.availablePermits()

  /** Block until every outstanding permit is released (a true wait on
    * the semaphore, not a poll — call only after submissions stop). */
  def awaitDrained(): Unit = {
    sem.acquire(maxOutstanding)
    sem.release(maxOutstanding)
  }
}

/** R5 in its real (asynchronous) form: the low watermark of un-acked
  * events (WatermarkTracker.java:137-177). Events are tracked on
  * submission; on completion, the watermark advances to the completed
  * event's timestamp ONLY if it is at or below every timestamp still
  * in flight — i.e. the watermark is always ≤ the event time of any
  * record that may still complete — and catches up to the newest
  * completion once the in-flight set drains.
  *
  * Contract: SUBMISSIONS are expected in non-decreasing event time
  * (the replay reader is event-time-ordered, as is the reference's
  * trip_id-ordered stream); completions may ack in any order. An
  * emitted watermark is a promise — a producer that later submits an
  * older event has made that event late, exactly as with Flink/Spark
  * watermarks. [[StreamPopulator]]'s synchronous file writes need no
  * tracker (every written record is durable, so the low watermark is
  * the last written timestamp); its Kinesis path exercises the
  * genuine ordering. */
class WatermarkTracker {
  private val inFlight = scala.collection.mutable.TreeMap.empty[Long, Int]
  private var maxCompleted = Long.MinValue
  private var wm = Long.MinValue

  def track(ts: Long): Unit = synchronized {
    inFlight.updateWith(ts) { c => Some(c.getOrElse(0) + 1) }
  }

  def complete(ts: Long): Unit = synchronized {
    inFlight.updateWith(ts) { c => c.map(_ - 1).filter(_ > 0) }
    maxCompleted = math.max(maxCompleted, ts)
    // an empty in-flight set means EVERY tracked event is acked — the
    // watermark catches up to the newest completion (an out-of-order
    // older ack must not pin it down forever); otherwise it advances
    // only on completions at or below the oldest still-in-flight event
    wm =
      if (inFlight.isEmpty) maxCompleted
      else if (ts <= inFlight.firstKey) math.max(wm, ts)
      else wm
  }

  /** Long.MinValue until the first completion. */
  def watermark: Long = synchronized(wm)
  def inFlightCount: Int = synchronized(inFlight.valuesIterator.sum)
}
