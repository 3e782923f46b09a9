package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Arrival-wave staging for the file-stream harnesses: a query's
  * input is written as a few parquet files ("waves") and read back
  * through Structured Streaming's file source at one file per
  * trigger, so each wave is one micro-batch.
  *
  * The layout is the data contract of the order-sensitive harnesses
  * (first-arrival-wins dedup, watermark-driven joins and deferrals):
  *  - wave `i` is ONE `coalesce(1)` parquet file, `wave%03d.parquet`;
  *  - its mtime is (now − 60 s) + 2 s × i. The file source picks files
  *    up in modification-time order, so arrival order is the wave
  *    order and never hangs on write timing;
  *  - [[read]] admits one file per trigger.
  */
object FileWaves {

  /** Stage `waves` under `inDir` in the given order. Each wave is
    * written to a sibling scratch directory and its single part file
    * moved in; the writes overlap (see [[foreachBounded]]). */
  def write(inDir: String, waves: Seq[DataFrame]): Unit = {
    val in = new java.io.File(inDir); in.mkdirs()
    val base = System.currentTimeMillis() - 60000L
    foreachBounded(waves.zipWithIndex) { case (df, w) =>
      val tmp = s"$inDir-w$w"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(in, f"wave$w%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(base + w * 2000L)
    }
  }

  /** The streamed view of a wave directory: one wave per micro-batch. */
  def read(spark: SparkSession, schema: StructType, inDir: String)
      : DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)

  /** Three ascending range predicates on `c` splitting [lo, hi] at
    * lo + (hi − lo)/3 and lo + 2(hi − lo)/3 (integer division). */
  def thirds(c: Column, lo: Long, hi: Long): Seq[Column] = {
    val b1 = lo + (hi - lo) / 3; val b2 = lo + 2 * (hi - lo) / 3
    Seq(c <= b1, c > b1 && c <= b2, c > b2)
  }

  /** Max wave writes in flight: enough to fill the idle tail of one
    * single-file write, few enough not to exhaust a local[4] session's
    * executor heap (an unbounded version once took the shared test
    * context down with a fatal executor error). */
  private val MaxConcurrent = 2

  /** Run `f` over `xs`, at most [[MaxConcurrent]] at once. The wave
    * writes are independent Spark jobs; overlapping them changes only
    * the wall clock, not the files. Every element runs to completion
    * and the FIRST throwable is rethrown on the calling thread. Each
    * element gets a fresh thread created by the calling thread (never
    * a shared pool), so Spark's inheritable job properties —
    * description, job group, the cloned session — carry over. */
  private def foreachBounded[T](xs: Seq[T])(f: T => Unit): Unit = {
    if (xs.sizeIs <= 1) { xs.foreach(f); return }
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val gate = new java.util.concurrent.Semaphore(MaxConcurrent)
    val threads = xs.map { x =>
      new Thread(() =>
        try f(x)
        catch { case t: Throwable => failure.compareAndSet(null, t) }
        finally gate.release())
    }
    // acquire on the calling thread BEFORE start so no more than
    // MaxConcurrent threads are ever runnable at once
    threads.foreach { t => gate.acquire(); t.start() }
    threads.foreach(_.join())
    val t = failure.get()
    if (t != null) throw t
  }
}
