package graft.util

import org.apache.spark.sql.SparkSession

/** Scale-adaptive state-partition sizing for the file-wave streaming
  * harnesses (optimization guide §2.2: derive partition counts from
  * input size, never from a constant tuned to one box).
  *
  * A streaming query pins its keyed-state partition count at START
  * from `spark.sql.shuffle.partitions` and keeps it for the query's
  * lifetime (it is recorded in the checkpoint's OffsetSeqMetadata) —
  * AQE never coalesces it. The bench session sets
  * `spark.sql.shuffle.partitions` to the CORE count, which is the
  * right default for batch shuffles at bench scale but a pure
  * overhead multiplier for streaming state: every micro-batch pays
  * one state-store commit (delta file create + write + rename on the
  * checkpoint dir) PER PARTITION PER STORE, and a stream-stream join
  * carries four stores per partition. Measured on q187 (sf0.1,
  * local[32]): 128 store instances, 71–118 s of summed commit time
  * per micro-batch for ~66 k input rows — the trigger loop was
  * ~90 % state-commit bookkeeping, ~10 % join work.
  *
  * The honest production sizing follows STATE SIZE, not core count:
  * one partition per 64 MB of buffered input ([[InputPartitions]]),
  * exactly like sizing shuffle partitions to 100 MB–1 GB blocks
  * (§2.2). At
  * 100 TB/day ingest the same formula lands in the thousands of
  * partitions; on a 20 MB bench wave set it lands at the floor. Both
  * are right for their scale, so the knob is derived per query from
  * the wave directory it is about to stream, clamped to never exceed
  * the session's batch setting, and overridable via
  * `spark.graft.stream.statePartitions` (set by ops, not hard-coded).
  */
object StreamScale {

  /** Conf key overriding the derived count (set by ops). */
  val ConfKey = "spark.graft.stream.statePartitions"

  /** State-partition count for a streaming query fed from `inputDir`:
    * the [[ConfKey]] override if set, else the [[InputPartitions]]
    * rule over the directory's bytes. */
  def statePartitions(spark: SparkSession, inputDir: String): Int =
    spark.conf.getOption(ConfKey).map(InputPartitions.parse(ConfKey, _))
      .getOrElse(InputPartitions.count(spark, Seq(inputDir)))

  /** Run `f` (which must START the streaming queries — a stream
    * CLONES the session conf at start and keeps it) with
    * `spark.sql.shuffle.partitions` set per [[statePartitions]];
    * the session value is restored before returning, so the
    * surrounding batch plan shapes are untouched. */
  def withStatePartitions[T](spark: SparkSession, inputDir: String)
      (f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions(spark, inputDir).toString)
    try f
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
