package graft.util

import org.apache.spark.sql.SparkSession

/** The one input-size partition rule behind [[BatchScale]] (the
  * batch kernels' round loops) and [[StreamScale]] (the file-wave
  * harnesses' keyed state), per optimization guide §2.2: derive
  * partition counts from input size, never from a constant tuned to
  * one box.
  */
object InputPartitions {

  /** Target input bytes per partition — the §2.2 "100 MB–1 GB per
    * shuffle partition" rule at its low end, because loop rounds
    * re-shuffle their working frame and state rows outlive a batch. */
  val BytesPerPartition: Long = 64L * 1024 * 1024

  /** Floor: two partitions, so a single straggler or slow store never
    * serializes a round or a batch, and the plan keeps its exchange. */
  val MinPartitions = 2

  private def pathBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  /** Partition count for input under `paths`:
    * ceil(total bytes / [[BytesPerPartition]]) clamped to
    * [[[MinPartitions]], session `spark.sql.shuffle.partitions`]. */
  def count(spark: SparkSession, paths: Seq[String]): Int = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bytes = paths.map(pathBytes).sum
    val want = ((bytes + BytesPerPartition - 1) / BytesPerPartition).toInt
    math.min(math.max(want, MinPartitions), math.max(cur, 1))
  }

  /** An override value as a partition count (clamped to >= 1).
    * Anything unparseable fails here with its key named, rather than
    * later as an invalid shuffle-partitions setting. */
  def parse(key: String, v: String): Int =
    try math.max(v.trim.toInt, 1)
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$v'")
    }
}
