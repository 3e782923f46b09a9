package graft.util

import graft.SparkSessionSpec
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The arrival-wave layout every file-stream harness in SparkEntry
  * stages through, and the one input-size partition rule behind
  * BatchScale and StreamScale. */
class FileWavesSpec extends AnyFunSuite with SparkSessionSpec {

  private val sizes = Seq(5L, 7L, 11L)

  /** Three waves of distinct sizes over consecutive id ranges. */
  private def stage(prefix: String): String = {
    val inDir = s"${TempDirs.create(prefix)}/in"
    val starts = sizes.scanLeft(0L)(_ + _)
    FileWaves.write(inDir,
      sizes.indices.map(i => spark.range(starts(i), starts(i + 1)).toDF()))
    inDir
  }

  test("three staged waves are three single files with strictly ascending mtimes") {
    val files = new java.io.File(stage("graft-waves-layout")).listFiles()
      .sortBy(_.getName)
    assert(files.map(_.getName).toSeq ==
      Seq("wave000.parquet", "wave001.parquet", "wave002.parquet"))
    val mtimes = files.map(_.lastModified()).toSeq
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"mtimes not strictly ascending: $mtimes")
    assert(mtimes.last < System.currentTimeMillis())
  }

  test("an AvailableNow drain runs one micro-batch per wave, in wave order") {
    val inDir = stage("graft-waves-drain")
    val name = "graft_file_waves_spec"
    spark.catalog.dropTempView(name)
    val q = FileWaves.read(spark, spark.range(1).schema, inDir)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", s"$inDir-cp")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val rows = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(rows == sizes, s"per-batch input rows $rows")
    assert(spark.table(name).count() == sizes.sum)
    spark.catalog.dropTempView(name)
  }

  test("thirds keeps the inline tertile boundaries, divisible or not") {
    for ((lo, hi) <- Seq((0L, 499L), (0L, 500L), (0L, 10L), (3L, 17L),
        (-5L, 7L), (1000L, 1001L))) {
      val b1 = lo + (hi - lo) / 3; val b2 = lo + 2 * (hi - lo) / 3
      if (lo == 0L) assert((b1, b2) == (hi / 3, 2 * hi / 3))
      val Seq(p0, p1, p2) = FileWaves.thirds(col("id"), lo, hi)
      val got = spark.range(lo, hi + 1).select(col("id"),
        (when(p0, 1).otherwise(0) + when(p1, 1).otherwise(0) +
          when(p2, 1).otherwise(0)).as("hits"),
        when(p0, lit(0)).when(p1, lit(1)).when(p2, lit(2)).as("wave"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      val expected = (lo to hi).map(id =>
        (id, 1, if (id <= b1) 0 else if (id <= b2) 1 else 2))
      assert(got.toSeq == expected, s"lo=$lo hi=$hi")
    }
  }

  /** A directory holding one sparse file of `bytes` length. */
  private def sizedDir(bytes: Long): String = {
    val dir = TempDirs.create("graft-sizing")
    val f = new java.io.RandomAccessFile(s"$dir/data.bin", "rw")
    try f.setLength(bytes) finally f.close()
    dir
  }

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the sizing rule clamps at 2 and at the session value, for both scales") {
    val mb64 = InputPartitions.BytesPerPartition
    val tiny = sizedDir(1024L)
    val five = sizedDir(5 * mb64 - 1)
    def both(dir: String): (Int, Int) =
      (StreamScale.statePartitions(spark, dir),
        BatchScale.withInputScope(spark, Seq(dir)) {
          spark.conf.get(BatchScale.ConfKey).toInt
        })
    withConf("spark.sql.shuffle.partitions" -> "4") {
      assert(both(tiny) == ((2, 2)))
      assert(both(five) == ((4, 4)))
    }
    withConf("spark.sql.shuffle.partitions" -> "8") {
      assert(both(five) == ((5, 5)))
    }
  }

  test("a set spark.graft.* override wins over the derived count") {
    val tiny = sizedDir(1024L)
    withConf("spark.sql.shuffle.partitions" -> "4",
        StreamScale.ConfKey -> "7") {
      assert(StreamScale.statePartitions(spark, tiny) == 7)
      StreamScale.withStatePartitions(spark, tiny) {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      }
    }
    withConf("spark.sql.shuffle.partitions" -> "4",
        BatchScale.ConfKey -> "3") {
      BatchScale.withInputScope(spark, Seq(tiny)) {
        BatchScale.withLoopPartitions(spark) {
          assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
        }
      }
    }
  }

  test("a non-integer override fails with its key in the message") {
    val tiny = sizedDir(1024L)
    withConf(StreamScale.ConfKey -> "many") {
      val e = intercept[IllegalArgumentException](
        StreamScale.statePartitions(spark, tiny))
      assert(e.getMessage.contains(StreamScale.ConfKey), e.getMessage)
    }
    withConf(BatchScale.ConfKey -> "1.5") {
      val e = intercept[IllegalArgumentException](
        BatchScale.withLoopPartitions(spark)(()))
      assert(e.getMessage.contains(BatchScale.ConfKey), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      InputPartitions.parse(BatchScale.ConfKey, " "))
    assert(e.getMessage.contains(BatchScale.ConfKey), e.getMessage)
  }
}
