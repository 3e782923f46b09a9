package graft.io

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files => JFiles}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** The unchecksummed local file system under its own scheme, `rawtest:`
  * (Hadoop instantiates it by name). */
class RawTestFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("rawtest:///")
}

/** [[LocalCheckpointFileManager]] writes what Spark's default manager
  * writes on `file:` paths, and hands other schemes to that manager. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def tempDir(): File =
    JFiles.createTempDirectory("local-cfm").toFile

  private def manager(dir: File, conf: Configuration = new Configuration())
      : CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toURI), conf)

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def names(dir: File): Set[String] = dir.list().toSet

  private val payload: Array[Byte] = Array.tabulate(1500)(i => (i % 251).toByte)

  test("close() publishes the file; cancel() leaves no file") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = new Path(new File(dir, "1").toURI)

    val out = fm.createAtomic(p, false)
    out.write(payload)
    assert(!fm.exists(p), "published before close()")
    out.close()
    assert(read(fm, p).sameElements(payload))
    assert(names(dir) == Set("1", ".1.crc"))

    val q = new Path(new File(dir, "2").toURI)
    val cancelled = fm.createAtomic(q, false)
    cancelled.write(payload)
    cancelled.cancel()
    assert(names(dir) == Set("1", ".1.crc"))
  }

  test("create over an existing file fails without overwrite and replaces with it") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = new Path(new File(dir, "commit").toURI)
    write(fm, p, payload)

    intercept[FileAlreadyExistsException](write(fm, p, Array[Byte](1, 2, 3)))
    assert(read(fm, p).sameElements(payload))

    write(fm, p, Array[Byte](1, 2, 3), overwrite = true)
    assert(read(fm, p).sameElements(Array[Byte](1, 2, 3)))
  }

  test("a .crc sidecar is written and one corrupted byte fails the read") {
    val dir = tempDir()
    val fm = manager(dir)
    val f = new File(dir, "0.changelog")
    val p = new Path(f.toURI)
    write(fm, p, payload)
    assert(new File(dir, ".0.changelog.crc").isFile)

    val raf = new RandomAccessFile(f, "rw")
    try { raf.seek(700); raf.write(payload(700) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](read(fm, p))
    assert(f.isFile, "the corrupted file was moved away")
  }

  test("file and directory modes equal those of Spark's default manager") {
    val conf = new Configuration()
    def tree(fm: CheckpointFileManager, root: File): Map[String, String] = {
      val sub = new Path(new File(root, "state/0").toURI)
      fm.mkdirs(sub)
      write(fm, new Path(sub, "1.changelog"), payload)
      def walk(f: File): Seq[File] =
        f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      walk(new File(root, "state")).map { f =>
        root.toPath.relativize(f.toPath).toString ->
          PosixFilePermissions.toString(JFiles.getPosixFilePermissions(f.toPath))
      }.toMap
    }
    val spark = tempDir()
    val ours = tempDir()
    val expected = tree(CheckpointFileManager.create(
      new Path(spark.toURI), conf), spark)
    assert(expected.keySet == Set("state", "state/0", "state/0/1.changelog",
      "state/0/.1.changelog.crc"))
    assert(tree(manager(ours, conf), ours) == expected)
  }

  test("a path on another file system gets Spark's default manager") {
    val conf = new Configuration()
    conf.set("fs.rawtest.impl", classOf[RawTestFileSystem].getName)
    conf.setBoolean("fs.rawtest.impl.disable.cache", true)
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(
      new Path(s"rawtest://${dir.getAbsolutePath}"), conf)
    write(fm, new Path(s"rawtest://${dir.getAbsolutePath}/0"), payload)
    // written through the unchecksummed file system: no .crc sidecar
    assert(names(dir) == Set("0"))
    assert(JFiles.readAllBytes(new File(dir, "0").toPath).sameElements(payload))
  }
}
