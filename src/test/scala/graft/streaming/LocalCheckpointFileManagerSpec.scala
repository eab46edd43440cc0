package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, HDFSMetadataLog}

import graft.SparkSpec

class LocalCheckpointFileManagerSpec extends SparkSpec {

  /** A metadata log as streaming queries keep them, with its manager and
    * batch-file filter in reach.
    */
  private class Log(session: SparkSession, dir: NioPath)
      extends HDFSMetadataLog[String](session, dir.toString) {
    def manager: CheckpointFileManager = fileManager
    def batchFiles: PathFilter = batchFilesFilter
    def batchPath(batchId: Long): Path = batchIdToPath(batchId)
  }

  private def tempDir(): NioPath = Files.createTempDirectory("graft-checkpoint")

  private def names(dir: NioPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def manager(dir: NioPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def file(dir: NioPath, name: String): Path = new Path(new Path(dir.toUri), name)

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try {
      out.write(text.getBytes(UTF_8))
      out.close()
    } catch { case e: Throwable => out.cancel(); throw e }
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** A session whose logs go through Spark's default manager. */
  private def defaultSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    s
  }

  test("the suite session writes metadata logs through this manager, without checksum files") {
    val dir = tempDir()
    val log = new Log(spark, dir)
    assert(log.manager.isInstanceOf[LocalCheckpointFileManager])
    assert(log.add(0, "zero"))
    assert(log.get(0).contains("zero"))
    assert(names(dir) == Set("0"))
  }

  test("a no-clobber createAtomic on an existing file throws Hadoop's FileAlreadyExistsException") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = file(dir, "0")
    write(fm, p, "first", overwrite = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel()
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0"), "the losing writer's temp file must not stay behind")
  }

  test("an overwriting createAtomic replaces the file") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = file(dir, "metadata")
    write(fm, p, "first", overwrite = true)
    write(fm, p, "second", overwrite = true)
    assert(read(fm, p) == "second")
    assert(names(dir) == Set("metadata"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val dir = tempDir()
    val fm = manager(dir)
    val p = file(dir, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(_.endsWith(".tmp")), "the write goes to a temp file first")
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("Spark's batch-file filter does not list an in-flight temp file") {
    val dir = tempDir()
    val log = new Log(spark, dir)
    assert(log.add(0, "zero"))
    val out = log.manager.createAtomic(log.batchPath(1), overwriteIfPossible = false)
    try {
      out.write("one".getBytes(UTF_8))
      assert(names(dir).size == 2)
      assert(log.manager.list(log.metadataPath, log.batchFiles).map(_.getPath.getName).toSeq == Seq("0"))
      assert(log.getLatestBatchId().contains(0L))
    } finally out.cancel()
  }

  test("a log written by Spark's default manager reads back unchanged, and back again") {
    val dir = tempDir()
    val defaults = defaultSession()
    val old = new Log(defaults, dir)
    assert(old.manager.isInstanceOf[FileContextBasedCheckpointFileManager])
    (0 until 3).foreach(i => assert(old.add(i, s"batch $i")))
    assert(names(dir).count(_.endsWith(".crc")) == 3, s"expected checksum siblings: ${names(dir)}")

    val log = new Log(spark, dir)
    assert(log.getLatest().contains(2L -> "batch 2"))
    assert(log.get(None, None).toSeq == (0 until 3).map(i => i.toLong -> s"batch $i"))
    assert(log.manager.list(log.metadataPath).forall(!_.getPath.getName.endsWith(".crc")))
    // continue the log here: the new batch gets no checksum, purged
    // batches lose theirs
    assert(log.add(3, "batch 3"))
    log.purge(2)
    assert(names(dir) == Set("2", ".2.crc", "3"))

    val back = new Log(defaults, dir)
    assert(back.get(None, None).toSeq == Seq(2L -> "batch 2", 3L -> "batch 3"))
  }

  test("an overwrite drops the stale checksum, so a checksummed reader sees the new bytes") {
    val dir = tempDir()
    val p = file(dir, "metadata")
    val checksummed = new FileContextBasedCheckpointFileManager(p, new Configuration())
    write(checksummed, p, "written with a checksum", overwrite = true)
    assert(names(dir).contains(".metadata.crc"))
    write(manager(dir), p, "rewritten", overwrite = true)
    assert(names(dir) == Set("metadata"))
    assert(read(checksummed, p) == "rewritten")
  }

  test("delete of a missing path does not throw, and delete of a directory is recursive") {
    val dir = tempDir()
    val fm = manager(dir)
    fm.delete(file(dir, "missing"))
    val sub = file(dir, "state")
    fm.mkdirs(sub)
    write(fm, new Path(sub, "1.delta"), "x", overwrite = false)
    fm.delete(sub)
    assert(names(dir).isEmpty)
  }
}
