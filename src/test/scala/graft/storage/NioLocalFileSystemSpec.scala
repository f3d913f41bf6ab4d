package graft.storage

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[NioLocalFileSystem]]: the engine's storage operations start no
  * process, and what they write keeps Hadoop's permissions, checksums
  * and byte statistics. */
class NioLocalFileSystemSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val LocalUri = URI.create("file:///")

  /** Every process the work in `body` started — on the calling thread
    * or in a Spark task — with the frames that started it. Spark's own
    * background threads (heartbeat metrics, the cleaner of discarded
    * sessions' artifact directories) start processes of their own, on
    * a clock of their own, and are left out. */
  private def processesStarted(body: => Unit): Seq[(String, Seq[String])] = {
    val caller = Thread.currentThread.getName
    def ours(t: jdk.jfr.consumer.RecordedThread) = t != null && (
      t.getJavaName == caller ||
        t.getJavaName.startsWith("Executor task launch worker"))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("process_start", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(e => ours(e.getThread))
        .map(e => e.getString("command") -> Option(e.getStackTrace).toSeq
          .flatMap(_.getFrames.asScala).map(f =>
            f.getMethod.getType.getName + "." + f.getMethod.getName))
    } finally { rec.close(); Files.delete(out) }
  }

  private def local(p: Path) = Paths.get(p.toUri.getPath)

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(local(p)))

  test("a managed write, captured merge and delete, matview create and " +
      "refresh, and a checkpoint write start no process, also after plain " +
      "Spark cached Hadoop's own local file system") {
    // Hadoop's defaults, and the instance a plain read caches under them
    // (Hive's ProxyLocalFileSystem when its jar is on the class path):
    // what a JVM holds before its first engine call
    val hc = spark.sparkContext.hadoopConfiguration
    hc.unset("fs.file.impl")
    hc.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    FileSystem.get(LocalUri, hc).close()
    val plain = tempDir("nio_plain") + "/t"
    Seq(1, 2).toDF("x").write.parquet(plain)
    assert(spark.read.parquet(plain).count() == 2L)
    assert(!FileSystem.get(LocalUri, hc).isInstanceOf[NioLocalFileSystem])
    // Hadoop's Shell starts one process when its class loads: load it
    // before counting
    assert(!org.apache.hadoop.util.Shell.WINDOWS)

    val src = tempDir("nio_src") + "/src"
    val view = tempDir("nio_view") + "/v"
    val checkpoint = new Path(tempDir("nio_cp"), "offsets")
    val started = processesStarted {
      val st = new BasicStorage(spark)
      st.write(Seq((1L, "a", 1.0), (2L, "a", 5.0), (3L, "b", 2.0))
        .toDF("id", "k", "v"), src, "delta", "overwrite")
      MatView.create(spark, st, src, view, Seq("k"), "v")
      st.merge(Seq((2L, "a", 6.0), (4L, "b", 7.0)).toDF("id", "k", "v"),
        src, "full.id = incremental.id", captureChanges = true)
      assert(Delete.where(spark, st, src, "id = 1",
        captureChanges = true) == 1L)
      assert(MatView.refresh(spark, st, view).mode == "incremental")
      val cp = CheckpointFileManager.create(checkpoint,
        spark.sessionState.newHadoopConf())
      assert(cp.isInstanceOf[FileContextBasedCheckpointFileManager])
      cp.mkdirs(checkpoint)
      val out = cp.createAtomic(new Path(checkpoint, "0"),
        overwriteIfPossible = false)
      out.write(1)
      out.close()
    }
    assert(started.isEmpty, s"processes started: $started")
    assert(FileSystem.get(LocalUri, hc).isInstanceOf[NioLocalFileSystem])
    assert(mode(new Path(checkpoint, "0")) == "rw-r--r--")
  }

  test("created files read back 0644 and directories 0755 under the " +
      "default umask 022; a status's permission, owner and group are " +
      "java.nio's") {
    val dir = new Path(tempDir("nio_perm"), "d/e")
    val fs = Fs.fileSystem(spark, dir)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(FsPermission.getUMask(spark.sessionState.newHadoopConf())
      .toShort == Integer.parseInt("022", 8))
    assert(fs.mkdirs(dir))
    val file = new Path(dir, "f.txt")
    Fs.writeText(spark, file.toString, "x")
    assert(mode(file) == "rw-r--r--")
    assert(mode(dir) == "rwxr-xr-x" && mode(dir.getParent) == "rwxr-xr-x")
    fs.setPermission(file, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(mode(file) == "rw-r-----")
    val statuses = Seq(fs.getFileStatus(file), fs.getFileStatus(dir),
      fs.listStatus(dir).head, fs.listStatus(file).head)
    for (st <- statuses) {
      val a = Files.readAttributes(local(st.getPath),
        classOf[PosixFileAttributes])
      assert(st.getPermission.toString ==
        PosixFilePermissions.toString(a.permissions), st.getPath)
      assert(st.getOwner == a.owner.getName && st.getGroup == a.group.getName)
    }
  }

  test("Hadoop's file statistics count every byte written, checksums included") {
    val file = new Path(tempDir("nio_stats"), "f.txt")
    def written = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getThreadStatistics.getBytesWritten).sum
    val before = written
    Fs.writeText(spark, file.toString, "x" * 1000)
    val crc = new Path(file.getParent, ".f.txt.crc")
    val onDisk = Seq(file, crc).map(p => Files.size(local(p))).sum
    assert(onDisk > 1000L)
    assert(written - before == onDisk)
  }
}
