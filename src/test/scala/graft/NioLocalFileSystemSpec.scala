package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.funsuite.AnyFunSuite

import graft.util.NioLocalFileSystem

/** The daemon's local file system (`Main.sessionConf`): chmod's modes
  * without the chmod process, checksums as before, and a checkpoint
  * manager whose writes start no child process. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission gives chmod's POSIX modes on files and directories") {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem() // chmod (exec or libhadoop)
    stock.initialize(URI.create("file:///"), conf)
    val nio = new NioLocalFileSystem.Raw()
    nio.initialize(URI.create("file:///"), conf)
    val dir = Files.createTempDirectory("nio_perm")
    for (octal <- Seq("600", "644", "700", "755", "777"); isDir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val (a, b) = (dir.resolve(s"stock_${octal}_$isDir"), dir.resolve(s"nio_${octal}_$isDir"))
      Seq(a, b).foreach(p => if (isDir) Files.createDirectory(p) else Files.createFile(p))
      stock.setPermission(new Path(a.toUri), perm)
      nio.setPermission(new Path(b.toUri), perm)
      assert(mode(b) == mode(a), s"mode $octal, directory=$isDir")
      assert(mode(b) == perm.toString, s"mode $octal, directory=$isDir")
    }
  }

  test(".crc sidecars are written and a flipped data byte fails the read") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem])
    val dir = Files.createTempDirectory("nio_crc")
    val file = new Path(dir.resolve("data.bin").toUri)
    val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    val out = fs.create(file)
    try out.write(payload) finally out.close()
    assert(Files.exists(dir.resolve(".data.bin.crc")), "no .crc sidecar")
    val in = fs.open(file)
    val back = new Array[Byte](payload.length)
    try in.readFully(back) finally in.close()
    assert(back.sameElements(payload))

    val raf = new RandomAccessFile(dir.resolve("data.bin").toFile, "rw")
    try { raf.seek(1000); raf.write(payload(1000) ^ 0x01) } finally raf.close()
    val bad = fs.open(file)
    try intercept[ChecksumException](bad.readFully(new Array[Byte](payload.length)))
    finally bad.close()
  }

  test("Main.sessionConf: file:/// is NioLocalFileSystem, checkpoints use the FileSystem manager") {
    // the FileSystem cache is per scheme, not per conf: a stock
    // LocalFileSystem cached before the session existed would win here
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(URI.create("file:///"), new Configuration())
      .isInstanceOf[NioLocalFileSystem])
    val dir = new Path(Files.createTempDirectory("nio_cfm").toUri)
    assert(CheckpointFileManager.create(dir, conf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("50 checkpoint createAtomic writes start no child process") {
    // the state store's maintenance thread deletes old RocksDB dirs with
    // `rm -rf` on its own schedule; stop it so only these writes run
    StateStore.stop()
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(Files.createTempDirectory("nio_fork").toUri)
    val fm = CheckpointFileManager.create(new Path(dir, "offsets"), conf)
    fm.mkdirs(new Path(dir, "offsets"))
    val seen = new ConcurrentHashMap[Long, String]()
    val polling = new AtomicBoolean(true)
    val poller = new Thread(() => {
      while (polling.get()) {
        ProcessHandle.current().descendants().iterator().asScala.foreach { p =>
          seen.putIfAbsent(p.pid(), p.info().command().orElse("?"))
        }
      }
    })
    poller.setDaemon(true)
    poller.start()
    try {
      for (i <- 0 until 50) {
        val out = fm.createAtomic(new Path(dir, s"offsets/$i"), false)
        out.write(s"v1\n{}\n$i".getBytes("UTF-8"))
        out.close()
      }
    } finally { polling.set(false); poller.join() }
    assert((0 until 50).forall(i => fm.exists(new Path(dir, s"offsets/$i"))))
    assert(seen.size == 0, s"child processes: ${seen.values.asScala.toSeq.distinct}")
  }
}
