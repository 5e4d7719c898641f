package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** [[NioRawLocalFileSystem]] behaves as Hadoop's stock
  * [[RawLocalFileSystem]] on the same directory, and a checkpointing
  * stateful query on it forks no process. */
class NioLocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val nio = initialized(new NioRawLocalFileSystem)

  private def tempDir(): JPath = Files.createTempDirectory("graft-niofs")
  private def hpath(p: JPath): Path = new Path(p.toString)
  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Minor page faults of this process's reaped children, the 11th field
    * of /proc/self/stat (index 10 counting from 0): it rises with every
    * child process the JVM spawns and waits for, and with nothing else. */
  private def cminflt(): Long = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    // fields after the parenthesized command name start at field 3
    stat.substring(stat.lastIndexOf(')') + 2).split(' ')(8).toLong
  }

  /** Collects what earlier specs left unreachable and waits until cminflt
    * has stood still for a second: Spark's ArtifactManager deletes a
    * collected session's artifact directory with a forked `rm -rf` on the
    * JVM's Cleaner thread, whenever GC gets to it. */
  private def quiesceChildren(): Unit = {
    System.gc()
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    var (last, stableSince) = (cminflt(), System.nanoTime())
    while (System.nanoTime() - stableSince < 1000L * 1000 * 1000 &&
      System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = cminflt()
      if (now != last) { last = now; stableSince = System.nanoTime() }
    }
  }

  test("setPermission: modes 0600/0644/0700/0755 give the stock bits") {
    val dir = tempDir()
    for (mode <- Seq("600", "644", "700", "755")) {
      val (a, b) = (dir.resolve(s"stock-$mode"), dir.resolve(s"nio-$mode"))
      Files.write(a, Array[Byte](1)); Files.write(b, Array[Byte](1))
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      stock.setPermission(hpath(a), perm)
      nio.setPermission(hpath(b), perm)
      assert(perms(b) == perms(a), s"mode $mode")
      assert(perms(b) == perm.toString.substring(0, 9), s"mode $mode")
    }
  }

  test("a sticky-bit mode still goes through the stock chmod") {
    val dir = Files.createDirectory(tempDir().resolve("sticky"))
    nio.setPermission(hpath(dir), new FsPermission(Integer.parseInt("1755", 8).toShort))
    // NIO cannot set the sticky bit; only the stock chmod can have set it
    val mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1755", 8),
      f"mode $mode%o")
  }

  test("getFileLinkStatus: file, directory and symlink match stock; " +
    "a missing path throws FileNotFoundException") {
    val dir = tempDir()
    val file = Files.write(dir.resolve("f"), "twelve bytes".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    for (p <- Seq(file, sub, link)) {
      val (s, n) = (stock.getFileLinkStatus(hpath(p)), nio.getFileLinkStatus(hpath(p)))
      assert((n.isSymlink, n.isDirectory, n.getLen) ==
        (s.isSymlink, s.isDirectory, s.getLen), s"$p")
    }
    assert(nio.getFileLinkStatus(hpath(link)).isSymlink)
    val missing = hpath(dir.resolve("missing"))
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
  }

  test("FileContext rename without OVERWRITE onto an existing file still fails") {
    val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val dir = tempDir()
    val (a, b) = (dir.resolve("a"), dir.resolve("b"))
    Files.write(a, "a".getBytes); Files.write(b, "b".getBytes)
    intercept[FileAlreadyExistsException](fc.rename(hpath(a), hpath(b)))
    fc.rename(hpath(a), hpath(b), Options.Rename.OVERWRITE)
    assert(!Files.exists(a) && new String(Files.readAllBytes(b)) == "a")
  }

  test("a checkpointing stateful query spawns no process; its checkpoint " +
    "keeps .crc files, 0644 modes and checksum verification") {
    assume(Files.isReadable(Paths.get("/proc/self/stat")), "no /proc/self/stat")
    assume(!NativeCodeLoader.isNativeCodeLoaded,
      "libhadoop is loaded: the stock filesystem does not fork either")
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the probe fires: one stock chmod is one reaped child
    val probe = Files.write(tempDir().resolve("probe"), Array[Byte](1))
    val beforeStock = cminflt()
    stock.setPermission(hpath(probe), new FsPermission(Integer.parseInt("644", 8).toShort))
    assert(cminflt() > beforeStock, "a forked chmod must raise cminflt")
    // Spark's executor heartbeat forks `getconf PAGESIZE` once per JVM, when
    // it first initializes its process-tree metrics reader; do that here,
    // outside the measured window
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")

    val ckpt = tempDir().resolve("ckpt")
    val mem = MemoryStream[(Long, Int)]
    val q = mem.toDF().toDF("ms", "k")
      .select(timestamp_millis($"ms").as("ts"), $"k", $"ms")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "5 seconds"), $"k")
      .agg(min($"ms"))
      .writeStream.format("noop")
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      mem.addData((1700000000000L, 0))
      q.processAllAvailable()
      quiesceChildren()
      val before = cminflt()
      for (i <- 1 to 5) {
        mem.addData((1700000000000L + i * 1000L, i % 3))
        q.processAllAvailable()
      }
      assert(cminflt() - before == 0L, "micro-batches spawned child processes")
    } finally q.stop()

    val offsets = ckpt.resolve("offsets").resolve("3")
    assert(Files.exists(ckpt.resolve("offsets").resolve(".3.crc")))
    assert(Files.exists(ckpt.resolve("commits").resolve(".3.crc")))
    assert(perms(offsets) == "rw-r--r--")
    val stateFiles = Files.walk(ckpt.resolve("state")).iterator().asScala
      .map(_.getFileName.toString).toSet
    // the delta, Hadoop's .crc of it, and Spark's own checksum file
    assert(Set("4.delta", ".4.delta.crc", "4.delta.crc").subsetOf(stateFiles),
      s"state files: $stateFiles")

    // a flipped byte in a committed offsets file fails the checksummed
    // FileSystem read; the FileContext view reads it as Hadoop's stock
    // LocalFs does (ChecksumFs does not verify on this path)
    val bytes = Files.readAllBytes(offsets)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(offsets, bytes)
    val conf = spark.sparkContext.hadoopConfiguration
    intercept[ChecksumException] {
      val in = FileSystem.get(URI.create("file:///"), conf).open(hpath(offsets))
      try in.readAllBytes() finally in.close()
    }
    def viaFileContext(c: Configuration): Seq[Byte] = {
      val in = FileContext.getFileContext(c).open(hpath(offsets))
      try in.readAllBytes().toSeq finally in.close()
    }
    assert(viaFileContext(conf) == viaFileContext(new Configuration()))
  }

  // last: it stops the shared session this spec's `spark` is bound to
  test("GraftSession.local puts both file: lookups on the NIO classes") {
    SparkSpec.releaseContext()
    val s = GraftSession.local("2")
    try {
      val conf = s.sparkContext.hadoopConfiguration
      assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    } finally SparkSpec.releaseContext()
  }
}
