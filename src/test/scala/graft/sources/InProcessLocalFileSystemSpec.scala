package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.{PlatformProvider, SparkTestBase}

/** The `file:` filesystem production sessions run on: permissions are set
  * without starting a `chmod` process, and every mode reads back as the
  * stock filesystem would leave it.
  */
class InProcessLocalFileSystemSpec extends SparkTestBase {
  import spark.implicits._

  /** Commands of the processes this JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_fs_spec", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  /** `chmod` commands among `cmds` that touch a path under `dir` (suites
    * running alongside may start their own processes).
    */
  private def chmodsUnder(cmds: Seq[String], dir: String): Seq[String] =
    cmds.filter(c => c.startsWith("chmod") && c.contains(dir))

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def localFs: FileSystem =
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)

  test("the test session runs the local filesystem PlatformProvider ships") {
    val impl = PlatformProvider.defaults("spark.hadoop.fs.file.impl")
    impl shouldBe classOf[InProcessLocalFileSystem].getName
    spark.sparkContext.hadoopConfiguration.get("fs.file.impl") shouldBe impl
    // FileSystem.getLocal casts to LocalFileSystem: the class must stay one
    localFs shouldBe a[InProcessLocalFileSystem]
    localFs shouldBe a[LocalFileSystem]
  }

  test("a partitioned parquet write starts no chmod process") {
    val out = Files.createTempDirectory("graft_fs_nofork").resolve("t").toString
    val df = (0 until 400).map(i => (i.toLong, s"2024-01-${"%02d".format(i % 10 + 1)}"))
      .toDF("id", "day").repartition(4)
    val cmds = processStarts(df.write.partitionBy("day").parquet(out))
    // the write landed: 10 partitions, with files in them
    val parts = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("day=")).toSeq
    parts should have size 10
    chmodsUnder(cmds, out) shouldBe empty
  }

  test("written files and directories get the stock modes: 0644 and 0755") {
    val root = Files.createTempDirectory("graft_fs_modes")
    val out = root.resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(out)
    val (dirs, files) = Files.walk(Paths.get(out)).iterator().asScala.toSeq
      .partition(Files.isDirectory(_))
    files.map(_.getFileName.toString).exists(_.endsWith(".parquet")) shouldBe true
    files.map(_.getFileName.toString).exists(_.endsWith(".crc")) shouldBe true
    // the same calls on the stock filesystem (Hadoop's own umask, 022 by
    // default, applies to both)
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val stockDir = new Path(root.resolve("stock/d").toString)
    stock.mkdirs(stockDir, FsPermission.getDirDefault
      .applyUMask(FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)))
    stock.create(new Path(stockDir, "f")).close()
    stock.close()
    val stockDirMode = mode(Paths.get(stockDir.toUri.getPath))
    val stockFileMode = mode(Paths.get(stockDir.toUri.getPath, "f"))
    (stockDirMode, stockFileMode) shouldBe ((octal("755"), octal("644")))
    dirs.map(mode).distinct shouldBe Seq(stockDirMode)
    files.map(mode).distinct shouldBe Seq(stockFileMode)
  }

  test("explicit modes read back exactly; a sticky-bit mode takes the stock chmod") {
    val root = Files.createTempDirectory("graft_fs_explicit")
    val fs = localFs
    val file = new Path(root.resolve("f").toString)
    val dir = new Path(root.resolve("d").toString)
    val sticky = new Path(root.resolve("s").toString)
    fs.create(file).close()
    fs.mkdirs(dir)
    fs.mkdirs(sticky)
    val cmds = processStarts {
      fs.setPermission(file, new FsPermission(octal("600").toShort))
      fs.setPermission(dir, new FsPermission(octal("750").toShort))
      fs.setPermission(sticky, new FsPermission(octal("1750").toShort))
    }
    mode(root.resolve("f")) shouldBe octal("600")
    mode(root.resolve("d")) shouldBe octal("750")
    // java.nio has no sticky bit: only the stock path can have set it
    mode(root.resolve("s")) shouldBe octal("1750")
    chmodsUnder(cmds, root.toString).map(_.split(" ").take(2).mkString(" ")) shouldBe
      Seq("chmod 1750")
  }
}
