package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Sinks
import graft.streaming.Replay

/** graft's local file I/O forks no process: a replay (checkpoint logs
  * and state-store files), a keyed-overwrite load (parquet files,
  * `.crc` files, partition directories) and a `Tables` read of what it
  * wrote (the schema cache lists the leaf files) run with no Hadoop
  * `Shell` child, counted by JFR rather than timed. And [[LocalFs.Raw]] sets
  * exactly the mode bits stock `RawLocalFileSystem` sets. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()

  private def inTmpDir[T](prefix: String)(body: NioPath => T): T = {
    val d = Files.createTempDirectory(prefix)
    try body(d) finally FileUtils.deleteDirectory(d.toFile)
  }

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  test("Engine.session's file: filesystem is graft.LocalFs, checksummed") {
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[LocalFs])
    val local = fs.asInstanceOf[LocalFs]
    assert(local.getRaw.isInstanceOf[LocalFs.Raw])
    assert(local.getVerifyChecksum, ".crc verification must stay on")
  }

  test("a replay, a keyed-overwrite load and a table read start no Hadoop Shell process") {
    import spark.implicits._
    spark.range(1).count() // session and Hadoop's Shell class are up
    inTmpDir("localfsspec") { out =>
      val rec = new Recording()
      rec.enable("jdk.ThreadStart").withStackTrace()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val (counted, loaded) = try {
        // a stateful replay: offset and commit logs, state-store files
        val counted = Replay.withShuffle4(spark) {
          Replay.run(spark, "localfsspec_replay", "update",
            Replay.thirdsRedelivered((1L to 30L).toSeq))(
            _.toDF("x").groupBy((col("x") % 3).as("k")).count())(
            sink => Replay.latestBy(sink.collect())(_.getLong(0))
              .map(_.getLong(1)).sum)
        }
        val path = out.resolve("keyed").toString
        Sinks.KeyedOverwriteSink.write(
          (1 to 12).map(i => (i % 3, s"v$i")).toDF("k", "v"), path, "k")
        // a table read lists its leaf files for the schema cache's key
        Files.move(out.resolve("keyed"), out.resolve("keyed.parquet"))
        Tables(spark, out.toString, "keyed")
        (counted, Tables(spark, out.toString, "keyed").count())
      } finally rec.stop()
      val jfr = out.resolve("shell.jfr")
      rec.dump(jfr)
      rec.close()
      assert(counted == 40 && loaded == 12)
      val events = RecordingFile.readAllEvents(jfr).asScala.toSeq
      assert(events.exists(e => e.getEventType.getName == "jdk.ThreadStart" &&
        frames(e).exists(_.startsWith("org.apache.spark.sql.execution.streaming"))),
        "the recording missed the replay's own stream thread")
      val shells = events.filter(
        e => frames(e).exists(_.startsWith("org.apache.hadoop.util.Shell")))
      assert(shells.isEmpty, s"${shells.size} Shell events, first: " +
        shells.headOption.map(e =>
          s"${e.getEventType.getName} ${frames(e).take(12).mkString(" < ")}"))
    }
  }

  test("LocalFs.Raw sets the mode bits stock RawLocalFileSystem sets, sticky bit included") {
    val conf = new Configuration()
    val ours = new LocalFs.Raw
    ours.initialize(URI.create("file:///"), conf)
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), conf)
    def mode(p: NioPath): Int =
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
    // the sticky bit (01777) only means something on a directory
    val cases = for (octal <- Seq("600", "640", "644", "700", "750", "755", "777", "1777");
                     isDir <- Seq(false, true) if isDir || octal != "1777")
      yield (octal, isDir)
    inTmpDir("localfsspec_perm") { dir =>
      for ((octal, isDir) <- cases) {
        val what = s"$octal on a ${if (isDir) "directory" else "file"}"
        val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
        val Seq(a, b) = Seq("ours", "stock").map { who =>
          val p = dir.resolve(s"${who}_${octal}_$isDir")
          if (isDir) Files.createDirectory(p) else Files.createFile(p)
        }
        ours.setPermission(new Path(a.toUri), perm)
        stock.setPermission(new Path(b.toUri), perm)
        assert(Files.getPosixFilePermissions(a) == Files.getPosixFilePermissions(b), what)
        assert(mode(a) == mode(b), what)
        assert(mode(a) == Integer.parseInt(octal, 8), what)
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(a)) ==
          perm.toString.take(9).replace('t', 'x'), what)
      }
      // a create's mode carries its unmasked mode too; the masked one is set
      val created = FsCreateModes.create(new FsPermission(Integer.parseInt("644", 8).toShort),
        new FsPermission(Integer.parseInt("666", 8).toShort))
      val Seq(a, b) = Seq("ours", "stock").map(who => Files.createFile(dir.resolve(s"${who}_create")))
      ours.setPermission(new Path(a.toUri), created)
      stock.setPermission(new Path(b.toUri), created)
      assert(mode(a) == mode(b) && mode(a) == Integer.parseInt("644", 8), created.toString)
    }
  }
}
