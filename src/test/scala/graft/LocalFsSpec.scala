package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileAlreadyExistsException, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** The `file:` file system of every graft session
  * ([[graft.sources.NioRawLocalFileSystem]]) must fork no shell on the
  * streaming and staging paths, and must keep Hadoop's own
  * `RawLocalFileSystem` semantics (modes, symlinks, missing paths,
  * overwriting renames). Each parity test runs against both.
  */
class LocalFsSpec extends SparkSpecBase {
  private val FileUri = URI.create("file:///")

  test("sessions resolve file: to the java.nio FileSystem and AbstractFileSystem") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(FileUri, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(FileUri, conf).asInstanceOf[NioLocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    assert(AbstractFileSystem.get(FileUri, conf).isInstanceOf[NioLocalFs])
  }

  test("streaming dedup, a slice write and an atomic checkpoint file fork no shell") {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      SparkEntry.queries("q_stream_dedup")(spark, Sf)
        .write.format("noop").mode("overwrite").save()
      val dir = tempDir("fork_guard")
      SparkEntry.writeSliceFile(spark.range(100).toDF("event_id"), dir, "s.parquet",
        System.currentTimeMillis())
      val fm = new FileContextBasedCheckpointFileManager(new Path(dir.toUri),
        spark.sessionState.newHadoopConf())
      val out = fm.createAtomic(new Path(dir.toUri.resolve("atomic")), true)
      out.write(1)
      out.close()
      assert(Files.size(dir.resolve("atomic")) == 1)
    } finally rec.stop()
    val jfr = Files.createTempFile("graft_fork_guard", ".jfr")
    rec.dump(jfr)
    rec.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
    Files.delete(jfr)
    val viaShell = starts.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName
        .startsWith("org.apache.hadoop.util.Shell"))))
    assert(viaShell.isEmpty, s"${viaShell.size} of ${starts.size} process starts " +
      s"went through Hadoop's Shell, e.g. ${viaShell.take(3).map(_.getString("command"))}")
  }

  private def rawFs(nio: Boolean): RawLocalFileSystem = {
    val fs = if (nio) new NioRawLocalFileSystem else new RawLocalFileSystem
    fs.initialize(FileUri, new Configuration())
    fs
  }

  private def fileContext(nio: Boolean): FileContext = {
    val conf = new Configuration()
    val afs = if (nio) new NioLocalFs(FileUri, conf) else AbstractFileSystem.get(FileUri, conf)
    FileContext.getFileContext(afs, conf)
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** The full mode bits (sticky included) as the kernel reports them. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0x0fff

  for ((label, nio) <- Seq("RawLocalFileSystem" -> false, "NioRawLocalFileSystem" -> true)) {
    test(s"$label: default umask gives 0644 files and 0755 dirs; setPermission reads back") {
      val fs = rawFs(nio)
      val root = tempDir("localfs")
      val file = new Path(root.resolve("f").toString)
      val dir = new Path(root.resolve("d").toString)
      fs.create(file).close()
      assert(fs.mkdirs(dir))
      assert(mode(root.resolve("f")) == Integer.parseInt("644", 8))
      assert(mode(root.resolve("d")) == Integer.parseInt("755", 8))
      for ((p, m) <- Seq(root.resolve("f") -> "600", root.resolve("d") -> "750",
          root.resolve("f") -> "644")) {
        fs.setPermission(new Path(p.toString), perm(m))
        assert(mode(p) == Integer.parseInt(m, 8))
        assert(fs.getFileStatus(new Path(p.toString)).getPermission == perm(m))
      }
      // the sticky bit is beyond java.nio: it must still reach the kernel
      fs.setPermission(dir, perm("1777"))
      assert(mode(root.resolve("d")) == Integer.parseInt("1777", 8))
      assert(fs.getFileStatus(dir).getPermission.getStickyBit)
      fs.setPermission(dir, perm("755"))
      assert(mode(root.resolve("d")) == Integer.parseInt("755", 8))
    }

    test(s"$label: symlinks report their target; missing paths throw FileNotFoundException") {
      val fs = rawFs(nio)
      val root = tempDir("localfs")
      val target = Files.write(root.resolve("target"), "x".getBytes(UTF_8))
      val link = Files.createSymbolicLink(root.resolve("link"), target)
      val ls = fs.getFileLinkStatus(new Path(link.toString))
      assert(ls.isSymlink)
      assert(ls.getSymlink.toUri.getPath == target.toString)
      val plain = fs.getFileLinkStatus(new Path(target.toString))
      assert(!plain.isSymlink && plain.isFile && plain.getLen == 1)
      assert(fs.getFileLinkStatus(new Path(root.toString)).isDirectory)
      val missing = new Path(root.resolve("missing").toString)
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      intercept[IOException](fs.setPermission(missing, perm("644")))
    }

    test(s"$label: FileContext.rename with OVERWRITE replaces the target") {
      val fc = fileContext(nio)
      val root = tempDir("localfs")
      val src = Files.write(root.resolve("src"), "new".getBytes(UTF_8))
      val dst = Files.write(root.resolve("dst"), "old".getBytes(UTF_8))
      fc.rename(new Path(src.toUri), new Path(dst.toUri), Options.Rename.OVERWRITE)
      assert(!Files.exists(src))
      assert(new String(Files.readAllBytes(dst), UTF_8) == "new")
      val again = Files.write(root.resolve("again"), "x".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](
        fc.rename(new Path(again.toUri), new Path(dst.toUri)))
    }
  }
}
