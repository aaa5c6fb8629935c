package graft

import graft.fs.{NioLocalFs, NioRawLocalFileSystem}
import graft.pipeline.{EnvelopePipeline => EP}
import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft's `file:` FileContext ([[NioLocalFs]]) against Hadoop's own
  * `RawLocalFileSystem`, and the streaming checkpoint writes it serves.
  */
class LocalFsSpec extends AnyFunSuite {
  private def initialized[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val nio = initialized(new NioRawLocalFileSystem)
  private lazy val hadoop = initialized(new RawLocalFileSystem)

  /** A file (0640, 5 bytes), a directory, a link to the file, a dangling
    * link and a path that does not exist. */
  private def fixture(): Map[String, java.nio.file.Path] = {
    val root = Files.createTempDirectory("graft-localfs")
    val file = Files.writeString(root.resolve("file"), "hello")
    Files.setPosixFilePermissions(file, PosixFilePermissions.fromString("rw-r-----"))
    Map("file" -> file,
      "dir" -> Files.createDirectory(root.resolve("dir")),
      "link" -> Files.createSymbolicLink(root.resolve("link"), file),
      "dangling" -> Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere")),
      "missing" -> root.resolve("missing"))
  }

  private def fields(s: FileStatus) = (s.isFile, s.isDirectory, s.isSymlink, s.getLen,
    s.getPermission, if (s.isSymlink) Some(s.getSymlink) else None)

  test("link status matches Hadoop's for a file, a directory, a symlink, a dangling symlink and a missing path") {
    for ((name, p) <- fixture()) withClue(name) {
      // unqualified: Hadoop's readlink gets the plain file path only then
      val path = new Path(p.toString)
      if (name == "missing") {
        intercept[FileNotFoundException](hadoop.getFileLinkStatus(path))
        intercept[FileNotFoundException](nio.getFileLinkStatus(path))
        intercept[FileNotFoundException](nio.getLinkTarget(path))
      } else {
        val expected = fields(hadoop.getFileLinkStatus(path))
        assert(fields(nio.getFileLinkStatus(path)) === expected)
        assert(expected._3 === Set("link", "dangling")(name))
        if (expected._3) assert(nio.getLinkTarget(path) === hadoop.getLinkTarget(path))
        // a qualified path names the same file
        assert(fields(nio.getFileLinkStatus(nio.makeQualified(path))) === expected)
      }
    }
  }

  test("setPermission round-trips 0600, 0644 and 0755; a missing path throws FileNotFoundException") {
    val f = fixture()
    val path = new Path(f("file").toString)
    for (mode <- Seq("600", "644", "755")) withClue(mode) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      nio.setPermission(path, perm)
      assert(hadoop.getFileStatus(path).getPermission === perm)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f("file"))) === perm.toString)
    }
    intercept[FileNotFoundException](
      nio.setPermission(new Path(f("missing").toString), FsPermission.getFileDefault))
  }

  test("FileContext resolves file: to NioLocalFs; rename refuses, then overwrites, and the .crc follows") {
    val fc = FileContext.getLocalFSFileContext()
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val root = new Path(Files.createTempDirectory("graft-localfs-fc").toUri)
    def write(p: Path, text: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p) // ChecksumFs verifies the bytes against the .crc
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    def crc(p: Path) = new Path(p.getParent, s".${p.getName}.crc")
    val (src, dst) = (new Path(root, "src"), new Path(root, "dst"))
    write(src, "new batch")
    write(dst, "old batch")
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(read(dst) === "old batch")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) === "new batch")
    assert(!fc.util.exists(src) && !fc.util.exists(crc(src)))
    assert(fc.util.exists(crc(dst)))
  }

  test("a graft-tail → graft-kinesis query forks no process in its checkpoint directory") {
    val spark = TestSpark.spark
    val root = Files.createTempDirectory("graft-localfs-tail")
    val log = root.resolve("a.log")
    Files.writeString(log, "")
    val ckpt = Files.createTempDirectory("graft-localfs-ckpt").toString
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      val q = EP.forward(spark.readStream.format("graft-tail")
          .option("path", root.toString).option("glob", "*.log").load(), "forks")
        .writeStream.format("graft-kinesis")
        .option("checkpointLocation", ckpt)
        .start()
      try (1 to 3).foreach { i =>
        Files.writeString(log, s"line $i\n", StandardOpenOption.APPEND)
        q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
      // the control: a process started here, naming the directory, is seen
      new ProcessBuilder("ls", ckpt).start().waitFor()
    } finally recording.stop()
    val dump = Files.createTempFile("graft-localfs", ".jfr")
    recording.dump(dump)
    recording.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).filter(_.contains(ckpt))
    assert(commands === Seq(s"ls $ckpt"))
  }
}
