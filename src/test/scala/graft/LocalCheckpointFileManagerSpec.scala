package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` checkpoint manager keeps the publish protocol of
  * Spark's default: temp-then-rename, `.crc` sidecars checked on read,
  * no-clobber, the same file modes; other schemes get the default. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def tempDir(): Path = new Path(Files.createTempDirectory("lcfm").toUri)

  private def names(dir: Path): Set[String] = {
    val l = Files.list(Paths.get(dir.toUri))
    try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
  }

  private def publish(fm: CheckpointFileManager, p: Path, body: String,
                      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("file: paths run Spark's FileSystem manager; publish leaves the file and its .crc") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(dir, new Configuration())
    assert(fm.underlying.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(fm.isLocal)
    publish(fm, new Path(dir, "0"), "v1")
    assert(names(dir) === Set("0", ".0.crc"))
    assert(read(fm, new Path(dir, "0")) === "v1")
    assert(fm.exists(new Path(dir, "0")) && !fm.exists(new Path(dir, "1")))
    assert(fm.list(dir).map(_.getPath.getName).toSet === Set("0"), "listings hide .crc files")
  }

  test("no-clobber createAtomic onto an existing file throws and leaves no temp file") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(dir, new Configuration())
    val p = new Path(dir, "0")
    publish(fm, p, "first")
    val out = fm.createAtomic(p, false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(names(dir) === Set("0", ".0.crc"))
    assert(read(fm, p) === "first")
  }

  test("cancel() leaves nothing behind") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(dir, new Configuration())
    val out = fm.createAtomic(new Path(dir, "0"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir) === Set.empty[String])
  }

  test("overwrite replaces the file and its .crc") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(dir, new Configuration())
    val p = new Path(dir, "0")
    publish(fm, p, "first")
    publish(fm, p, "second, longer", overwrite = true)
    assert(read(fm, p) === "second, longer")
    assert(names(dir) === Set("0", ".0.crc"))
  }

  test("a flipped data byte fails the .crc check on read") {
    val dir = tempDir()
    val fm = new LocalCheckpointFileManager(dir, new Configuration())
    val p = new Path(dir, "0")
    publish(fm, p, "v1\n{\"batchWatermarkMs\":0}")
    val f = Paths.get(p.toUri)
    val bytes = Files.readAllBytes(f)
    bytes(3) = (bytes(3) ^ 0x01).toByte
    Files.write(f, bytes)
    intercept[ChecksumException](read(fm, p))
  }

  test("files and directories get the mode Hadoop's chmod gives under the same umask") {
    val conf = new Configuration()
    // differs from a usual process umask, so only an applied chmod matches
    conf.set("fs.permissions.umask-mode", "027")
    def modes(fm: CheckpointFileManager, root: Path): Map[String, String] = {
      val sub = new Path(root, "offsets")
      fm.mkdirs(sub)
      publish(fm, new Path(sub, "0"), "v1")
      Seq("offsets", "offsets/0", "offsets/.0.crc").map { n =>
        n -> java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(Paths.get(new Path(root, n).toUri)))
      }.toMap
    }
    val viaDefault = { val d = tempDir(); modes(new FileContextBasedCheckpointFileManager(d, conf), d) }
    val viaLocal = { val d = tempDir(); modes(new LocalCheckpointFileManager(d, conf), d) }
    assert(viaLocal === viaDefault)
    assert(viaLocal("offsets/0") === "rw-r-----")
  }

  test("a non-file: path gets Spark's default manager") {
    val conf = new Configuration()
    val p = new Path("hdfs://localhost:9/checkpoint")
    val fm = new LocalCheckpointFileManager(p, conf)
    assert(fm.underlying.getClass === classOf[FileContextBasedCheckpointFileManager])
    assert(fm.underlying.getClass === CheckpointFileManager.create(p, conf).getClass)
    assert(!fm.isLocal)
  }
}
