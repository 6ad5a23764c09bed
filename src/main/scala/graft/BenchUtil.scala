package graft

/** Timing/cleanup helpers shared by the benchmark mains ([[Bench]],
  * [[CopyBench]], [[StreamBench]]) — one definition, so a behavior fix
  * reaches all three. */
private[graft] object BenchUtil {

  def timeSec[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Recursive copy into a fresh sibling temp dir; returns the copy's
    * path. Same-filesystem file copies of an index artifact's lanes —
    * the cheap per-attempt reset the r19 lifecycle brackets use so a
    * mutating verb (sync/update/delete) can be timed repeatedly
    * against an identical standing fixture without rebuilding it. */
  def copyTree(src: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val from = Paths.get(src)
    val to = Files.createTempDirectory(from.getFileName.toString + "-copy")
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally w.close()
    to.toString
  }

  /** Recursive delete (children before parents); missing dir is a no-op. */
  def rmTree(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
  }
}
