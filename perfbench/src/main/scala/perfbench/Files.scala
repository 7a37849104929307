package perfbench

import java.nio.file.{Files => JFiles, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the run's work directory. */
object Files {
  private def walk(p: Path): Seq[Path] =
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }

  def regularFiles(p: Path): Seq[Path] = walk(p).filter(JFiles.isRegularFile(_))

  def bytes(p: Path): Long = regularFiles(p).map(JFiles.size).sum

  def delete(p: Path): Unit =
    walk(p).reverse.foreach(JFiles.deleteIfExists)

  def copy(from: Path, to: Path): Unit = {
    delete(to)
    walk(from).foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (JFiles.isDirectory(src)) JFiles.createDirectories(dst)
      else JFiles.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Heap the program still holds after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM, in MiB (Linux `VmHWM`). */
  def peakRssMb(): Double =
    JFiles.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}
