package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** File listings of the targets the benchmark inspects. */
object Fs {
  final case class Written(partitions: Int, files: Int, bytes: Long)

  private def dataFiles(root: Path): Seq[(Path, java.nio.file.attribute.BasicFileAttributes)] =
    if (!Files.exists(root)) Nil
    else {
      val out = mutable.ArrayBuffer.empty[(Path, java.nio.file.attribute.BasicFileAttributes)]
      Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
          val n = f.getFileName.toString
          if (!n.startsWith(".") && !n.startsWith("_")) out += ((f, a))
          java.nio.file.FileVisitResult.CONTINUE
        }
      })
      out.toSeq
    }

  /** Data files written at or after epoch-nanosecond `t`. */
  def since(root: Path, t: Long): Written = {
    val fresh = dataFiles(root).filter(_._2.lastModifiedTime.toMillis * 1000000L >= t - 1000000L)
    Written(fresh.map(_._1.getParent).distinct.size, fresh.size, fresh.map(_._2.size).sum)
  }

  def filesPerPartition(root: Path): Double = {
    val files = dataFiles(root)
    val parts = files.map(_._1.getParent).distinct.size
    if (parts == 0) 0.0 else files.size.toDouble / parts
  }

  /** Delete the `<column>=<value>` partition directories under `root`
    * whose value sorts before `bound`.
    */
  def dropPartitionsBefore(root: Path, column: String, bound: String): Unit =
    Option(root.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(s"$column=") &&
        f.getName.stripPrefix(s"$column=") < bound)
      .foreach(f => deleteTree(f.toPath))

  def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  /** Files and bytes under `root`, hidden files included. */
  def totals(root: Path): (Int, Long) = {
    var files = 0
    var bytes = 0L
    if (Files.exists(root))
      Files.walk(root).filter(Files.isRegularFile(_)).forEach { f => files += 1; bytes += Files.size(f) }
    (files, bytes)
  }
}
