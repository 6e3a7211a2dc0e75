package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** A local file system that crashes at its `crashAt`-th `rename` or
  * `delete` call and at every later one, as a process that died there
  * makes no further change. Registered as `fs.faulty.impl`, the seam
  * `LeaseSpec`'s `MockObjectStoreFs` uses. Its statuses carry default
  * permissions: the local ones load theirs through a `file:` URI. In a
  * local session the executors share the driver's JVM, so the calls of
  * Spark's own output commit count too.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize, s.getModificationTime, s.getPath)

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.step(); super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultyFs.step(); super.delete(p, recursive)
  }
}

object FaultyFs {
  val calls = new AtomicInteger
  @volatile var crashAt: Int = Int.MaxValue

  private def step(): Unit = {
    val n = calls.incrementAndGet()
    if (n >= crashAt) throw new java.io.IOException(s"injected crash at call $n")
  }

  /** A copy of the local dir tree `from`, in a fresh temp dir. */
  def copyTree(from: String): String = {
    val to = Files.createTempDirectory("graft_crash").resolve("t")
    val src = Paths.get(from)
    Files.walk(src).forEach(p => Files.copy(p, to.resolve(src.relativize(p))))
    to.toString
  }

  /** Deletes a [[copyTree]] copy with its temp dir. */
  def deleteCopy(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(dir).getParent.toFile)

  /** The hidden directories under `root`, relative: what an interrupted
    * staged swap leaves behind. Hidden files (`.crc` checksums) are not
    * listed.
    */
  def hiddenDirs(root: File): Seq[String] = {
    def walk(d: File): Seq[File] = d.listFiles.toSeq.filter(_.isDirectory).flatMap(k => k +: walk(k))
    walk(root).filter(_.getName.startsWith(".")).map(f => root.toPath.relativize(f.toPath).toString)
  }

  /** The crash matrix of one mutation of the local dir `fixture`: a
    * fault-free `mutate` of a copy counts its N renames and deletes; then
    * for every k ≤ N, `mutate` of a fresh copy crashes at call k and
    * `rerun` completes it fault-free. `check(copy, what)` runs on the
    * clean copy and on every rerun copy. Mutations take the copy's
    * `faulty://` path. Returns N.
    */
  def crashMatrix(spark: org.apache.spark.sql.SparkSession, fixture: String)(
      mutate: String => Unit)(rerun: String => Unit)(check: (String, String) => Unit): Int = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val clean = copyTree(fixture)
    calls.set(0)
    mutate(s"faulty://$clean")
    val n = calls.get
    check(clean, "clean run")
    deleteCopy(clean)
    (1 to n).foreach { k =>
      val dir = copyTree(fixture)
      calls.set(0)
      crashAt = k
      try {
        val crashed = try { mutate(s"faulty://$dir"); false } catch { case _: Exception => true }
        assert(crashed, s"no crash at call $k of $n")
      } finally crashAt = Int.MaxValue
      rerun(s"faulty://$dir")
      check(dir, s"crash at call $k of $n")
      deleteCopy(dir)
    }
    n
  }
}
