package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one in-place rewrite protocol for directories of Spark output on
  * a Hadoop `FileSystem` (lake partitions, maintained-root legs). A
  * rewrite never overwrites what it reads: the new content of each child
  * `<name>` of `dir` is written under [[staging]]`(dir)/<name>` and then
  * published by a swap, live → `.swap_old_<name>`, staged → live, backup
  * deleted. A name with no staged dir is removed (its rows all went).
  *
  * [[recover]] runs before the next rewrite lists `dir`: a backup whose
  * live dir is missing died between the two swap renames and is
  * restored; a backup beside its live dir died after the publish and is
  * deleted; the staging dir of a failed run is deleted. So after a crash
  * at any point, `dir` holds each name's old or new content, provided a
  * directory rename is atomic (local disk, HDFS).
  */
private[graft] object StagedSwap {
  private val BackupPrefix = ".swap_old_"

  def staging(dir: Path): Path = new Path(dir, ".swap_staging")

  // Hadoop's rename moves the source INTO an existing target directory
  // instead of failing, so the target must be checked absent first
  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (fs.exists(to) || !fs.rename(from, to)) sys.error(s"cannot move $from to $to")

  def recover(fs: FileSystem, dir: Path): Unit =
    if (fs.exists(dir)) {
      fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith(BackupPrefix)).foreach { b =>
        val live = new Path(dir, b.stripPrefix(BackupPrefix))
        if (fs.exists(live)) fs.delete(new Path(dir, b), true) else move(fs, new Path(dir, b), live)
      }
      fs.delete(staging(dir), true)
    }

  def publish(fs: FileSystem, dir: Path, names: Seq[String]): Unit = {
    names.foreach { name =>
      val (live, staged) = (new Path(dir, name), new Path(staging(dir), name))
      val backup = new Path(dir, BackupPrefix + name)
      move(fs, live, backup)
      if (fs.exists(staged)) move(fs, staged, live)
      fs.delete(backup, true)
    }
    fs.delete(staging(dir), true)
  }
}
