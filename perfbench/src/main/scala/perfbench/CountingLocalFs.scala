package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop filesystem, counting the calls made through it.
  * Hadoop's own statistics count bytes for the local scheme but no
  * operations, so every run installs this subclass (`fs.file.impl`); it
  * changes nothing but the counters. */
class CountingLocalFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.reads.increment(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingLocalFs.reads.increment(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.lists.increment(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountingLocalFs.writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFs.writes.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingLocalFs.writes.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingLocalFs.writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val reads = new LongAdder
  val writes = new LongAdder
  val lists = new LongAdder
}
