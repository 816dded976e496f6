package perfbench

import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The program's `file:` filesystem with its namespace operations
  * (creates, renames, deletes) counted. A traced run installs it in place
  * of `graft.sources.FastLocalFileSystem`, whose behaviour it keeps:
  * Hadoop's own statistics for the local scheme count bytes but not these
  * operations. */
class CountingLocalFileSystem extends graft.sources.FastLocalFileSystem {
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFileSystem.ops.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingLocalFileSystem.ops.increment()
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingLocalFileSystem.ops.increment()
    super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  val ops = new LongAdder
}
