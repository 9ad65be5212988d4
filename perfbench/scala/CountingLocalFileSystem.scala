package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The program's local file system plus call counters (traced run only).
  *
  * Installed through `SPARK_GRAFT_LOCAL_FS_IMPL`, which
  * `graft.Engine.session` reads; every call is passed to the parent
  * unchanged and then counted in [[Trace.Fs]] under the calling span
  * and the path's class (manifest, checkpoint, data, other). */
class CountingLocalFileSystem extends graft.acid.BareLocalFileSystem {
  private def count(p: Path, call: String): Unit =
    Trace.Fs.add(p.toUri.getPath, call)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count(f, "open")
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count(f, "create")
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    val path = f.toUri.getPath
    new FSDataOutputStream(out, null) {
      override def close(): Unit = {
        val n = getPos
        super.close()
        Trace.Fs.add(path, "bytes_written", n)
      }
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    count(dst, "rename")
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    count(f, "delete")
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    count(f, "list")
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    count(f, "status")
    super.getFileStatus(f)
  }
}
