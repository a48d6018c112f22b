package perfbench

import java.io.OutputStream
import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Filesystem operation kinds the benchmark counts. */
object FsOp extends Enumeration {
  val Open, Create, Rename, List, Status, Delete, Mkdirs = Value
}

/** The local filesystem with every call the program makes counted, installed
  * as `fs.file.impl` in the traced run (local `file:` keeps no per-operation
  * statistics of its own). Only the outermost call on a thread counts: the
  * checksum layer's own `exists` inside `create`, say, is part of the
  * `create` the program asked for. Each count goes to the bucket
  * [[Recorder.fsBucket]] picks for the calling thread; bytes written are
  * counted on the stream `create` returns. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted[A](op: FsOp.Value)(f: => A): A = {
    val d = depth.get
    if (d(0) == 0) Recorder.fsBucket().countFs(op)
    d(0) += 1
    try f finally d(0) -= 1
  }

  private def countingOut(out: FSDataOutputStream): FSDataOutputStream = {
    val bucket = Recorder.fsBucket()
    new FSDataOutputStream(new OutputStream {
      override def write(b: Int): Unit = { out.write(b); bucket.addFsBytes(1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); bucket.addFsBytes(len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(FsOp.Open)(super.open(f, bufferSize))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(FsOp.Create)(countingOut(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress)))

  override def create(f: Path, permission: FsPermission,
                      flags: EnumSet[CreateFlag], bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable,
                      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    counted(FsOp.Create)(countingOut(super.create(f, permission, flags,
      bufferSize, replication, blockSize, progress, checksumOpt)))

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(FsOp.Create)(countingOut(super.createNonRecursive(f, permission,
      overwrite, bufferSize, replication, blockSize, progress)))

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(FsOp.Create)(countingOut(super.createNonRecursive(f, permission,
      flags, bufferSize, replication, blockSize, progress)))

  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    counted(FsOp.Create)(super.append(f, bufferSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    counted(FsOp.Rename)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(FsOp.Delete)(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    counted(FsOp.List)(super.listStatus(f))

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted(FsOp.List)(super.listStatusIterator(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(FsOp.List)(super.listLocatedStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    counted(FsOp.Status)(super.getFileStatus(f))

  override def exists(f: Path): Boolean =
    counted(FsOp.Status)(super.exists(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(FsOp.Mkdirs)(super.mkdirs(f, permission))

  override def mkdirs(f: Path): Boolean =
    counted(FsOp.Mkdirs)(super.mkdirs(f))
}

object CountingFileSystem {
  /** Per-thread call depth, so nested calls inside one counted call are
    * not counted again. */
  private val depth = ThreadLocal.withInitial[Array[Int]](() => Array(0))
}
