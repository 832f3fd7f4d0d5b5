package etlbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.hadoop.util.Progressable

/** `file://` with a count of every metadata and open call the program
  * makes. Hadoop's own read/write op counters stay at zero on the local
  * filesystem (only its byte counters move), so the traced run installs
  * this class through `spark.hadoop.fs.file.impl` with the FS cache off.
  *
  * Only the outermost call of a thread is counted: `listStatus(Path,
  * PathFilter)` calling `listStatus(Path)`, or `exists` calling
  * `getFileStatus`, is one call. The checksum layer's own `.crc`
  * traffic happens below the counted entry points and is not counted;
  * `FileContext` users (Spark's streaming checkpoint files) bypass
  * `FileSystem` and are not counted either. Calls made on a streaming
  * query's own thread (offset polling, micro-batch planning and the
  * `foreachBatch` sink) go to a separate count: the stream runs beside
  * the benchmark's calls, and would otherwise be charged to whichever
  * span happens to be open. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  private def counted[T](c: AtomicLong)(body: => T): T = {
    val d = depth.get
    if (d == 0) {
      if (Thread.currentThread.getName.startsWith(StreamThreadPrefix))
        nStream.incrementAndGet()
      else c.incrementAndGet()
    }
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def listStatus(f: Path): Array[FileStatus] =
    counted(nList)(super.listStatus(f))
  override def listStatus(f: Path, filter: PathFilter): Array[FileStatus] =
    counted(nList)(super.listStatus(f, filter))
  override def listStatus(fs: Array[Path]): Array[FileStatus] =
    counted(nList)(super.listStatus(fs))
  override def listStatus(fs: Array[Path], filter: PathFilter): Array[FileStatus] =
    counted(nList)(super.listStatus(fs, filter))
  override def listStatusIterator(f: Path) =
    counted(nList)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path) =
    counted(nList)(super.listLocatedStatus(f))
  override def listFiles(f: Path, recursive: Boolean) =
    counted(nList)(super.listFiles(f, recursive))
  override def globStatus(p: Path): Array[FileStatus] =
    counted(nList)(super.globStatus(p))
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    counted(nList)(super.globStatus(p, filter))

  override def getFileStatus(f: Path): FileStatus =
    counted(nStat)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = counted(nStat)(super.exists(f))
  override def isFile(f: Path): Boolean = counted(nStat)(super.isFile(f))
  override def isDirectory(f: Path): Boolean =
    counted(nStat)(super.isDirectory(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(nOpen)(super.open(f, bufferSize))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    counted(nCreate)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream =
    counted(nCreate)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    counted(nRename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted(nDelete)(super.delete(f, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted(nMkdirs)(super.mkdirs(f, permission))
}

object CountingLocalFileSystem {
  val nList, nStat, nOpen, nCreate, nRename, nDelete, nMkdirs, nStream =
    new AtomicLong()
  private val StreamThreadPrefix = "stream execution thread"
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  def counts: Seq[(String, Long)] = Seq(
    "fs.list" -> nList.get, "fs.stat" -> nStat.get, "fs.open" -> nOpen.get,
    "fs.create" -> nCreate.get, "fs.rename" -> nRename.get,
    "fs.delete" -> nDelete.get, "fs.mkdirs" -> nMkdirs.get,
    "streaming.fs_calls" -> nStream.get)

  /** Session configs that route `file://` through this class. */
  val configs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "true")
}
