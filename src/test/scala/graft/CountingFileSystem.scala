package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FilterFileSystem, FutureDataInputStreamBuilder, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}

/** The local filesystem under its own scheme (`countfs:///abs/path`),
  * recording the path of every listing, every open and every status
  * call (`exists` is one) — so a spec can read a table written through
  * `file:` and assert which directories the read listed and which files
  * it opened. Register it in a session's Hadoop conf with
  * [[CountingFileSystem.register]]. */
class CountingFileSystem extends FilterFileSystem(new CountingFileSystem.Raw) {
  import CountingFileSystem.{listed, opened, statted}

  override def getFileStatus(f: Path): FileStatus = {
    statted.add(f.toString); super.getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    listed.add(f.toString); super.listStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    listed.add(f.toString); super.listStatusIterator(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    listed.add(f.toString); super.listLocatedStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opened.add(f.toString); super.open(f, bufferSize)
  }
  override def openFile(f: Path): FutureDataInputStreamBuilder = {
    opened.add(f.toString); super.openFile(f)
  }
}

object CountingFileSystem {
  val Scheme = "countfs"

  private class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  val listed = new ConcurrentLinkedQueue[String]()
  val opened = new ConcurrentLinkedQueue[String]()
  val statted = new ConcurrentLinkedQueue[String]()

  def reset(): Unit = { listed.clear(); opened.clear(); statted.clear() }

  /** `dir` (an absolute local path) under the counting scheme. */
  def path(dir: String): String = s"$Scheme://$dir"

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[CountingFileSystem].getName)
}
