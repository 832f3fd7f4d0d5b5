package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest

/** What one head resolution costs, counted: tables are written through
  * `file:` (commits need the certified local primitive) and resolved
  * through the counting scheme, which records every listing and open. */
class HeadResolutionSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  /** A table of `commits` versions, one row each. */
  private def table(prefix: String, commits: Int): String = {
    import spark.implicits._
    val t = tmpDir(prefix) + "/t"
    TableManifest.publish(spark, t, Seq((0L, "b0")).toDF("id", "tag"))
    (1 until commits).foreach(i =>
      TableManifest.append(spark, t, Seq((i.toLong, s"b$i")).toDF("id", "tag")))
    t
  }

  /** `t`'s head seq resolved through the counting scheme, with the
    * paths under `t` it listed and the names of the files it opened. */
  private def countedResolve(t: String): (Long, Seq[String], Seq[String]) = {
    CountingFileSystem.register(spark)
    CountingFileSystem.reset()
    val seq = TableManifest.resolveHead(spark, CountingFileSystem.path(t))
      .get.seq
    def under(q: ConcurrentLinkedQueue[String]) =
      q.asScala.filter(_.contains(t)).toSeq
    (seq, under(CountingFileSystem.listed),
      under(CountingFileSystem.opened).map(p => new Path(p).getName))
  }

  test("a hinted head resolution lists nothing and opens exactly the " +
      "hint and the head manifest") {
    val t = table("headhint", 25)
    // a table written while checkpoint files were still written holds a
    // copy of manifest 20 under this name; resolution never reads it
    val fs = new Path(t).getFileSystem(spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(t, "_graft_manifest-000020.json"), fs,
      new Path(t, "_graft_checkpoint-000020.json"), false, true,
      spark.sessionState.newHadoopConf())
    val (seq, listed, opened) = countedResolve(t)
    assert(seq == 25L)
    assert(listed.isEmpty, s"resolution listed $listed")
    assert(opened.sorted ==
      Seq("_graft_last_checkpoint", "_graft_manifest-000025.json"),
      s"resolution opened $opened")
  }

  test("a table younger than its first hint probes from seq 1: no " +
      "listing, and the head manifest is the one file opened") {
    val t = table("headyoung", 5)
    val (seq, listed, opened) = countedResolve(t)
    assert(seq == 5L)
    assert(listed.isEmpty, s"resolution listed $listed")
    assert(opened == Seq("_graft_manifest-000005.json"),
      s"resolution opened $opened")
  }

  test("recover reaps checkpoint files left by older writers and leaves " +
      "the hint, the read and the history as they were") {
    val t = table("headreap", 12)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(t).getFileSystem(conf)
    val checkpoint = new Path(t, "_graft_checkpoint-000010.json")
    val sidecar = new Path(t, "._graft_checkpoint-000010.json.crc")
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(t, "_graft_manifest-000010.json"), fs, checkpoint, false,
      true, conf)
    val out = fs.create(sidecar)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    val hint = new Path(t, "_graft_last_checkpoint")
    def bytes(p: Path): Seq[Byte] = {
      val in = fs.open(p)
      try in.readAllBytes().toSeq finally in.close()
    }
    def state() = (
      TableManifest.read(spark, t).collect().map(_.toString).sorted.toSeq,
      TableManifest.history(spark, t).collect().map(_.toString).toSeq)
    val hintBefore = bytes(hint)
    val before = state()
    TableManifest.recover(spark, t)
    assert(!fs.exists(checkpoint) && !fs.exists(sidecar))
    assert(bytes(hint) == hintBefore)
    assert(state() == before)
    assert(before._1.size == 12)
  }
}
