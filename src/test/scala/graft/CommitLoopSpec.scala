package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest
import graft.ops.TableManifest.{Commit, FileMeta, GenMeta, HeadInfo}

/** The one commit loop every manifest verb goes through: driven here
  * directly, with no threads, by a `next` that commits a competing
  * version on its first call — so each lost race, rebase, replay and
  * storm happens at a known point. Plus the race that once let a
  * row delete drop a concurrent column mapping. */
class CommitLoopSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def tmpTable(prefix: String): String = tmpDir(prefix) + "/t"

  private def fs(tbl: String) =
    new Path(tbl).getFileSystem(spark.sessionState.newHadoopConf())

  private def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"r$i")).toDF("id", "tag")
  }

  private def head(tbl: String): HeadInfo =
    TableManifest.resolveHead(spark, tbl).get

  /** A generation written beside the table, referenced by no manifest:
    * what a batch-derived verb stages before its commit loop. */
  private def stage(tbl: String, seq: Long, df: DataFrame): (String, GenMeta) = {
    val g = f"_gen-$seq%06d-${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.parquet(s"$tbl/$g")
    val files = TableManifest.dataFiles(fs(tbl), s"$tbl/$g")
      .map(f => FileMeta(f.getPath.getName, f.getLen, None, None))
    (g, GenMeta(None, files, TableManifest.writtenSchemaJson(df.schema)))
  }

  /** The head's snapshot plus `gens`: the append-shaped commit. */
  private def appended(h: HeadInfo, gens: Seq[String],
                       gm: GenMeta): Commit[String] =
    Commit(h.snap.copy(generations = h.snap.generations ++ gens,
      meta = h.snap.meta ++ gens.map(_ -> gm)), gens.head)

  /** Commit a competing metadata-only version on top of `h`, so the
    * loop's own claim of `h.seq + 1` loses. */
  private def compete(tbl: String, h: HeadInfo,
                      writers: Map[String, Long] = Map("rival" -> 1L)): Unit =
    assert(TableManifest.commitSnapshot(spark, tbl, h.seq + 1,
      h.snap.copy(writers = h.snap.writers ++ writers)))

  private def snapAt(tbl: String, v: Long): TableManifest.Snapshot = {
    val p = new Path(f"$tbl/_graft_manifest-$v%06d.json")
    val in = fs(tbl).open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    TableManifest.parseSnapshotBody(body, p.toString)
  }

  /** The `_gen-*` directories no committed version references. */
  private def unreferenced(tbl: String): Set[String] = {
    val referenced =
      (1L to head(tbl).seq).flatMap(snapAt(tbl, _).generations).toSet
    fs(tbl).listStatus(new Path(tbl)).map(_.getPath.getName)
      .filter(_.startsWith("_gen-")).toSet -- referenced
  }

  test("a lost CAS rebases: next re-runs on the winner's head, the " +
      "commit lands at the winner's seq + 1, the pre-staged generation " +
      "is re-aligned to that version and the lost attempt's fresh " +
      "generation is reaped") {
    val tbl = tmpTable("loopcas")
    TableManifest.publish(spark, tbl, rows(1L))
    val (g, gm) = stage(tbl, 2, rows(2L))
    val seen = scala.collection.mutable.Buffer.empty[Long]
    val fresh = scala.collection.mutable.Buffer.empty[String]
    val landed = TableManifest.commitLoop(spark, "spec", tbl,
        maxRetries = 3, staged = Seq(g)) { (h, gens) =>
      seen += h.seq
      if (seen.size == 1) compete(tbl, h)
      // a generation derived from this head, reaped if the attempt loses
      val (f, fm) = stage(tbl, h.seq + 1, rows(100L + h.seq))
      fresh += f
      val c = appended(h, gens, gm)
      c.copy(snap = c.snap.copy(generations = c.snap.generations :+ f,
        meta = c.snap.meta + (f -> fm)), fresh = Seq(f))
    }.get
    assert(seen == Seq(1L, 2L), "next must re-run on the winner's head")
    assert(head(tbl).seq == 3L)
    assert(TableManifest.genSeqOf(landed) == 3L,
      s"$landed must carry the seq it landed at")
    assert(!fs(tbl).exists(new Path(s"$tbl/$g")))
    assert(!fs(tbl).exists(new Path(s"$tbl/${fresh.head}")),
      "the lost attempt's fresh generation must be reaped")
    assert(unreferenced(tbl).isEmpty, unreferenced(tbl).toString)
    assert(TableManifest.read(spark, tbl).count() == 3)
    assert(TableManifest.currentGenerations(spark, tbl).contains(landed))
  }

  test("a covered replay found on the retry reaps the staged generation " +
      "and commits nothing") {
    val tbl = tmpTable("loopreplay")
    TableManifest.publish(spark, tbl, rows(1L))
    val (g, gm) = stage(tbl, 2, rows(2L))
    var calls = 0
    val r = TableManifest.commitLoop(spark, "spec", tbl, maxRetries = 3,
        batch = Some("w" -> 4L), staged = Seq(g)) { (h, gens) =>
      calls += 1
      // the same batch lands first, from another delivery
      compete(tbl, h, Map("w" -> 4L))
      appended(h, gens, gm)
    }
    assert(r.isEmpty && calls == 1)
    assert(head(tbl).seq == 2L && head(tbl).snap.watermark("w").contains(4L))
    assert(unreferenced(tbl).isEmpty, unreferenced(tbl).toString)
    assert(TableManifest.read(spark, tbl).count() == 1)
  }

  test("a staging failure rethrows the original error when the head has " +
      "not moved, and retries when it has") {
    val tbl = tmpTable("loopstagefail")
    TableManifest.publish(spark, tbl, rows(1L))
    val (g, _) = stage(tbl, 2, rows(2L))
    val boom = new IllegalStateException("deterministic bug")
    val e = intercept[IllegalStateException] {
      TableManifest.commitLoop(spark, "spec", tbl, maxRetries = 3,
        staged = Seq(g)) { (_, _) => throw boom }
    }
    assert(e eq boom, "the original error must surface, not a storm")
    assert(head(tbl).seq == 1L)
    assert(unreferenced(tbl).isEmpty, "the staged generation must be reaped")
    var calls = 0
    val r = TableManifest.commitLoop(spark, "spec", tbl, maxRetries = 3) {
      (h, _) =>
        calls += 1
        if (calls == 1) {
          compete(tbl, h)
          throw new java.io.FileNotFoundException("base vacuumed mid-read")
        }
        Commit(h.snap, h.seq)
    }
    assert(calls == 2 && r.contains(2L), s"calls=$calls r=$r")
    assert(head(tbl).seq == 3L)
  }

  test("a writer storm reaps every staged generation and raises one " +
      "error naming the verb, chaining the last staging failure") {
    val tbl = tmpTable("loopstorm")
    TableManifest.publish(spark, tbl, rows(1L))
    val (g, gm) = stage(tbl, 2, rows(2L))
    val storm = intercept[java.io.IOException] {
      TableManifest.commitLoop(spark, "spec", tbl, maxRetries = 0,
          staged = Seq(g)) { (h, gens) =>
        compete(tbl, h)
        appended(h, gens, gm)
      }
    }
    assert(storm.getMessage.contains(s"spec at $tbl did not commit in 1 " +
      "attempts") && storm.getMessage.contains("writer storm"),
      storm.getMessage)
    assert(unreferenced(tbl).isEmpty,
      s"a storm left ${unreferenced(tbl)} behind")
    assert(TableManifest.read(spark, tbl).count() == 1)
    // the first attempt fails under a moved head, the second loses
    val (g2, gm2) = stage(tbl, 3, rows(3L))
    val stale = new java.io.FileNotFoundException("stale read")
    var calls = 0
    val chained = intercept[java.io.IOException] {
      TableManifest.commitLoop(spark, "spec", tbl, maxRetries = 1,
          staged = Seq(g2)) { (h, gens) =>
        calls += 1
        compete(tbl, h)
        if (calls == 1) throw stale
        appended(h, gens, gm2)
      }
    }
    assert(chained.getCause eq stale, chained.toString)
    assert(unreferenced(tbl).isEmpty, unreferenced(tbl).toString)
  }

  test("deleteRows racing enableColumnMapping + renameColumn never " +
      "commits a delete rule beside a mapping, never drops a committed " +
      "mapping, and each side commits or is refused") {
    import spark.implicits._
    (0 until 4).foreach { round =>
      val tbl = tmpTable(s"loopdelmap$round")
      TableManifest.publish(spark, tbl,
        (0 until 10).map(k => (k.toLong, "v1")).toDF("key", "tag"))
      val start = new CountDownLatch(1)
      val outcomes = new ConcurrentLinkedQueue[String]()
      def run(side: String)(body: => Unit): Thread = new Thread(() => {
        start.await()
        outcomes.add(side + ":" + (try { body; "committed" } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("refused while") => "refused"
          case e: Throwable => s"failed $e"
        }))
      })
      val threads = Seq(
        run("delete") {
          TableManifest.deleteRows(spark, tbl, Seq(5L).toDF("key"),
            Seq("key"), maxRetries = 20)
        },
        run("map") {
          TableManifest.enableColumnMapping(spark, tbl, maxRetries = 20)
          TableManifest.renameColumn(spark, tbl, "tag", "label",
            maxRetries = 20)
        })
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join())
      val out = outcomes.asScala.toSeq.sorted
      assert(out.forall(o => o.endsWith(":committed") ||
        o.endsWith(":refused")), s"round $round: $out")
      assert(out.count(_.endsWith(":refused")) == 1,
        s"round $round: exactly one side must win: $out")
      val snaps = (1L to head(tbl).seq).map(v => v -> snapAt(tbl, v))
      snaps.foreach { case (v, s) =>
        assert(!(s.columns.isDefined && s.delete.isDefined),
          s"round $round: version $v holds a mapping AND a delete rule")
      }
      snaps.dropWhile(_._2.columns.isEmpty).foreach { case (v, s) =>
        assert(s.columns.isDefined,
          s"round $round: version $v dropped the committed mapping")
      }
      val cols = TableManifest.read(spark, tbl).columns.toSeq
      if (out.contains("map:committed")) assert(cols == Seq("key", "label"))
      else {
        assert(cols == Seq("key", "tag"))
        assert(TableManifest.read(spark, tbl).count() == 9)
      }
    }
  }
}
