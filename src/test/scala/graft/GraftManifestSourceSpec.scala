package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest
import graft.streaming.GraftManifestSource

/** The `graft-manifest` Structured Streaming SOURCE: offsets are
  * manifest versions owned by the ENGINE's checkpoint, micro-batches
  * are generation-set diffs, restarts replay the checkpointed range
  * exactly, and history mutation surfaces as a stream error. */
class GraftManifestSourceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def rows(ids: Range, tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  test("readStream.format(graft-manifest) delivers each version once " +
      "across a checkpoint restart (exactly-once, engine-owned offsets)") {
    val tbl = tmpDir("msrc") + "/t"
    val ckpt = tmpDir("msrcckpt")
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    TableManifest.append(spark, tbl, rows(0 until 10, "a"))
    val delivered =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val batchIds =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(tbl)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          batchIds.add(id)
          df.collect().foreach(r =>
            delivered.add((r.getLong(0), r.getString(1))))
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    }
    run() // batch 0: everything after the seed
    TableManifest.append(spark, tbl, rows(10 until 25, "b"))
    TableManifest.append(spark, tbl, rows(25 until 30, "c"))
    run() // restart from the engine checkpoint: only the new versions
    run() // no new commits: nothing re-delivered
    import scala.jdk.CollectionConverters._
    val got = delivered.asScala.toSeq.sorted
    val expect = ((0 until 10).map(i => (i.toLong, "a")) ++
      (10 until 25).map(i => (i.toLong, "b")) ++
      (25 until 30).map(i => (i.toLong, "c"))).sorted
    assert(got == expect, s"delivered ${got.size} rows, " +
      s"expected ${expect.size} — duplicates or drops across restart")
    assert(batchIds.asScala.toSet.size == batchIds.size) // ids unique
  }

  test("a maintenance rewrite on the streamed table surfaces as a " +
      "stream ERROR, and a merge-on-read delta likewise — never " +
      "silent drops") {
    val tbl = tmpDir("msrcloud") + "/t"
    val ckpt = tmpDir("msrcloudckpt")
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    TableManifest.append(spark, tbl, rows(0 until 5, "a"))
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(tbl)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (_: DataFrame, _: Long) => () }
        .start()
      try { q.processAllAvailable(); q.stop() }
      catch { case e: Throwable => q.stop(); throw e }
    }
    run()
    TableManifest.rewrite(spark, tbl)(df => df.coalesce(1))
    TableManifest.append(spark, tbl, rows(5 until 8, "b"))
    val e = intercept[Exception] { run() }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(rootChain(e).exists(_.contains("REWRITTEN")),
      rootChain(e).mkString(" | "))
  }

  test("the appends source over a column-mapped table surfaces a stream " +
      "ERROR, not rows under stale physical names") {
    val tbl = tmpDir("msrcmap") + "/t"
    val ckpt = tmpDir("msrcmapckpt")
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    TableManifest.append(spark, tbl, rows(0 until 5, "a"))
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(tbl)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (_: DataFrame, _: Long) => () }
        .start()
      try { q.processAllAvailable(); q.stop() }
      catch { case e: Throwable => q.stop(); throw e }
    }
    run()
    TableManifest.enableColumnMapping(spark, tbl)
    TableManifest.renameColumn(spark, tbl, "tag", "label")
    TableManifest.append(spark, tbl,
      rows(5 until 8, "b").withColumnRenamed("tag", "label"))
    val e = intercept[Exception] { run() }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(rootChain(e).exists(_.contains("COLUMN MAPPING")),
      rootChain(e).mkString(" | "))
  }

  test("changefeed mode streams merge-on-read upserts and row deletes " +
      "as op-coded rows, exactly-once across a checkpoint restart; " +
      "rewrites still surface as a stream error") {
    import spark.implicits._
    val tbl = tmpDir("msrccf") + "/t"
    val ckpt = tmpDir("msrccfckpt")
    def r(ids: Range, ts: Long, tag: String): DataFrame =
      ids.map(i => (i.toLong, ts, tag)).toDF("id", "ts", "tag")
    TableManifest.publish(spark, tbl, r(0 until 0, 0, "seed"))
    TableManifest.append(spark, tbl, r(0 until 6, 1, "a"))
    TableManifest.upsertDelta(spark, tbl, r(3 until 9, 2, "b"),
      Seq("id"), "ts", "id", numBuckets = 4)
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Long, Long)]() // (op, version, id)
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("changefeed", "true").load(tbl)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach { row =>
            delivered.add((
              row.getString(row.fieldIndex(TableManifest.ChangeOpCol)),
              row.getLong(row.fieldIndex(TableManifest.ChangeVersionCol)),
              row.getLong(row.fieldIndex("id"))))
          }
          ()
        }
        .start()
      try { q.processAllAvailable(); q.stop() }
      catch { case e: Throwable => q.stop(); throw e }
    }
    run() // append + upsert delivered op-coded
    TableManifest.deleteRows(spark, tbl,
      Seq(0L, 1L).toDF("id"), Seq("id"))
    run() // restart from the checkpoint: only the delete version
    run() // idle: nothing re-delivered
    import scala.jdk.CollectionConverters._
    val got = delivered.asScala.toSeq.sorted
    val expect = ((0 until 6).map(i => ("insert", 2L, i.toLong)) ++
      (3 until 9).map(i => ("upsert", 3L, i.toLong)) ++
      Seq(("delete", 4L, 0L), ("delete", 4L, 1L))).sorted
    assert(got == expect, s"got ${got.mkString(",")}")
    // what a changefeed cannot represent stays LOUD through the stream
    TableManifest.rewrite(spark, tbl)(df => df.coalesce(1))
    TableManifest.append(spark, tbl, r(20 until 22, 5, "c"))
    val e = intercept[Exception] { run() }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(rootChain(e).exists(_.contains("REWRITTEN")),
      rootChain(e).mkString(" | "))
  }

  test("source composes with the manifested sink: manifest -> stream " +
      "-> manifest, all state in engine checkpoint + destination " +
      "watermark") {
    import spark.implicits._
    val src = tmpDir("msrcpipe") + "/src"
    val dst = tmpDir("msrcpipe2") + "/dst"
    val ckpt = tmpDir("msrcpipeckpt")
    TableManifest.publish(spark, src, rows(0 until 0, "seed"))
    TableManifest.publish(spark, dst, rows(0 until 0, "seed"))
    TableManifest.append(spark, src, rows(0 until 12, "a"))
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(TableManifest.streamingSink(dst, writerId = "pipe"))
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    TableManifest.append(spark, src, rows(12 until 20, "b"))
    run()
    run() // idle restart: watermark + checkpoint both skip
    def canon(dir: String): Array[String] =
      TableManifest.read(spark, dir)
        .select(concat_ws("|", col("id"), col("tag")))
        .as[String].collect().sorted
    assert(canon(dst).sameElements(canon(src)))
    assert(canon(dst).length == 20)
  }

  private def source(tbl: String): GraftManifestSource =
    new GraftManifestSource(spark, tbl, 1L,
      TableManifest.read(spark, tbl).schema)

  private def offsetOf(src: GraftManifestSource): Long =
    src.getOffset.map(_.json().trim.toLong).getOrElse(0L)

  test("an idle poll costs two filesystem calls and no head resolution; " +
      "a poll after commits probes only the new seqs") {
    val tbl = tmpDir("msrcidle") + "/t"
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    TableManifest.append(spark, tbl, rows(0 until 3, "a"))
    val src = source(tbl)
    val head = offsetOf(src) // first poll: resolved from scratch
    assert(head == TableManifest.versions(spark, tbl).last)
    assert(src.headResolutions == 1)
    (1 to 3).foreach { _ =>
      assert(offsetOf(src) == head)
      assert(src.lastPollOps <= 2, s"idle poll made ${src.lastPollOps} calls")
    }
    TableManifest.append(spark, tbl, rows(3 until 5, "b"))
    TableManifest.append(spark, tbl, rows(5 until 7, "c"))
    assert(offsetOf(src) == head + 2)
    assert(src.lastPollOps == 4) // head+1, head+2, head+3 (missing), head
    assert(src.headResolutions == 1, "no poll parsed a manifest")
  }

  test("the reported offset never goes backwards: it follows commits up, " +
      "and a table replaced under the stream is a loud error") {
    val tbl = tmpDir("msrcmono") + "/t"
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    val src = source(tbl)
    val seen = (0 until 6).map { i =>
      if (i % 2 == 0) TableManifest.append(spark, tbl, rows(i until i + 1, "a"))
      offsetOf(src)
    }
    assert(seen == seen.sorted && seen.last == 4L, seen)
    // the log replaced by a fresh, shorter one
    val fs = TableManifest.fsOf(spark, tbl)
    fs.delete(new org.apache.hadoop.fs.Path(tbl), true)
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    val e = intercept[IllegalStateException](src.getOffset)
    assert(e.getMessage.contains("went back"), e.getMessage)
  }

  test("a truncateLog that removes the remembered seq falls back to " +
      "resolving the head from scratch") {
    val tbl = tmpDir("msrctrunc") + "/t"
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    val src = source(tbl)
    val remembered = TableManifest.versions(spark, tbl).last
    src.getOffset
    (0 until 10).foreach(i =>
      TableManifest.append(spark, tbl, rows(i until i + 1, "a")))
    assert(TableManifest.truncateLog(spark, tbl, keepVersions = 8) > 0)
    assert(!TableManifest.versions(spark, tbl).contains(remembered))
    assert(offsetOf(src) == TableManifest.versions(spark, tbl).last)
    assert(src.headResolutions == 2)
    assert(offsetOf(src) == TableManifest.versions(spark, tbl).last)
    assert(src.headResolutions == 2 && src.lastPollOps <= 2)
  }

  test("a live changefeed stream into changefeedSink runs no collect: the " +
      "(version, op) list comes from the batch schema's stamps") {
    import spark.implicits._
    val src = tmpDir("msrcstamp") + "/src"
    val dst = tmpDir("msrcstamp") + "/dst"
    val ckpt = tmpDir("msrcstampckpt")
    def r(ids: Range, ts: Long, tag: String): DataFrame =
      ids.map(i => (i.toLong, ts, tag)).toDF("id", "ts", "tag")
    TableManifest.publish(spark, src, r(0 until 0, 0, "seed"))
    TableManifest.publish(spark, dst, r(0 until 0, 0, "seed"))
    val (_, actions) = Actions.during(spark) {
      val q = spark.readStream.format("graft-manifest")
        .option("changefeed", "true").load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(TableManifest.changefeedSink(dst, Seq("id"), "ts",
          "id", numBuckets = 4))
        .start()
      try {
        TableManifest.append(spark, src, r(0 until 6, 1, "a"))
        q.processAllAvailable()
        TableManifest.upsertDelta(spark, src, r(3 until 9, 2, "b"),
          Seq("id"), "ts", "id", numBuckets = 4)
        TableManifest.deleteRows(spark, src, Seq(0L).toDF("id"), Seq("id"))
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
      } finally { q.stop(); q.awaitTermination() }
    }
    assert(!actions.exists(_.name == "collect"),
      s"collects: ${actions.count(_.name == "collect")}")
    def canon(dir: String): Array[String] =
      TableManifest.read(spark, dir)
        .select(concat_ws("|", col("id"), col("ts"), col("tag")))
        .as[String].collect().sorted
    assert(canon(dst).sameElements(canon(src)) && canon(dst).length == 8)
  }
}
