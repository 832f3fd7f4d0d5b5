package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest

/** Round-13 manifest behavior: the op-coded changefeed
  * (tailChanges/relayChanges), the history-preserving upsertDelta,
  * bucket-granular pruning under a live merge rule, metadata-only
  * partition drops, transform partitioning, type widening under column
  * mapping, and the SQL DML command surface. */
class TableManifestChangefeedSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def tmpTable(prefix: String): String = tmpDir(prefix) + "/t"

  // the shared session's manifested-table registry outlives the suite,
  // and sqlManifested re-reads every registered table: drop this suite's
  // names before its table directories go
  override protected def afterAll(): Unit =
    try Seq("dml_t", "dmlv_t").foreach(graft.sources.TableCatalog
      .unregisterManifested(spark, _))
    finally super.afterAll()

  private def rows(ids: Range, ts: Long, tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, ts, tag)).toDF("id", "ts", "tag")
  }

  private def genDirsOf(df: DataFrame): Set[String] =
    df.inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.filter(_.startsWith("_gen-")).toSet

  // ------------------------------------------------------- changefeed

  test("tailChangeBatches classifies insert/upsert/delete per version, " +
      "skips watermark-only versions, and tailChanges tags the rows") {
    val tbl = tmpTable("feed")
    TableManifest.publish(spark, tbl, rows(0 until 0, 0, "seed"))
    val v0 = TableManifest.versions(spark, tbl).last
    TableManifest.append(spark, tbl, rows(0 until 10, 1, "a"), Some(0L))
    TableManifest.upsertDelta(spark, tbl, rows(5 until 15, 2, "b"),
      Seq("id"), "ts", "id", numBuckets = 4, batchId = Some(1L))
    // watermark-only version: empty delta batch with a batch id
    assert(TableManifest.upsertDelta(spark, tbl, rows(0 until 0, 0, "x"),
      Seq("id"), "ts", "id", numBuckets = 4, batchId = Some(2L))
      .contains(Seq.empty))
    import spark.implicits._
    TableManifest.deleteRows(spark, tbl,
      Seq(7L, 8L).toDF("id"), Seq("id"), Some(3L))
    val (batches, head) = TableManifest.tailChangeBatches(spark, tbl, v0)
    assert(batches.map(_.op) == Seq("insert", "upsert", "delete"))
    assert(batches.map(_.version) ==
      Seq(v0 + 1, v0 + 2, v0 + 4)) // v0+3 was watermark-only: no batch
    assert(head == v0 + 4)
    assert(batches(0).rows.count() == 10)
    assert(batches(1).rows.count() == 10)
    assert(batches(1).merge.exists(_.keys == Seq("id")))
    assert(batches(2).rows.count() == 2)
    assert(batches(2).keys == Seq("id"))
    // the frame form: ops and versions stamped, delete rows key-only
    val (df, head2) = TableManifest.tailChanges(spark, tbl, v0)
    assert(head2 == head)
    val byOp = df.groupBy(TableManifest.ChangeOpCol)
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOp == Map("insert" -> 10L, "upsert" -> 10L, "delete" -> 2L))
    assert(df.filter(col(TableManifest.ChangeOpCol) === "delete")
      .select("tag").collect().forall(_.isNullAt(0)))
    // an at-head poll is empty at the same cursor
    val (again, head3) = TableManifest.tailChangeBatches(spark, tbl, head)
    assert(again.isEmpty && head3 == head)
  }

  test("changefeedSink applies a change frame by its schema stamps, and " +
      "refuses a frame holding versions its stamps do not name (two " +
      "change frames unioned) loudly, before any commit") {
    import spark.implicits._
    val tbl = tmpTable("stamps")
    val dst = tmpTable("stampsdst")
    TableManifest.publish(spark, tbl, rows(0 until 0, 0, "seed"))
    TableManifest.publish(spark, dst, rows(0 until 0, 0, "seed"))
    val v0 = TableManifest.versions(spark, tbl).last
    TableManifest.append(spark, tbl, rows(0 until 10, 1, "a"), Some(0L))
    TableManifest.upsertDelta(spark, tbl, rows(5 until 15, 2, "b"),
      Seq("id"), "ts", "id", numBuckets = 4, batchId = Some(1L))
    val v2 = TableManifest.versions(spark, tbl).last
    TableManifest.deleteRows(spark, tbl,
      Seq(7L, 8L).toDF("id"), Seq("id"), Some(2L))
    val head = TableManifest.versions(spark, tbl).last
    val early = TableManifest.changesBetween(spark, tbl, v0, v2)
    val late = TableManifest.changesBetween(spark, tbl, v2, head)
    assert(TableManifest.changeStamps(early.schema)
      .contains(Seq((v0 + 1, "insert"), (v0 + 2, "upsert"))))
    assert(TableManifest.changeStamps(late.schema)
      .contains(Seq((head, "delete"))))
    assert(TableManifest.changeStamps(rows(0 until 3, 1, "x").schema).isEmpty)
    val sink = TableManifest.changefeedSink(dst, Seq("id"), "ts", "id",
      numBuckets = 4)
    def refused(first: DataFrame): Unit = {
      val before = TableManifest.versions(spark, dst).last
      val e = intercept[Exception](sink(first.union(late), 9L))
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
      assert(chain.exists(_.contains("do not name")), chain.mkString(" | "))
      assert(TableManifest.versions(spark, dst).last == before,
        "part of the unioned batch was applied")
    }
    // a frame without stamps is refused loudly, before any commit
    val unstamped = rows(0 until 3, 1, "x")
      .withColumn(TableManifest.ChangeOpCol, lit("insert"))
      .withColumn(TableManifest.ChangeVersionCol, lit(v0 + 1))
    val before = TableManifest.versions(spark, dst).last
    val e = intercept[IllegalArgumentException](sink(unstamped, 8L))
    assert(e.getMessage.contains("no change stamps"), e.getMessage)
    assert(TableManifest.versions(spark, dst).last == before)
    refused(early)
    sink(early, 0L)
    // the last applied version again: its stamped version replay-skips,
    // so no pass reads a row, and the frame is still refused
    refused(TableManifest.changesBetween(spark, tbl, v2 - 1, v2))
    sink(late, 1L)
    def canon(dir: String): Array[String] =
      TableManifest.read(spark, dir)
        .select(concat_ws("|", col("id"), col("ts"), col("tag")))
        .as[String].collect().sorted
    assert(canon(dst).sameElements(canon(tbl)) && canon(dst).length == 13)
  }

  test("enableColumnMapping's merged name list is manifest-priced and " +
      "matches Spark's mergeSchema read over evolving appends") {
    val tbl = tmpTable("mapnames")
    TableManifest.publish(spark, tbl, rows(0 until 4, 1, "a"))
    TableManifest.append(spark, tbl,
      rows(4 until 8, 1, "b").withColumn("extra1", col("id") * 2))
    TableManifest.append(spark, tbl,
      rows(8 until 12, 1, "c").withColumn("extra2", col("tag")))
    val gens = TableManifest.resolveHead(spark, tbl).get.snap.generations
    val sparkMerged = spark.read.option("mergeSchema", "true")
      .parquet(gens.map(g => s"$tbl/$g"): _*).columns.toSeq
    TableManifest.enableColumnMapping(spark, tbl)
    assert(TableManifest.read(spark, tbl).columns.toSeq == sparkMerged,
      s"mapping order diverged from Spark's footer merge: $sparkMerged")
  }

  test("tailChangeBatches stays LOUD on rewritten history and on " +
      "column-mapped tables") {
    val tbl = tmpTable("feedloud")
    TableManifest.publish(spark, tbl, rows(0 until 5, 1, "a"))
    val v1 = TableManifest.versions(spark, tbl).last
    TableManifest.append(spark, tbl, rows(5 until 10, 1, "b"))
    TableManifest.rewrite(spark, tbl)(df => df.coalesce(1))
    val e = intercept[IllegalStateException] {
      TableManifest.tailChangeBatches(spark, tbl, v1)
    }
    assert(e.getMessage.contains("REWRITTEN"))
    val tbl2 = tmpTable("feedmap")
    TableManifest.publish(spark, tbl2, rows(0 until 5, 1, "a"))
    val v2 = TableManifest.versions(spark, tbl2).last
    TableManifest.enableColumnMapping(spark, tbl2)
    TableManifest.append(spark, tbl2, rows(5 until 8, 1, "b"))
    val e2 = intercept[IllegalStateException] {
      TableManifest.tailChangeBatches(spark, tbl2, v2)
    }
    assert(e2.getMessage.contains("COLUMN MAPPING"))
  }

  test("relayChanges mirrors append + delta upsert + delete exactly, " +
      "re-polls commit nothing, and a crash-shaped restart replays " +
      "into the watermark skip") {
    import spark.implicits._
    val src = tmpTable("relaysrc")
    val dst = tmpTable("relaydst")
    val seed = rows(0 until 0, 0, "seed")
    TableManifest.publish(spark, src, seed)
    TableManifest.publish(spark, dst, seed)
    TableManifest.append(spark, src, rows(0 until 20, 1, "a"), Some(0L))
    TableManifest.upsertDelta(spark, src, rows(10 until 30, 2, "b"),
      Seq("id"), "ts", "id", numBuckets = 4, batchId = Some(1L))
    val h1 = TableManifest.relayChanges(spark, src, dst)
    assert(h1 == TableManifest.versions(spark, src).last)
    // poll 2: a delete and a re-adding upsert land upstream
    TableManifest.deleteRows(spark, src,
      (0 until 5).map(_.toLong).toDF("id"), Seq("id"), Some(2L))
    TableManifest.upsertDelta(spark, src, rows(3 until 4, 3, "c"),
      Seq("id"), "ts", "id", numBuckets = 4, batchId = Some(3L))
    val h2 = TableManifest.relayChanges(spark, src, dst)
    def canon(dir: String): Array[String] =
      TableManifest.read(spark, dir)
        .select(concat_ws("|", col("id"), col("ts"), col("tag")))
        .as[String].collect().sorted
    assert(canon(dst).sameElements(canon(src)))
    // content sanity: ids 0-2,4 deleted; 3 re-added at ts 3; 5-9 at
    // ts 1 or 2 winners; winner rule resolved identically both sides
    assert(!canon(dst).exists(_.startsWith("0|")))
    assert(canon(dst).exists(_.startsWith("3|3|c")))
    // an at-head re-poll commits NOTHING to the destination
    val dstHead = TableManifest.versions(spark, dst).last
    val h3 = TableManifest.relayChanges(spark, src, dst)
    assert(h3 == h2 &&
      TableManifest.versions(spark, dst).last == dstHead)
    // crash-shaped restart: the relay holds no state — a fresh call
    // after MORE upstream commits resumes from the destination
    // watermark and delivers exactly the new versions
    TableManifest.append(spark, src, rows(100 until 105, 4, "d"), Some(4L))
    TableManifest.relayChanges(spark, src, dst)
    assert(canon(dst).sameElements(canon(src)))
    // a maintenance rewrite upstream surfaces LOUDLY through the relay
    TableManifest.rewrite(spark, src)(df => df.coalesce(1))
    val e = intercept[IllegalStateException] {
      TableManifest.relayChanges(spark, src, dst)
    }
    assert(e.getMessage.contains("REWRITTEN"))
  }

  test("relayChanges advances the cursor over trailing watermark-only " +
      "source versions with a metadata-only commit") {
    val src = tmpTable("relaywm")
    val dst = tmpTable("relaywmdst")
    TableManifest.publish(spark, src, rows(0 until 0, 0, "seed"))
    TableManifest.publish(spark, dst, rows(0 until 0, 0, "seed"))
    TableManifest.append(spark, src, rows(0 until 5, 1, "a"), Some(0L))
    TableManifest.relayChanges(spark, src, dst)
    val dstGens = TableManifest.currentGenerations(spark, dst)
    // two watermark-only versions upstream
    TableManifest.upsertDelta(spark, src, rows(0 until 0, 0, "x"),
      Seq("id"), "ts", "id", numBuckets = 4, batchId = Some(1L))
    TableManifest.upsertDelta(spark, src, rows(0 until 0, 0, "x"),
      Seq("id"), "ts", "id", numBuckets = 4, batchId = Some(2L))
    val head = TableManifest.relayChanges(spark, src, dst)
    assert(head == TableManifest.versions(spark, src).last)
    // cursor advanced (next poll is O(1))…
    assert(TableManifest.lastBatchId(spark, dst, "relay").contains(head))
    // …with NO new generation at the destination
    assert(TableManifest.currentGenerations(spark, dst) == dstGens)
  }

  // ---------------------------------------------------- upsertDelta

  test("upsertDelta preserves history over mixed layouts and live " +
      "tombstones; compactDeltas folds the mixed state whole") {
    import spark.implicits._
    val tbl = tmpTable("updelta")
    TableManifest.publish(spark, tbl, rows(0 until 4, 1, "p"))
    val before = TableManifest.currentGenerations(spark, tbl)
    // over a PLAIN generation: no copy-on-write boot, no replacement
    TableManifest.upsertDelta(spark, tbl, rows(2 until 6, 2, "u"),
      Seq("id"), "ts", "id", numBuckets = 4)
    val after = TableManifest.currentGenerations(spark, tbl)
    assert(before.forall(after.contains))
    assert(after.filterNot(before.contains)
      .forall(TableManifest.isDeltaGen))
    // winner per key across the mixed layout
    val got = TableManifest.read(spark, tbl)
      .select(concat_ws("|", col("id"), col("ts"), col("tag")))
      .as[String].collect().sorted
    assert(got.sameElements(Array(
      "0|1|p", "1|1|p", "2|2|u", "3|2|u", "4|2|u", "5|2|u")))
    // over live TOMBSTONES: the delete rule applies first, the delta
    // re-adds a deleted key at a later seq
    TableManifest.deleteRows(spark, tbl, Seq(0L, 1L).toDF("id"), Seq("id"))
    TableManifest.upsertDelta(spark, tbl, rows(1 until 2, 3, "r"),
      Seq("id"), "ts", "id", numBuckets = 4)
    val got2 = TableManifest.read(spark, tbl)
      .select(concat_ws("|", col("id"), col("ts"), col("tag")))
      .as[String].collect().sorted
    assert(got2.sameElements(Array(
      "1|3|r", "2|2|u", "3|2|u", "4|2|u", "5|2|u")), got2.mkString(","))
    // fold: deltas AND tombstones retire, content identical
    TableManifest.compactDeltas(spark, tbl)
    val gens = TableManifest.currentGenerations(spark, tbl)
    assert(!gens.exists(TableManifest.isDeltaGen) &&
      !gens.exists(TableManifest.isTombstoneGen))
    val got3 = TableManifest.read(spark, tbl)
      .select(concat_ws("|", col("id"), col("ts"), col("tag")))
      .as[String].collect().sorted
    assert(got3.sameElements(got2))
  }

  // --------------------------------- bucket-granular pruning under MoR

  test("readPruned on a delta-carrying bucketed table opens only " +
      "surviving buckets' generations and resolves winners exactly") {
    import spark.implicits._
    val tbl = tmpTable("morprune")
    val n = 8
    // a value column CLUSTERED per key-bucket: v = bucket(id)*1000 + k,
    // so a [b*1000, b*1000+999] range isolates one bucket — the CDC
    // shape where the key carries locality (per-tenant metrics)
    def mk(ids: Seq[Long], ts: Long): DataFrame =
      ids.toDF("id")
        .withColumn("b",
          pmod(xxhash64(col("id")), lit(n.toLong)).cast("int"))
        .withColumn("v", col("b") * 1000L + col("id") % 100)
        .withColumn("ts", lit(ts))
        .drop("b")
    val all = (0L until 200L).toSeq
    TableManifest.publish(spark, tbl, mk(all, 0L).limit(0),
      statsCol = Some("v"))
    // boot the bucketed layout (CoW), then a DELTA batch — both must
    // inherit the stats column from the inventory
    TableManifest.upsertBucketedDelta(spark, tbl, mk(all, 1L),
      Seq("id"), "ts", "id", numBuckets = n, batchId = Some(0L))
    val target = mk(all, 0L)
      .filter(col("v").between(3000, 3999))
      .select("id").as[Long].collect().toSeq
    assert(target.size >= 5)
    TableManifest.upsertBucketedDelta(spark, tbl,
      mk(target.take(5), 2L), Seq("id"), "ts", "id", numBuckets = n,
      batchId = Some(1L))
    val snapGens = TableManifest.currentGenerations(spark, tbl)
    assert(snapGens.exists(TableManifest.isDeltaGen)) // merge rule live
    val bucket3 = snapGens.filter(g =>
      g.contains("-b3-")).toSet
    assert(bucket3.nonEmpty)
    val pruned = TableManifest.readPruned(spark, tbl, "v", 3000, 3999)
    // only bucket 3's generations (base + delta) enter the scan
    assert(genDirsOf(pruned) == bucket3,
      s"opened ${genDirsOf(pruned)} expected $bucket3")
    // and the content is the exact winner set of the full merged read
    val expect = TableManifest.read(spark, tbl)
      .filter(col("v").between(3000, 3999))
      .select(concat_ws("|", col("id"), col("ts")))
      .as[String].collect().sorted
    val got = pruned.filter(col("v").between(3000, 3999))
      .select(concat_ws("|", col("id"), col("ts")))
      .as[String].collect().sorted
    assert(got.sameElements(expect) && expect.nonEmpty)
    // updated keys resolve to ts=2 (the delta's row), not both versions
    assert(pruned.filter(col("ts") === 2).count() == 5)
    assert(pruned.groupBy("id").count()
      .filter(col("count") > 1).isEmpty)
    // an empty range returns schema-only with no scan
    assert(TableManifest.readPruned(spark, tbl, "v", 1e9, 2e9).isEmpty)
  }

  // ------------------------------------------------- partition drops

  test("dropPartitions is one metadata-only commit; time travel keeps " +
      "the pre-drop version; tailers see it loudly; unvalued rows of " +
      "the dropped values refuse") {
    import spark.implicits._
    val tbl = tmpTable("pdrop")
    def ev(ids: Range): DataFrame =
      ids.map(i => (i.toLong, Seq("click", "view", "buy")(i % 3)))
        .toDF("id", "etype")
    TableManifest.publish(spark, tbl, ev(0 until 0).coalesce(1))
    TableManifest.appendPartitioned(spark, tbl, ev(0 until 60), "etype",
      Some(0L))
    TableManifest.appendPartitioned(spark, tbl, ev(60 until 120), "etype",
      Some(1L))
    val preVersion = TableManifest.versions(spark, tbl).last
    val preGens = TableManifest.currentGenerations(spark, tbl)
    val preCount = TableManifest.read(spark, tbl).count()
    val dropped = TableManifest.dropPartitions(spark, tbl, "etype",
      Seq("click"), Some(2L)).get
    assert(dropped.nonEmpty)
    val nowGens = TableManifest.currentGenerations(spark, tbl)
    // metadata-only: every surviving generation pre-existed, none added
    assert(nowGens.forall(preGens.contains))
    assert(nowGens.toSet == preGens.toSet -- dropped)
    // survivors: no click rows; counts match the value split
    val now = TableManifest.read(spark, tbl)
    assert(now.filter(col("etype") === "click").isEmpty)
    assert(now.count() == preCount - 40)
    // pre-drop version still time-travel-readable, clicks included
    assert(TableManifest.readVersion(spark, tbl, preVersion).count()
      == preCount)
    // a tail from before the drop is LOUD, not silent
    val e = intercept[IllegalStateException] {
      TableManifest.tailAppends(spark, tbl, preVersion)
    }
    assert(e.getMessage.contains("REWRITTEN"))
    // replay: the same batch id skips
    assert(TableManifest.dropPartitions(spark, tbl, "etype",
      Seq("view"), Some(2L)).isEmpty)
    // unvalued generations holding the dropped values refuse loudly
    TableManifest.append(spark, tbl,
      Seq((500L, "view")).toDF("id", "etype"))
    val e2 = intercept[IllegalStateException] {
      TableManifest.dropPartitions(spark, tbl, "etype", Seq("view"))
    }
    assert(e2.getMessage.contains("UNVALUED"))
    // …but values absent from the unvalued generations still drop
    assert(TableManifest.dropPartitions(spark, tbl, "etype",
      Seq("buy")).get.nonEmpty)
    assert(TableManifest.read(spark, tbl)
      .filter(col("etype") === "buy").isEmpty)
  }

  test("dropPartitions refuses while merge-on-read deltas live") {
    import spark.implicits._
    val tbl = tmpTable("pdropmor")
    def ev(ids: Range, ts: Long): DataFrame =
      ids.map(i => (i.toLong, s"t${i % 2}", ts)).toDF("id", "etype", "ts")
    TableManifest.publish(spark, tbl, ev(0 until 0, 0).coalesce(1))
    TableManifest.appendPartitioned(spark, tbl, ev(0 until 20, 1), "etype")
    TableManifest.upsertDelta(spark, tbl, ev(0 until 5, 2), Seq("id"),
      "ts", "id", numBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      TableManifest.dropPartitions(spark, tbl, "etype", Seq("t0"))
    }
    assert(e.getMessage.contains("merge-on-read"))
  }

  // -------------------------------------------- transform partitioning

  test("day(ts) transform partitioning records ISO day values and " +
      "readPartitionRange prunes generations off the manifest") {
    import spark.implicits._
    val tbl = tmpTable("ptrans")
    // TIMESTAMP_NTZ, like the testdata's ts columns — session-local
    // TIMESTAMP is refused by the transform gate (zone-dependent
    // partition values would prune wrong across sessions)
    def ev(ids: Range): DataFrame =
      ids.map { i =>
        (i.toLong, s"2026-08-${10 + i % 4} 0${i % 9}:15:00")
      }.toDF("id", "s")
        .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    TableManifest.publish(spark, tbl, ev(0 until 0).coalesce(1))
    val parts = TableManifest.appendPartitioned(spark, tbl,
      ev(0 until 80), "day(ts)", Some(0L)).get
    assert(parts.keySet ==
      Set("2026-08-10", "2026-08-11", "2026-08-12", "2026-08-13"))
    val seedGens = TableManifest.currentGenerations(spark, tbl)
      .filterNot(parts.values.toSet).toSet
    val hit = TableManifest.readPartitionRange(spark, tbl, "day(ts)",
      "2026-08-11", "2026-08-12")
    // generation-open count: the two asked days plus the unvalued seed
    val expectGens = parts.collect {
      case (v, g) if v >= "2026-08-11" && v <= "2026-08-12" => g
    }.toSet ++ seedGens
    assert(genDirsOf(hit) == expectGens,
      s"opened ${genDirsOf(hit)} expected $expectGens")
    // content: exactly the raw time-range rows (row predicate on top)
    val got = hit.filter(col("ts").between(
      "2026-08-11 00:00:00", "2026-08-12 23:59:59")).count()
    val expect = ev(0 until 80).filter(col("ts").between(
      "2026-08-11 00:00:00", "2026-08-12 23:59:59")).count()
    assert(got == expect && got > 0)
    // the transform spec is pinned: a different spec refuses
    val e = intercept[IllegalArgumentException] {
      TableManifest.appendPartitioned(spark, tbl, ev(80 until 90), "ts")
    }
    assert(e.getMessage.contains("partitioned by"))
    // dropPartitions composes with the transform: drop one day
    TableManifest.dropPartitions(spark, tbl, "day(ts)",
      Seq("2026-08-10"))
    assert(TableManifest.read(spark, tbl)
      .filter(col("ts") < "2026-08-11 00:00:00").isEmpty)
  }

  test("multi-column partition specs commit one generation per value " +
      "pair; exact-value pruning and drops compose; range reads refuse") {
    import spark.implicits._
    val tbl = tmpTable("pmulti")
    def ev(ids: Range): DataFrame =
      ids.map { i =>
        (i.toLong, Seq("click", "view")(i % 2),
          s"2026-08-${10 + i % 2} 03:15:00")
      }.toDF("id", "kind", "s")
        .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    TableManifest.publish(spark, tbl, ev(0 until 0).coalesce(1))
    val parts = TableManifest.appendPartitioned(spark, tbl,
      ev(0 until 40), "kind,day(ts)", Some(0L)).get
    // click rows land on 08-10 (even ids), view rows on 08-11
    assert(parts.keySet == Set("click/2026-08-10", "view/2026-08-11"))
    val seedGens = TableManifest.currentGenerations(spark, tbl)
      .filterNot(parts.values.toSet).toSet
    // exact-value pruning: the click/08-10 generation + unvalued seed
    val hit = TableManifest.readPartitions(spark, tbl, "kind,day(ts)",
      Seq("click/2026-08-10"))
    assert(genDirsOf(hit) ==
      seedGens + parts("click/2026-08-10"),
      s"opened ${genDirsOf(hit)}")
    assert(hit.count() == 20)
    // a range read over the composite refuses loudly
    val e = intercept[IllegalArgumentException] {
      TableManifest.readPartitionRange(spark, tbl, "kind,day(ts)",
        "a", "z")
    }
    assert(e.getMessage.contains("multiple components"))
    // dropping one (kind, day) pair is one metadata commit
    val dropped = TableManifest.dropPartitions(spark, tbl,
      "kind,day(ts)", Seq("view/2026-08-11")).get
    assert(dropped == Seq(parts("view/2026-08-11")))
    assert(TableManifest.read(spark, tbl).count() == 20)
    assert(TableManifest.read(spark, tbl)
      .filter(col("kind") === "view").isEmpty)
    // the multi-column spec is pinned like any other
    val e2 = intercept[IllegalArgumentException] {
      TableManifest.appendPartitioned(spark, tbl, ev(40 until 44), "kind")
    }
    assert(e2.getMessage.contains("partitioned by"))
  }

  test("partitionValue encodes raw components exactly as the writer " +
      "records them — a reader session needs no writer-returned map") {
    import spark.implicits._
    val tbl = tmpTable("pmenc")
    // a value with a space AND one with a '/' — the encoding traps
    val df = Seq((1L, "New York", "a"), (2L, "us/east", "b"),
        (3L, "plain", "c"))
      .toDF("id", "city", "tag")
    TableManifest.publish(spark, tbl, df.limit(0).coalesce(1))
    val parts = TableManifest.appendPartitioned(spark, tbl, df,
      "city,tag").get
    // the public encoder reproduces every recorded composite
    assert(parts.keySet == Set(
      TableManifest.partitionValue("city,tag", Seq("New York", "a")),
      TableManifest.partitionValue("city,tag", Seq("us/east", "b")),
      TableManifest.partitionValue("city,tag", Seq("plain", "c"))))
    // and an exact-value read through it returns exactly the row —
    // including the '/'-carrying value, which CANNOT fake a component
    // boundary (it encodes as %2F)
    val hit = TableManifest.readPartitions(spark, tbl, "city,tag",
      Seq(TableManifest.partitionValue("city,tag", Seq("us/east", "b"))))
      .filter(col("city") === "us/east")
    assert(hit.select("id").as[Long].collect().sameElements(Array(2L)))
    // arity is checked loudly
    val e = intercept[IllegalArgumentException] {
      TableManifest.partitionValue("city,tag", Seq("only-one"))
    }
    assert(e.getMessage.contains("component"))
  }

  // ------------------------------------------------------ type widening

  test("mappedRead widens int→long and float→double value-exactly " +
      "across generations, and stays LOUD off the lattice") {
    import spark.implicits._
    val tbl = tmpTable("widen")
    val g1 = (0 until 5).map(i => (i.toLong, i, i.toFloat / 2))
      .toDF("id", "v", "f")
    TableManifest.publish(spark, tbl, g1)
    TableManifest.enableColumnMapping(spark, tbl)
    val g2 = (5 until 10)
      .map(i => (i.toLong, i.toLong * 3000000000L, i.toDouble / 2))
      .toDF("id", "v", "f")
    TableManifest.append(spark, tbl, g2)
    val out = TableManifest.read(spark, tbl)
    assert(out.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.schema("f").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val got = out.select(concat_ws("|", col("id"), col("v"), col("f")))
      .as[String].collect().sorted
    val expect = ((0 until 5).map(i =>
        s"$i|$i|${i.toFloat / 2}") ++
      (5 until 10).map(i =>
        s"$i|${i.toLong * 3000000000L}|${i.toDouble / 2}"))
      .sorted
    assert(got.sameElements(expect), got.mkString(","))
    // a rename still rides the widened read (metadata-only)
    TableManifest.renameColumn(spark, tbl, "v", "val")
    assert(TableManifest.read(spark, tbl)
      .filter(col("val") === 15000000000L).count() == 1)
    // long vs double is LOSSY — refuse loudly instead of coercing
    val g3 = (10 until 12).map(i => (i.toLong, i.toDouble, 1.0d))
      .toDF("id", "val", "f")
    TableManifest.append(spark, tbl, g3)
    val e = intercept[IllegalStateException] {
      TableManifest.read(spark, tbl).collect()
    }
    assert(e.getMessage.contains("irreconcilable"))
  }

  // ----------------------------------------------------------- SQL DML

  test("SQL DML drives the manifested lifecycle: INSERT INTO … SELECT, " +
      "MERGE INTO … VERSION BY, DELETE FROM … WHERE IN") {
    import spark.implicits._
    import graft.sources.TableCatalog
    val tbl = tmpTable("dml")
    TableManifest.publish(spark, tbl, rows(0 until 0, 0, "seed"))
    TableCatalog.registerManifested(spark, "dml_t", tbl)
    rows(0 until 10, 1, "a").createOrReplaceTempView("dml_src")
    val ins = TableCatalog.dmlManifested(spark,
      "INSERT INTO dml_t SELECT id, ts, tag FROM dml_src")
    assert(ins.head.getString(0) == "insert" && ins.head.getLong(2) == 10)
    val mrg = TableCatalog.dmlManifested(spark,
      "MERGE INTO dml_t USING (SELECT id, CAST(2 AS BIGINT) AS ts, " +
        "'b' AS tag FROM dml_src WHERE id >= 5) ON id " +
        "VERSION BY ts, id BUCKETS 4")
    assert(mrg.head.getString(0) == "merge" && mrg.head.getLong(2) == 5)
    val del = TableCatalog.dmlManifested(spark,
      "DELETE FROM dml_t WHERE id IN (0, 1, 2)")
    assert(del.head.getString(0) == "delete" && del.head.getLong(2) == 3)
    val got = TableCatalog.sqlManifested(spark,
      "SELECT id, ts, tag FROM dml_t ORDER BY id")
      .select(concat_ws("|", col("id"), col("ts"), col("tag")))
      .as[String].collect()
    assert(got.sameElements(Array(
      "3|1|a", "4|1|a", "5|2|b", "6|2|b", "7|2|b", "8|2|b", "9|2|b")),
      got.mkString(","))
    // column mismatch on INSERT is refused loudly, not aligned silently
    val e = intercept[IllegalArgumentException] {
      TableCatalog.dmlManifested(spark,
        "INSERT INTO dml_t SELECT id, ts FROM dml_src")
    }
    assert(e.getMessage.contains("column mismatch"))
    // unsupported shapes name the supported surface
    val e2 = intercept[IllegalArgumentException] {
      TableCatalog.dmlManifested(spark, "UPDATE dml_t SET tag = 'x'")
    }
    assert(e2.getMessage.contains("unsupported DML"))
  }

  // ------------------------------------- round-13 review-pass fixes

  test("bucket layouts record key provenance: a post-fold upsert under " +
      "DIFFERENT keys refuses or drops the layout, never prunes wrong") {
    import spark.implicits._
    def mk(ids: Seq[Long], ts: Long, tag: String): DataFrame =
      ids.map(i => (i, ts, s"$tag$i")).toDF("id", "ts", "tag")
    val tbl = tmpTable("bkeys")
    TableManifest.publish(spark, tbl, mk(Nil, 0, "s").limit(0))
    // boot the layout under keys=(id), then fold: merge rule cleared,
    // layout + its recorded key provenance survive
    TableManifest.upsertBucketedDelta(spark, tbl, mk(0L until 40L, 1, "a"),
      Seq("id"), "ts", "id", numBuckets = 4)
    TableManifest.upsertBucketedDelta(spark, tbl, mk(10L until 20L, 2, "b"),
      Seq("id"), "ts", "id", numBuckets = 4)
    TableManifest.compactDeltas(spark, tbl)
    val snap = TableManifest.resolveHead(spark, tbl).get.snap
    assert(snap.merge.isEmpty &&
      snap.buckets.contains(TableManifest.BucketLayout(4, Seq("id"))))
    // the CoW verb under different keys refuses loudly (pre-fix it
    // silently reused buckets hashed under the OLD keys, stranding
    // stale rows in buckets the new hash never reads)
    val e = intercept[IllegalArgumentException] {
      TableManifest.upsertBucketed(spark, tbl, mk(0L until 5L, 3, "c"),
        Seq("tag"), "ts", "id", numBuckets = 4)
    }
    assert(e.getMessage.contains("bucketed by keys"))
    // … and the delta verbs route the same way: upsertBucketedDelta's
    // boot path hits the same refusal
    val e2 = intercept[IllegalArgumentException] {
      TableManifest.upsertBucketedDelta(spark, tbl, mk(0L until 5L, 3, "c"),
        Seq("tag"), "ts", "id", numBuckets = 4)
    }
    assert(e2.getMessage.contains("bucketed by keys"))
    // the history-preserving verb ACCEPTS (correctness is the winner
    // rule alone) but must DROP the layout declaration — its tags are
    // not hashed under the new keys, so every bucket-locality consumer
    // (pruning, bounded folds, point reads) must see "not bucketed"
    TableManifest.upsertDelta(spark, tbl, mk(0L until 5L, 3, "c"),
      Seq("tag"), "ts", "id", numBuckets = 4)
    val snap2 = TableManifest.resolveHead(spark, tbl).get.snap
    assert(snap2.buckets.isEmpty)
    // winners still exact: the 5 delta rows carry FRESH tag keys, so
    // under keys=(tag) nothing collides — 40 old + 5 new rows resolve
    // over the whole table
    assert(TableManifest.read(spark, tbl).count() == 45)
    assert(TableManifest.read(spark, tbl)
      .filter(col("ts") === 3).count() == 5)
    // fold of the mismatched state goes whole-table and stays exact
    TableManifest.compactDeltas(spark, tbl)
    assert(TableManifest.read(spark, tbl).count() == 45)
    assert(TableManifest.read(spark, tbl)
      .filter(col("ts") === 3).count() == 5)
  }

  test("readKeyBuckets falls back to the full set when the lookup keys " +
      "differ from the recorded layout keys") {
    import spark.implicits._
    def mk(ids: Seq[Long], ts: Long): DataFrame =
      ids.map(i => (i, ts, s"t$i")).toDF("id", "ts", "tag")
    val tbl = tmpTable("bkeyspoint")
    TableManifest.publish(spark, tbl, mk(Nil, 0).limit(0))
    TableManifest.upsertBucketedDelta(spark, tbl, mk(0L until 50L, 1),
      Seq("id"), "ts", "id", numBuckets = 8)
    // matched keys: exact point read (content pinned)
    val hit = TableManifest.readKeyBuckets(spark, tbl, Seq("id"),
      Seq(3L, 17L).toDF("id"))
    assert(hit.select("id").as[Long].collect().sorted
      .sameElements(Array(3L, 17L)))
    // mismatched keys: the routing hash has nothing to do with the
    // recorded layout — the read must fall back to every generation
    // and still return exactly the matching rows
    val byTag = TableManifest.readKeyBuckets(spark, tbl, Seq("tag"),
      Seq("t3", "t17").toDF("tag"))
    assert(byTag.select("id").as[Long].collect().sorted
      .sameElements(Array(3L, 17L)))
  }

  test("transform partition specs refuse session-local TIMESTAMP " +
      "columns (zone-dependent values would prune wrong)") {
    import spark.implicits._
    val tbl = tmpTable("tzgate")
    val ltz = Seq((1L, "2026-08-01 10:00:00"))
      .toDF("id", "s")
      .withColumn("ts", to_timestamp(col("s"))).drop("s")
    assert(ltz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    TableManifest.publish(spark, tbl, ltz.limit(0))
    val e = intercept[IllegalArgumentException] {
      TableManifest.appendPartitioned(spark, tbl, ltz, "day(ts)")
    }
    assert(e.getMessage.contains("TIMESTAMP_NTZ"))
    // DATE is zone-independent and passes
    val tbl2 = tmpTable("tzgate2")
    val dated = ltz.withColumn("ts", col("ts").cast("date"))
    TableManifest.publish(spark, tbl2, dated.limit(0))
    val parts = TableManifest.appendPartitioned(spark, tbl2, dated,
      "day(ts)").get
    assert(parts.keySet == Set("2026-08-01"))
  }

  test("tailChangeBatches surfaces a vacuumed replay range as the loud " +
      "REWRITTEN signal, not a raw missing-path error") {
    val tbl = tmpTable("vanish")
    TableManifest.publish(spark, tbl, rows(0 until 0, 0, "s"))
    val v1 = TableManifest.versions(spark, tbl).last
    TableManifest.append(spark, tbl, rows(0 until 5, 1, "a"))     // v2
    TableManifest.rewrite(spark, tbl)(df => df.coalesce(1))       // v3
    TableManifest.append(spark, tbl, rows(5 until 8, 2, "b"))     // v4:
    // its vacuum reaps v2's generation (referenced only below v3)
    val e = intercept[IllegalStateException] {
      TableManifest.tailChangeBatches(spark, tbl, v1)
    }
    assert(e.getMessage.contains("REWRITTEN") &&
      e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("tailChanges refuses a table already carrying the reserved " +
      "op/version columns instead of overwriting them") {
    import spark.implicits._
    val tbl = tmpTable("reserved")
    val df = Seq((1L, "ins")).toDF("id", TableManifest.ChangeOpCol)
    TableManifest.publish(spark, tbl, df.limit(0))
    val v1 = TableManifest.versions(spark, tbl).last
    TableManifest.append(spark, tbl, df)
    val e = intercept[IllegalArgumentException] {
      TableManifest.tailChanges(spark, tbl, v1)
    }
    assert(e.getMessage.contains("reserved column"))
    // …and the guard covers EVERY batch in the window, not just the
    // first: a schema-evolving append introducing the column
    // mid-window must refuse the same way (a review pass found the
    // head-only check let later batches overwrite silently)
    val tbl2 = tmpTable("reserved2")
    TableManifest.publish(spark, tbl2,
      Seq((0L, "t")).toDF("id", "tag").limit(0))
    val v0 = TableManifest.versions(spark, tbl2).last
    TableManifest.append(spark, tbl2, Seq((1L, "a")).toDF("id", "tag"))
    TableManifest.append(spark, tbl2,
      Seq((2L, "b", "captured")).toDF("id", "tag",
        TableManifest.ChangeOpCol))
    val e2 = intercept[IllegalArgumentException] {
      TableManifest.tailChanges(spark, tbl2, v0)
    }
    assert(e2.getMessage.contains("reserved column"))
  }

  test("retention barrier is monotonic under competing publications") {
    val tbl = tmpTable("barrier")
    TableManifest.publish(spark, tbl, rows(0 until 2, 0, "s"))
    (1 to 11).foreach(i =>
      TableManifest.append(spark, tbl, rows(i until i + 1, i.toLong, "a")))
    assert(TableManifest.truncateLog(spark, tbl, keepVersions = 8) > 0)
    val b = TableManifest.readBarrier(spark, tbl)
    assert(b > 0)
    // the ABA shape the advisory found: a slow competing truncator's
    // DELAYED lower publication lands after a higher cut — under the
    // CAS-per-value store it cannot regress the max
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val low = new org.apache.hadoop.fs.Path(tbl,
      f"_graft_barrier/${1L}%020d.json")
    val out = fs.create(low, true)
    out.write("""{"seq":1}""".getBytes("UTF-8")); out.close()
    assert(TableManifest.readBarrier(spark, tbl) == b)
  }

  test("INSERT INTO … VALUES aligns positionally (arity-checked); a " +
      "no-match DELETE pins no delete rule") {
    import spark.implicits._
    import graft.sources.TableCatalog
    val tbl = tmpTable("dmlvalues")
    TableManifest.publish(spark, tbl,
      Seq((0L, 0L, "z")).toDF("id", "ts", "tag").limit(0))
    TableCatalog.registerManifested(spark, "dmlv_t", tbl)
    val ins = TableCatalog.dmlManifested(spark,
      "INSERT INTO dmlv_t VALUES (1, 10, 'a'), (2, 20, 'b')")
    assert(ins.head.getLong(2) == 2)
    val got = TableCatalog.sqlManifested(spark,
      "SELECT id, ts, tag FROM dmlv_t ORDER BY id")
      .select(concat_ws("|", col("id"), col("ts"), col("tag")))
      .as[String].collect()
    assert(got.sameElements(Array("1|10|a", "2|20|b")), got.mkString(","))
    val arity = intercept[IllegalArgumentException] {
      TableCatalog.dmlManifested(spark,
        "INSERT INTO dmlv_t VALUES (3, 30)")
    }
    assert(arity.getMessage.contains("arity"))
    // a DELETE matching nothing must not commit a tombstone (the
    // delete rule would tax every later read for a no-op)
    val before = TableManifest.currentGenerations(spark, tbl)
    val del = TableCatalog.dmlManifested(spark,
      "DELETE FROM dmlv_t WHERE id IN (999)")
    assert(del.head.getLong(2) == 0)
    assert(TableManifest.currentGenerations(spark, tbl) == before)
  }

  test("an EMPTY upsertDelta is a no-op: no generation, no merge rule " +
      "pinned (duplicate keys stay unresolved), and the changefeed " +
      "relays it as a cursor-advancing watermark commit — the contract " +
      "the q257/q263 oracles encode at scales where the fixture's " +
      "upsert slices are empty") {
    import spark.implicits._
    val src = tmpTable("emptyupsrc")
    val dst = tmpTable("emptyupdst")
    val rows = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "tag")
    TableManifest.publish(spark, src, rows.limit(0))
    TableManifest.publish(spark, dst, rows.limit(0))
    TableManifest.append(spark, src, rows, Some(0L))
    val gensBefore = TableManifest.currentGenerations(spark, src)
    // empty batch: watermark-only — generations unchanged, NO merge
    // rule (a no-op upsert must not change what the table reads as)
    TableManifest.upsertDelta(spark, src, rows.limit(0),
      Seq("k"), "ts", "tag", numBuckets = 4, batchId = Some(1L))
    assert(TableManifest.currentGenerations(spark, src) == gensBefore,
      "an empty upsertDelta must commit no generation")
    assert(TableManifest.read(spark, src).count() == 3,
      "an empty upsertDelta must not pin a merge rule: duplicate keys " +
        "stay unresolved (3 rows, not winner-per-key's 2)")
    // the changefeed mirrors the no-op: one catch-up delivers the
    // append's rows only, and the cursor lands at the head (the
    // watermark-only version advances it without a batch)
    val h1 = TableManifest.relayChanges(spark, src, dst)
    assert(h1 == TableManifest.versions(spark, src).last)
    assert(TableManifest.read(spark, dst).count() == 3)
    val dstHead = TableManifest.versions(spark, dst).last
    assert(TableManifest.relayChanges(spark, src, dst) == h1 &&
      TableManifest.versions(spark, dst).last == dstHead,
      "an at-head re-poll after the no-op must commit nothing")
  }
}
