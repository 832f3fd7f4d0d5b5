package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest
import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def ts(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2026-01-01 00:$min%02d:00")

  private def sampleEvents: Seq[Streams.Event] = Seq(
    Streams.Event(1L, ts(0), 10L, "click", 1.0),
    Streams.Event(2L, ts(5), 10L, "click", 2.0),
    Streams.Event(3L, ts(7), 20L, "view", 3.0),
    Streams.Event(4L, ts(45), 10L, "click", 4.0))

  test("tumbling window agg over a MemoryStream matches batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    input.addData(sampleEvents: _*)
    val dir = tmpDir("strm")
    val q = Streams.tumblingCounts(input.toDF(), windowLen = "30 minutes")
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumbling_test")
        .select("event_type", "n_events", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      // window [00:00,00:30): 3 clicks? no – 2 clicks + 1 view; [00:30,01:00): 1 click
      assert(rows.contains(("click", 2L, 3.0)))
      assert(rows.contains(("view", 1L, 3.0)))
      assert(rows.contains(("click", 1L, 4.0)))
    } finally q.stop()
  }

  test("classifyStream scores a live stream with the batch-fitted model " +
      "and matches batch predictions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "aa", "apple banana apple cherry"),
      (1L, "aa", "banana banana cherry apple"),
      (2L, "bb", "dog elephant fox dog"),
      (3L, "bb", "fox dog elephant elephant")
    ).toDF("doc_id", "lang", "text")
    val model = graft.ops.TrainingData.naiveBayesFit(corpus)
    assert(model.map(_.name) == Seq("aa", "bb"))
    val batchPred = graft.ops.TrainingData.naiveBayesClassify(corpus)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap

    val input = MemoryStream[(Long, String)]
    input.addData((0L, "apple banana apple cherry"),
      (2L, "dog elephant fox dog"),
      (4L, "banana dog")) // mixed + an unseen-token-free doc
    val dir = tmpDir("strm")
    val q = Streams.classifyStream(
        input.toDF().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("classify_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("classify_test")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      // streamed predictions agree with the batch classifier
      assert(rows(0L) == batchPred(0L) && rows(2L) == batchPred(2L),
        rows.toString)
      assert(rows(0L) == "aa" && rows(2L) == "bb")
      // "banana dog" has one token from each vocab: equal likelihoods
      // and equal priors → the deterministic tie-break picks "aa"
      assert(rows(4L) == "aa", rows.toString)
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", 0.1), ("view", 0.5), ("purchase", 5.0))
      .toDF("event_type", "weight")
    val input = MemoryStream[Streams.Event]
    input.addData(sampleEvents: _*)
    val dir = tmpDir("strm")
    val q = Streams.enrichWithDim(input.toDF(), dim, "event_type")
      .select(col("event_id"), col("weight") * col("value"))
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val byId = spark.table("enrich_test").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(byId == Map(1L -> 0.1, 2L -> 0.2, 3L -> 1.5, 4L -> 0.4),
        byId.toString)
    } finally q.stop()
  }

  test("upsert snapshot sink materializes the latest row per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    val dir = tmpDir("upsert")
    val snapshot = s"$dir/snapshot"
    TableManifest.publish(spark, snapshot, Seq.empty[Streams.Event].toDF())
    val q = input.toDF().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(TableManifest.upsertSink(snapshot, Seq("user_id"), "ts",
        "event_id"))
      .start()
    try {
      input.addData(
        Streams.Event(1L, ts(0), 10L, "state_a", 1.0),
        Streams.Event(2L, ts(1), 20L, "state_x", 2.0))
      q.processAllAvailable()
      // second batch: newer state for user 10, duplicate delivery for 20
      input.addData(
        Streams.Event(3L, ts(5), 10L, "state_b", 3.0),
        Streams.Event(2L, ts(1), 20L, "state_x", 2.0))
      q.processAllAvailable()
      val snap = TableManifest.read(spark, snapshot)
        .select("user_id", "event_type").as[(Long, String)].collect().toMap
      assert(snap == Map(10L -> "state_b", 20L -> "state_x"), snap.toString)
      assert(TableManifest.read(spark, snapshot).count() == 2,
        "duplicate delivery must not duplicate snapshot rows")
    } finally q.stop()
  }

  test("stateful running totals via mapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    input.addData(sampleEvents: _*)
    val dir = tmpDir("strm")
    val q = Streams.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val byUser = spark.table("state_test")
        .groupBy("user_id")
        .agg(max("n_events").as("n"), max("total_value").as("v"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(byUser(10L) == ((3L, 7.0)))
      assert(byUser(20L) == ((1L, 3.0)))
    } finally q.stop()
  }

  test("file-source stream over the corpus matches the batch aggregation") {
    val dir = tmpDir("strm")
    val q = Streams.tumblingCounts(
        Streams.eventsFileStream(spark, TestSpark.sfDir))
      .writeStream.format("memory").queryName("file_stream_test")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_stream_test")
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      val batch = graft.ops.Analytics
        .q26TumblingWindow(spark, TestSpark.sfDir)
        .select("window_start", "event_type", "n_events", "sum_value")
      assert(streamed.count() == batch.count())
      assert(batch.exceptAll(streamed).isEmpty &&
        streamed.exceptAll(batch).isEmpty,
        "streaming and batch window aggregates diverge")
    } finally q.stop()
  }

  test("checkpointed parquet sink is exactly-once across restart") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val base = tmpDir("strm")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    val src = new java.io.File(s"${TestSpark.sfDir}/events.parquet").toPath

    def runOnce(): Unit = {
      val q = Streams.eventsFileStream(spark, in, glob = "*.parquet")
        .select("event_id", "user_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val perFile = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet").count()
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(s"$in/events.parquet"))
    runOnce()
    assert(spark.read.parquet(out).count() == perFile)

    // restart with one NEW file present: only the new file is processed —
    // the checkpoint prevents re-ingesting (and re-emitting) the first
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(s"$in/events2.parquet"))
    runOnce()
    val finalDf = spark.read.parquet(out)
    assert(finalDf.count() == 2 * perFile,
      "restart must process exactly the new file once")
    // every event id appears exactly twice (once per input file), never more
    val maxDup = finalDf.groupBy(col("event_id")).count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxDup == 2L, s"duplicate emission detected: $maxDup")
  }

  test("streaming dedup drops same-content re-deliveries within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    input.addData(
      (1L, ts(0), "the first document body"),
      (2L, ts(1), "a second distinct document"),
      (3L, ts(2), "the first document body"), // re-delivery of 1's content
      (4L, ts(3), "a third distinct document"))
    val dir = tmpDir("strm")
    val q = Streams.dedupStream(
        input.toDF().toDF("doc_id", "ts", "text"), "text")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // same content re-delivered in a later batch must still dedupe
      input.addData((5L, ts(4), "a second distinct document"))
      q.processAllAvailable()
      val kept = spark.table("dedup_test").select("doc_id")
        .as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 4L),
        s"expected exactly the first delivery of each content, got $kept")
    } finally q.stop()
  }

  test("batch sessionize splits on gaps") {
    import spark.implicits._
    val batch = sampleEvents.toDF()
    val sessions = Streams.sessionize(batch, gap = "10 minutes")
      .filter(col("user_id") === 10L)
    // user 10: events at 0,5 (one session) and 45 (another)
    assert(sessions.count() == 2)
  }

  test("stream-stream interval join matches clicks to in-horizon views only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Streams.Event]
    val clicks = MemoryStream[Streams.Event]
    views.addData(
      Streams.Event(1L, ts(0), 10L, "view", 0.0),
      Streams.Event(2L, ts(0), 20L, "view", 0.0))
    clicks.addData(
      Streams.Event(101L, ts(5), 10L, "click", 0.0),  // in horizon
      Streams.Event(102L, ts(50), 20L, "click", 0.0), // beyond 30 min
      Streams.Event(103L, ts(2), 30L, "click", 0.0))  // no view at all
    val dir = tmpDir("strm")
    val q = Streams.joinViewsToClicks(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssjoin_test")
        .select("user_id", "view_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((10L, 1L, 101L)),
        s"only the in-horizon same-user pair joins: $got")
    } finally q.stop()
  }

  test("variance monitor: window-over-window delta alarms past the threshold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.Event]
    // minute windows: m0 has 10 events, m1 has 16 (+60% → alert),
    // m2 has 16 (0% → calm), m3 only OPENS windows m0-m2 for emission
    def at(min: Int, sec: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2026-01-01 00:$min%02d:$sec%02d")
    var id = 0L
    def burst(min: Int, n: Int): Seq[Streams.Event] =
      (0 until n).map { i =>
        id += 1; Streams.Event(id, at(min, i % 60), 1L, "click", 1.0)
      }
    // deliberately deliver the bursts out of window order within the one
    // micro-batch: flatMapGroupsWithState guarantees no intra-group order,
    // so the monitor must sort by event time before folding
    val b0 = burst(0, 10); val b1 = burst(1, 16); val b2 = burst(2, 16)
    val b3 = burst(3, 1)
    input.addData(b2 ++ b0 ++ b3 ++ b1: _*)
    val dir = tmpDir("strm")
    val q = Streams.varianceMonitor(input.toDF(), "event_type", "ts",
        windowSeconds = 60, thresholdPct = 5.0)
      .writeStream.format("memory").queryName("varmon_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("varmon_test")
        .orderBy("window_start")
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getBoolean(5)))
      assert(rows.length == 3, s"three closed windows: ${rows.toSeq}")
      // first window: no previous run → variance 0, never alerts
      assert(rows(0) == ((10L, 0L, 0.0, false)))
      assert(rows(1) == ((16L, 10L, 60.0, true)))
      assert(rows(2) == ((16L, 16L, 0.0, false)))
    } finally q.stop()
  }

  test("streaming near-dup flags banded-minhash collisions across " +
      "micro-batches, distinct docs pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = base.replace("theta", "CHANGED")
    val distinct = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val input = MemoryStream[(Long, String)]
    input.addData((1L, base), (3L, distinct))
    val dir = tmpDir("strm")
    val q = Streams.nearDupStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id",
        bands = 8, minEstJaccard = 0.4, stateTtlMs = -1L)
      .writeStream.format("memory").queryName("neardup_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      // the near-dup arrives in a LATER micro-batch: only bucket state
      // can link it back to doc 1
      input.addData((2L, nearDup), (4L, base)) // 4 = exact re-delivery
      q.processAllAvailable()
      val hits = spark.table("neardup_test")
        .select("doc_id", "dup_of", "est_jaccard")
        .as[(Long, Long, Double)].collect()
      val byDoc = hits.groupBy(_._1)
      // doc 2 (one word changed) links to 1 with a high estimate
      assert(byDoc.contains(2L), s"near-dup not flagged: ${hits.toSeq}")
      assert(byDoc(2L).forall(_._2 == 1L))
      assert(byDoc(2L).exists(_._3 >= 0.4))
      // doc 4 (identical) links to 1 at estimate 1.0
      assert(byDoc.contains(4L) && byDoc(4L).exists(h =>
        h._2 == 1L && h._3 == 1.0), s"exact re-delivery: ${hits.toSeq}")
      // the distinct doc is never flagged, and originals are not hits
      assert(!byDoc.contains(3L) && !byDoc.contains(1L), hits.toSeq.toString)
    } finally q.stop()
  }

  test("nearDupStreamEventTime: bucket state evicts on the EVENT-TIME " +
      "horizon under fast replay, where a wall-clock TTL would retain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = base.replace("theta", "CHANGED")
    val filler1 = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val filler2 = "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince dieciseis"
    val t0 = 1700000000000L
    def doc(id: Long, text: String, tMs: Long) =
      (id, text, new java.sql.Timestamp(tMs))
    val dir = tmpDir("ettl")

    // the whole 3-event-hour history replays in milliseconds of wall
    // clock — the backfill case where the two TTL semantics diverge
    def run(name: String)(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[Streams.NearDupHit]): Set[Long] = {
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val q = mk(input.toDF().toDF("doc_id", "text", "ts"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", s"$dir/$name/ckpt")
        .start()
      try {
        // b1: the original; b2: within-horizon near-dup (positive case)
        // + an unrelated doc 3h later that advances the watermark past
        // the original's ttl; b3: unrelated data so the expired bucket
        // gets its timeout-only invocation; b4: the late near-dup
        input.addData(doc(1L, base, t0))
        q.processAllAvailable()
        input.addData(doc(2L, nearDup, t0 + 5 * 60000L),
          doc(8L, filler1, t0 + 3 * 3600000L))
        q.processAllAvailable()
        input.addData(doc(9L, filler2, t0 + 3 * 3600000L + 60000L))
        q.processAllAvailable()
        input.addData(doc(3L, base + " tail", t0 + 3 * 3600000L + 120000L))
        q.processAllAvailable()
        spark.table(name).select("doc_id").as[Long].collect().toSet
      } finally q.stop()
    }

    // event-time TTL 30 min, watermark delay 1 min: doc 2 (5 min after
    // the original, inside the horizon) hits; doc 3 (3 h after, horizon
    // long passed) must NOT — its bucket was evicted when the watermark
    // crossed t0 + ttl, exactly as a live run would have
    val et = run("ettl_event") { df =>
      Streams.nearDupStreamEventTime(df, "text", "doc_id", "ts",
        watermark = "1 minute", ttlMs = 30 * 60000L,
        bands = 8, minEstJaccard = 0.4)
    }
    assert(et.contains(2L), s"within-horizon near-dup must flag: $et")
    assert(!et.contains(3L),
      s"event-time TTL must evict the 3h-old bucket under replay: $et")
    // the wall-clock-TTL family retains the bucket (milliseconds of
    // wall time elapsed) and flags doc 3 — the divergence this variant
    // exists to close
    val pt = run("ettl_proc") { df =>
      Streams.nearDupStream(df.drop("ts"), "text", "doc_id",
        bands = 8, minEstJaccard = 0.4, stateTtlMs = -1L)
    }
    assert(pt.contains(2L) && pt.contains(3L),
      s"wall-clock retention should flag both replayed dups: $pt")
  }

  test("nearDupStreamEventTime: the horizon anchors on the bucket's " +
      "NEWEST event — an older same-bucket arrival must not shrink it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup1 = base.replace("theta", "CHANGED")
    val nearDup2 = base.replace("iota", "ALTERED")
    val filler1 = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val filler2 = "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince dieciseis"
    val t0 = 1700000000000L
    def doc(id: Long, text: String, dSec: Long) =
      (id, text, new java.sql.Timestamp(t0 + dSec * 1000))
    val dir = tmpDir("etanchor")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    // ttl 30 min, watermark delay 1 min
    val q = Streams.nearDupStreamEventTime(
        input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
        watermark = "1 minute", ttlMs = 1800000L,
        bands = 8, minEstJaccard = 0.4)
      .writeStream.format("memory").queryName("etanchor_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // b1: the original at t0 — the bucket's newest event, deadline
      // t0+30m. b2: an OLDER (still above-watermark) near-dup at t0-30s;
      // a batch-local-max deadline would shrink to t0+29m30s
      input.addData(doc(1L, base, 0))
      q.processAllAvailable()
      input.addData(doc(2L, nearDup1, -30))
      q.processAllAvailable()
      // b3+b4: fillers push the watermark to t0+29m45s — PAST the
      // shrunken deadline, short of the true one; b4 gives the bucket
      // its no-data batch where a mis-anchored timeout would evict
      input.addData(doc(8L, filler1, 1845))
      q.processAllAvailable()
      input.addData(doc(9L, filler2, 1846))
      q.processAllAvailable()
      // b5: a near-dup inside the true horizon must still match
      input.addData(doc(3L, nearDup2, 1795))
      q.processAllAvailable()
      val hits = spark.table("etanchor_test")
        .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
      assert(hits.contains((2L, 1L)), s"older in-horizon dup: $hits")
      assert(hits.exists(h => h._1 == 3L && (h._2 == 1L || h._2 == 2L)),
        s"the bucket must survive to its newest-event horizon: $hits")
    } finally q.stop()
  }

  test("nearDupBatchEventTime: in-horizon near-dups flag, past-horizon " +
      "buckets evict exactly, and the fold matches the streaming " +
      "event-time monitor on the replay fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = base.replace("theta", "CHANGED")
    val filler1 = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val filler2 = "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince dieciseis"
    val t0 = 1700000000000L
    def doc(id: Long, text: String, tMs: Long) =
      (id, text, new java.sql.Timestamp(tMs))
    // the ettl replay fixture: original, within-horizon near-dup,
    // fillers that advance the watermark, then a 3h-late near-dup
    val docs = Seq(
      doc(1L, base, t0),
      doc(2L, nearDup, t0 + 5 * 60000L),
      doc(8L, filler1, t0 + 3 * 3600000L),
      doc(9L, filler2, t0 + 3 * 3600000L + 60000L),
      doc(3L, base + " tail", t0 + 3 * 3600000L + 120000L),
      (7L, base, null.asInstanceOf[java.sql.Timestamp])) // null ts: dropped
    val batchHits = Streams.nearDupBatchEventTime(
        docs.toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
        ttlMs = 30 * 60000L, bands = 8, minEstJaccard = 0.4)
      .collect().map(h => (h.doc_id, h.dup_of)).toSet
    // doc 2 (5 min later) flags against 1; doc 3 (3 h later) finds its
    // bucket evicted — per-event exact horizon; doc 7 (null ts) dropped
    assert(batchHits == Set((2L, 1L)), batchHits.toString)
    // streaming replay of the same fixture (one event per micro-batch so
    // the watermark advances between arrivals): same hit set — the
    // watermark-granular eviction agrees with the exact fold here
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val dir = tmpDir("etbatch")
    val q = Streams.nearDupStreamEventTime(
        input.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
        watermark = "1 minute", ttlMs = 30 * 60000L,
        bands = 8, minEstJaccard = 0.4)
      .writeStream.format("memory").queryName("etbatch_parity")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      docs.foreach { d => input.addData(d); q.processAllAvailable() }
      val streamHits = spark.table("etbatch_parity")
        .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
      assert(streamHits == batchHits,
        s"stream=$streamHits vs batch=$batchHits")
    } finally q.stop()
  }

  test("the stateful streaming TIER runs under RocksDB: heavy-hitters, " +
      "near-dup (processing- AND event-time TTL), exact dedup — " +
      "outputs correct, rocksdb state metrics asserted per query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val confs = GraftSession.rocksDbStateConfigs
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val dir = tmpDir("rocksm")
    def assertRocks(q: org.apache.spark.sql.streaming.StreamingQuery,
                    name: String): Unit = {
      val metrics = q.lastProgress.stateOperators.toSeq
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"$name must run on RocksDB, got metrics: $metrics")
    }
    val baseTxt = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearTxt = baseTxt.replace("theta", "CHANGED")
    val filler = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    try {
      // 1. heavy-hitters monitor: state (summary + suppression) on rocks
      var id = 0L
      def ev(uid: Long, sec: Long) = {
        id += 1
        Streams.Event(id,
          new java.sql.Timestamp(1700000000000L + sec * 1000), uid,
          "click", 1.0)
      }
      val hhIn = MemoryStream[Streams.Event]
      val hh = Streams.heavyHittersMonitor(hhIn.toDS(), capacity = 10,
          minCount = 40L, nShards = 1)
        .writeStream.format("memory").queryName("rocks_hh")
        .outputMode("append")
        .option("checkpointLocation", s"$dir/hh").start()
      try {
        hhIn.addData((1 to 30).map(i => ev(7L, i.toLong)): _*)
        hh.processAllAvailable()
        hhIn.addData((1 to 15).map(i => ev(7L, 60L + i)): _*)
        hh.processAllAvailable()
        val alerts = spark.table("rocks_hh").collect().map(_.getLong(1))
        assert(alerts.toSeq == Seq(7L), alerts.toSeq.toString)
        assertRocks(hh, "heavy-hitters")
      } finally hh.stop()
      // 2. near-dup, processing-time TTL: bucket state on rocks across
      // micro-batches
      val ndIn = MemoryStream[(Long, String)]
      // stateTtlMs = -1 (NoTimeout) as in the functional near-dup specs:
      // a processing-time TTL keeps the micro-batch engine scheduling
      // timeout-check batches, so processAllAvailable never settles in a
      // test harness (the TTL path is exercised by the event-time spec)
      val nd = Streams.nearDupStream(
          ndIn.toDF().toDF("doc_id", "text"), "text", "doc_id",
          bands = 8, minEstJaccard = 0.4, stateTtlMs = -1L)
        .writeStream.format("memory").queryName("rocks_nd")
        .outputMode("append")
        .option("checkpointLocation", s"$dir/nd").start()
      try {
        ndIn.addData((1L, baseTxt), (3L, filler))
        nd.processAllAvailable()
        ndIn.addData((2L, nearTxt))
        nd.processAllAvailable()
        val hits = spark.table("rocks_nd")
          .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
        assert(hits == Set((2L, 1L)), hits.toString)
        assertRocks(nd, "near-dup (processing-time)")
      } finally nd.stop()
      // 3. near-dup, EVENT-time TTL: horizon eviction on rocks
      val t0 = 1700000000000L
      val etIn = MemoryStream[(Long, String, java.sql.Timestamp)]
      val et = Streams.nearDupStreamEventTime(
          etIn.toDF().toDF("doc_id", "text", "ts"), "text", "doc_id", "ts",
          watermark = "1 minute", ttlMs = 30 * 60000L,
          bands = 8, minEstJaccard = 0.4)
        .writeStream.format("memory").queryName("rocks_et")
        .outputMode("append")
        .option("checkpointLocation", s"$dir/et").start()
      try {
        Seq(
          (1L, baseTxt, new java.sql.Timestamp(t0)),
          (2L, nearTxt, new java.sql.Timestamp(t0 + 5 * 60000L)),
          (8L, filler, new java.sql.Timestamp(t0 + 3 * 3600000L)),
          (3L, baseTxt + " tail",
            new java.sql.Timestamp(t0 + 3 * 3600000L + 60000L))
        ).foreach { d => etIn.addData(d); et.processAllAvailable() }
        val hits = spark.table("rocks_et").select("doc_id")
          .as[Long].collect().toSet
        assert(hits == Set(2L),
          s"in-horizon flags, 3h-late bucket evicts on rocks: $hits")
        assertRocks(et, "near-dup (event-time)")
      } finally et.stop()
      // 4. exact content dedup within the watermark on rocks
      val ddIn = MemoryStream[(Long, java.sql.Timestamp, String)]
      val dd = Streams.dedupStream(
          ddIn.toDF().toDF("doc_id", "ts", "text"), "text")
        .writeStream.format("memory").queryName("rocks_dd")
        .outputMode("append")
        .option("checkpointLocation", s"$dir/dd").start()
      try {
        ddIn.addData(
          (1L, ts(0), "first body"), (2L, ts(1), "second body"))
        dd.processAllAvailable()
        ddIn.addData((3L, ts(2), "first body"))
        dd.processAllAvailable()
        val kept = spark.table("rocks_dd").select("doc_id")
          .as[Long].collect().toSet
        assert(kept == Set(1L, 2L), kept.toString)
        assertRocks(dd, "dedup-within-watermark")
      } finally dd.stop()
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("stateful streaming runs under the RocksDB state store " +
      "(GraftSession.withRocksDbState seam), output identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // route the configs through the seam under test: a typo in
    // GraftSession's keys/values must fail HERE, not in a deployment
    val confs = GraftSession.rocksDbStateConfigs
    assert(confs.keySet.exists(_.endsWith("stateStore.providerClass")))
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val dir = tmpDir("rocks")
    val input = MemoryStream[Streams.Event]
    val q = Streams.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("rocks_test")
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      input.addData(sampleEvents: _*)
      q.processAllAvailable()
      input.addData(Streams.Event(5L, ts(50), 10L, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("rocks_test")
        .groupBy("user_id").agg(max("n_events").as("n"),
          max("total_value").as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rows == Set((10L, 4L, 12.0), (20L, 1L, 3.0)), rows.toString)
      // prove the query really ran on RocksDB: the state operator
      // reports rocksdb custom metrics only under that provider
      val metrics = q.lastProgress.stateOperators.toSeq
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"expected rocksdb state metrics, got: $metrics")
    } finally {
      q.stop()
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("burstMonitor: alerts at the k-th in-window event, state crosses " +
      "micro-batches, spread users stay silent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, uid: Long, sec: Long) = Streams.Event(id,
      new java.sql.Timestamp(1700000000000L + sec * 1000), uid, "click", 1.0)
    val input = MemoryStream[Streams.Event]
    val dir = tmpDir("burst")
    val q = Streams.burstMonitor(input.toDS(), windowMs = 60000L,
        minEvents = 3)
      .writeStream.format("memory").queryName("burst_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // batch 1: u1 three events inside a minute -> alert at the third;
      // u2 spread out -> silent
      input.addData(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20),
        ev(10, 2, 0), ev(11, 2, 100))
      q.processAllAvailable()
      // batch 2: u1's 30s event joins the carried [10s, 20s] state ->
      // alert proves state survived the batch boundary; the 200s event
      // finds an empty window -> silent
      input.addData(ev(4, 1, 30), ev(5, 1, 200), ev(12, 2, 200))
      q.processAllAvailable()
      val alerts = spark.table("burst_test").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
      val u1 = alerts.filter(_._1 == 1L).map(a =>
        ((a._2 - 1700000000000L) / 1000, a._3)).sortBy(_._1)
      assert(u1.toSeq == Seq((20L, 3L), (30L, 3L)), alerts.toSeq.toString)
      assert(!alerts.exists(_._1 == 2L), "spread user must stay silent")
    } finally q.stop()
  }

  test("streaming heavy hitters: the hot user alerts once across batch " +
      "boundaries; a flood of one-off users can neither evict it nor " +
      "false-alert past its overcount bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var id = 0L
    def ev(uid: Long, sec: Long) = {
      id += 1
      Streams.Event(id,
        new java.sql.Timestamp(1700000000000L + sec * 1000), uid,
        "click", 1.0)
    }
    val input = MemoryStream[Streams.Event]
    val dir = tmpDir("hh")
    // one shard so the hot user and the noise contend for ONE summary
    val q = Streams.heavyHittersMonitor(input.toDS(), capacity = 10,
        minCount = 40L, nShards = 1)
      .writeStream.format("memory").queryName("hh_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // batch 1: 30 hot events — below threshold, silent
      input.addData((1 to 30).map(i => ev(7L, i.toLong)): _*)
      q.processAllAvailable()
      assert(spark.table("hh_test").count() == 0)
      // batch 2: 100 one-off users churn the summary, then 15 more hot
      // events — the hot counter survives (Space-Saving never evicts
      // the max) and crosses 40 exactly once
      input.addData(((100 to 199).map(u => ev(u.toLong, 50L)) ++
        (1 to 15).map(i => ev(7L, 60L + i))): _*)
      q.processAllAvailable()
      val alerts = spark.table("hh_test").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      val hot = alerts.filter(_._1 == 7L)
      assert(hot.length == 1, alerts.toSeq.toString)
      // estimate >= true count crossed, overcount bounded by the
      // summary's min counter when the user (re)entered
      val (_, est, err) = hot.head
      assert(est >= 40L && est - err <= 45L, hot.head.toString)
      // no one-off user may alert: est - err for them is at most the
      // inherited floor + 1, far below the threshold... unless err
      // covers it — assert none did at all (threshold 40 >> floor+1)
      assert(alerts.forall(_._1 == 7L), alerts.toSeq.toString)
    } finally q.stop()
  }

  test("heavy hitters alert-once survives eviction: an alerted user " +
      "churned out of the summary and returning does not re-alert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var id = 0L
    def ev(uid: Long, sec: Long) = {
      id += 1
      Streams.Event(id,
        new java.sql.Timestamp(1700000000000L + sec * 1000), uid,
        "click", 1.0)
    }
    val input = MemoryStream[Streams.Event]
    val dir = tmpDir("hhev")
    // capacity 2, threshold 3: easy to alert and easy to evict
    val q = Streams.heavyHittersMonitor(input.toDS(), capacity = 2,
        minCount = 3L, nShards = 1)
      .writeStream.format("memory").queryName("hh_evict_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // user 7 alerts at its 3rd event
      input.addData((1 to 3).map(i => ev(7L, i.toLong)): _*)
      q.processAllAvailable()
      assert(spark.table("hh_evict_test").count() == 1)
      // users 8 and 9 flood until BOTH summary slots exceed user 7's
      // counter, evicting it (7 holds the min counter of 3 once both
      // flooders pass it)
      input.addData(((1 to 5).flatMap(i =>
        Seq(ev(8L, 10L + i), ev(9L, 10L + i)))): _*)
      q.processAllAvailable()
      // user 7 returns: inherits a floor >= 3, crosses minCount again —
      // but its suppression survived eviction, so NO second alert
      input.addData(ev(7L, 30L), ev(7L, 31L))
      q.processAllAvailable()
      val alerts = spark.table("hh_evict_test").collect()
        .map(r => r.getLong(1))
      assert(alerts.count(_ == 7L) == 1,
        s"user 7 must alert exactly once, got ${alerts.toSeq}")
    } finally q.stop()
  }

  test("heavy-hitters suppression cap: past 64*capacity distinct alerted " +
      "users the OLDEST suppression ages out (at-least-once), newer " +
      "suppressions still bind") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var id = 0L
    def ev(uid: Long, sec: Long) = {
      id += 1
      Streams.Event(id,
        new java.sql.Timestamp(1700000000000L + sec * 1000), uid,
        "click", 1.0)
    }
    val input = MemoryStream[Streams.Event]
    val dir = tmpDir("strm")
    // capacity 1 -> alertedCap = 64; minCount 1 so every distinct user
    // alerts (each inherits the evicted floor +1, always >= 1)
    val q = Streams.heavyHittersMonitor(input.toDS(), capacity = 1,
        minCount = 1L, nShards = 1)
      .writeStream.format("memory").queryName("hh_cap_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // 66 distinct users alert in ts order; the suppression set holds
      // the LAST 64 (u3..u66) — u1 and u2 aged out at the cap
      input.addData((1 to 66).map(u => ev(u.toLong, u.toLong)): _*)
      q.processAllAvailable()
      assert(spark.table("hh_cap_test").count() == 66)
      // u1 returns (aged out) -> re-alerts: the documented at-least-once
      // degradation past the cap. u66 returns (still suppressed) -> no
      // second alert.
      input.addData(ev(1L, 100L), ev(66L, 101L))
      q.processAllAvailable()
      val alerts = spark.table("hh_cap_test").collect().map(_.getLong(1))
      assert(alerts.count(_ == 1L) == 2,
        s"aged-out u1 must re-alert: ${alerts.toSeq}")
      assert(alerts.count(_ == 66L) == 1,
        s"u66's suppression must still bind: ${alerts.toSeq}")
      assert(alerts.length == 67, alerts.toSeq.toString)
    } finally q.stop()
  }

  test("heavy-hitters summary survives a checkpointed restart: counts " +
      "accumulated before the stop decide the alert after it") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val base = tmpDir("hhr")
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    var id = 0L
    def ev(uid: Long, sec: Long) = {
      id += 1
      Streams.Event(id,
        new java.sql.Timestamp(1700000000000L + sec * 1000), uid,
        "click", 1.0)
    }
    def mkFile(name: String, evs: Seq[Streams.Event]): Unit = {
      val stage = s"$base/stage_$name"
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$in/$name.parquet"))
    }
    def runOnce(): Unit = {
      val events = Streams.eventsFileStream(spark, in, "*.parquet")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[Streams.Event]
      val q = Streams.heavyHittersMonitor(events, capacity = 10,
          minCount = 40L, nShards = 1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // run 1: 30 hot events — under threshold, no alert, state = 30
    mkFile("b1", (1 to 30).map(i => ev(7L, i.toLong)))
    runOnce()
    assert(spark.read.parquet(out).count() == 0)
    // run 2 (fresh query, same checkpoint): 15 more — 45 crosses 40
    // ONLY if the summary carried the 30 across the restart
    mkFile("b2", (1 to 15).map(i => ev(7L, 100L + i)))
    runOnce()
    val alerts = spark.read.parquet(out).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(alerts.toSeq == Seq((7L, 40L, 0L)), alerts.toSeq.toString)
  }

  test("heavyHittersBatch equals the streaming monitor fold-for-fold, " +
      "eviction included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // interleaved hot + churn traffic across 3 shards, capacity 3 so the
    // summary evicts — the parity must hold through the approximate
    // regime, not just the exact (no-eviction) one
    var id = 0L
    val evs = scala.collection.mutable.ArrayBuffer.empty[Streams.Event]
    def ev(uid: Long, sec: Long): Unit = {
      id += 1
      evs += Streams.Event(id,
        new java.sql.Timestamp(1700000000000L + sec * 1000), uid,
        "click", 1.0)
    }
    (1 to 20).foreach(i => ev(7L, i.toLong))          // hot, shard 1
    (100 to 140).foreach(u => ev(u.toLong, 30L))      // churn, all shards
    (1 to 20).foreach(i => ev(10L, 40L + i))          // hot, shard 1
    (1 to 6).foreach(i => ev(8L, 60L + i))            // warm, shard 2
    val batchOut = Streams.heavyHittersBatch(evs.toSeq.toDS(), capacity = 3,
        minCount = 5L, nShards = 3)
      .collect().map(h =>
        (h.shard, h.user_id, h.est_count, h.max_overcount, h.at.getTime))
      .toSet
    val input = MemoryStream[Streams.Event]
    input.addData(evs.toSeq: _*)
    val dir = tmpDir("hhpar")
    val q = Streams.heavyHittersMonitor(input.toDS(), capacity = 3,
        minCount = 5L, nShards = 3)
      .writeStream.format("memory").queryName("hh_parity_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val streamOut = spark.table("hh_parity_test").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getTimestamp(4).getTime))
        .toSet
      assert(batchOut == streamOut,
        s"batch=${batchOut.toSeq.sorted}\nstream=${streamOut.toSeq.sorted}")
      assert(batchOut.nonEmpty, "fixture must produce alerts")
    } finally q.stop()
  }

  test("varianceMonitorBatch equals the streaming monitor fold-for-fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three keys, multiple windows each, a gap window (prev carries over
    // the previous EXISTING window, not the calendar-adjacent one), and
    // one never-closed trailing window per key
    var id = 0L
    val evs = scala.collection.mutable.ArrayBuffer.empty[Streams.Event]
    def ev(typ: String, sec: Long): Unit = {
      id += 1
      evs += Streams.Event(id,
        new java.sql.Timestamp(1700000000000L + sec * 1000), 1L, typ, 1.0)
    }
    (1 to 10).foreach(i => ev("a", i.toLong))          // window 0: 10
    (1 to 3).foreach(i => ev("a", 60L + i))            // window 1: 3
    (1 to 3).foreach(i => ev("a", 300L + i))           // gap, window 5: 3
    ev("a", 400L)                                      // closes window 5
    (1 to 5).foreach(i => ev("b", i.toLong))
    (1 to 5).foreach(i => ev("b", 70L + i))            // 0% variance
    ev("b", 130L)
    ev("c", 10L)                                       // never closes
    val batchOut = Streams.varianceMonitorBatch(evs.toSeq.toDF(),
        "event_type", "ts", windowSeconds = 60, thresholdPct = 5.0)
      .collect()
      .map(w => (w.key, w.window_start.getTime, w.n, w.prev_n,
        w.variance_pct, w.alert)).toSet
    val input = MemoryStream[Streams.Event]
    input.addData(evs.toSeq: _*)
    val dir = tmpDir("varpar")
    val q = Streams.varianceMonitor(input.toDF(), "event_type", "ts",
        windowSeconds = 60, thresholdPct = 5.0)
      .writeStream.format("memory").queryName("var_parity_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val streamOut = spark.table("var_parity_test").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSet
      assert(batchOut == streamOut,
        s"batch=${batchOut.toSeq.sorted}\nstream=${streamOut.toSeq.sorted}")
      // sanity on the fixture itself: 10→3 alerts (70%), 5→5 doesn't,
      // the gap window's prev is the last EXISTING window's count,
      // key c (never closed) emits nothing
      assert(batchOut.exists(w => w._1 == "a" && w._3 == 10L &&
        w._4 == 0L && !w._6))
      assert(batchOut.exists(w => w._1 == "a" && w._3 == 3L &&
        w._4 == 10L && w._6))
      assert(batchOut.exists(w => w._1 == "b" && w._3 == 5L &&
        w._4 == 5L && !w._6))
      assert(!batchOut.exists(_._1 == "c"))
    } finally q.stop()
  }

  test("burstMonitorBatch equals the streaming monitor fold-for-fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var id = 0L
    val evs = scala.collection.mutable.ArrayBuffer.empty[Streams.Event]
    def ev(uid: Long, sec: Long): Unit = {
      id += 1
      evs += Streams.Event(id,
        new java.sql.Timestamp(1700000000000L + sec * 1000), uid,
        "click", 1.0)
    }
    // user 1: burst of 4 (alerts at 3rd and 4th), then spread-out noise
    Seq(0L, 10L, 20L, 30L, 500L, 1000L).foreach(ev(1L, _))
    // user 2: exactly at the window boundary (inclusive)
    Seq(0L, 30L, 60L).foreach(ev(2L, _))
    // user 3: always outside the window
    Seq(0L, 100L, 200L).foreach(ev(3L, _))
    val batchOut = Streams.burstMonitorBatch(evs.toSeq.toDS(),
        windowMs = 60000L, minEvents = 3)
      .collect()
      .map(a => (a.user_id, a.at.getTime, a.n_in_window)).toSet
    val input = MemoryStream[Streams.Event]
    input.addData(evs.toSeq: _*)
    val dir = tmpDir("burstpar")
    val q = Streams.burstMonitor(input.toDS(), windowMs = 60000L,
        minEvents = 3)
      .writeStream.format("memory").queryName("burst_parity_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val streamOut = spark.table("burst_parity_test").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
        .toSet
      assert(batchOut == streamOut,
        s"batch=${batchOut.toSeq.sorted}\nstream=${streamOut.toSeq.sorted}")
      // fixture sanity: user 1 alerts at t=20 and t=30; user 2's 60s-back
      // event is exactly windowMs away (inclusive) → alerts; user 3 never
      assert(batchOut.map(a => (a._1, (a._2 - 1700000000000L) / 1000)) ==
        Set((1L, 20L), (1L, 30L), (2L, 60L)), batchOut.toString)
    } finally q.stop()
  }

  test("nearDupBatch equals a single-batch nearDupStream pass, planted " +
      "dups flagged with their originals as survivors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (0L until 40L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta eta theta doc$i word$i " +
        s"tail${i % 7} more${i % 3} filler$i end$i"))
    val dups = (0L until 8L).map(i =>
      (i + 1000L, base(i.toInt)._2 + " zqj"))
    val docs = (base ++ dups).toDF("doc_id", "text")
    val batchOut = Streams.nearDupBatch(docs, "text", "doc_id")
      .collect().map(h => (h.doc_id, h.dup_of, h.est_jaccard, h.band))
      .toSet
    val input = MemoryStream[(Long, String)]
    input.addData(base ++ dups: _*)
    val dir = tmpDir("ndpar")
    val q = Streams.nearDupStream(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id",
        stateTtlMs = 0L)
      .writeStream.format("memory").queryName("nd_parity_test")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      q.processAllAvailable()
      val streamOut = spark.table("nd_parity_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(batchOut == streamOut,
        s"batch=${batchOut.toSeq.sorted.take(20)}\n" +
          s"stream=${streamOut.toSeq.sorted.take(20)}")
      // every planted dup is flagged against its original (id order
      // makes the original the retained survivor)
      val flagged = batchOut.filter(h => h._2 == h._1 - 1000L)
        .map(_._1 - 1000L)
      assert(flagged == (0L until 8L).toSet, flagged.toString)
    } finally q.stop()
  }

  test("Space-Saving estimate bounds hold at every alert under eviction: " +
      "est - max_overcount <= true count so far <= est") {
    import spark.implicits._
    // single shard, capacity 2, heavy churn: most alerts carry a nonzero
    // inherited overcount — the regime where the bound claim has teeth
    var id = 0L
    val evs = scala.collection.mutable.ArrayBuffer.empty[Streams.Event]
    def ev(uid: Long, sec: Long): Unit = {
      id += 1
      evs += Streams.Event(id,
        new java.sql.Timestamp(1700000000000L + sec * 1000), uid,
        "click", 1.0)
    }
    (1 to 4).foreach(i => ev(7L, i.toLong))
    (20 to 40).foreach(u => ev(u.toLong, 10L))   // churn the 2 slots
    (1 to 3).foreach(i => ev(9L, 20L + i))       // re-enter, inherit floor
    (1 to 4).foreach(i => ev(7L, 30L + i))
    (50 to 70).foreach(u => ev(u.toLong, 40L))
    (1 to 2).foreach(i => ev(9L, 50L + i))
    val alerts = Streams.heavyHittersBatch(evs.toSeq.toDS(), capacity = 2,
        minCount = 3L, nShards = 1)
      .collect()
      .sortBy(_.at.getTime)
    assert(alerts.nonEmpty)
    assert(alerts.exists(_.max_overcount > 0),
      "fixture must exercise inherited overcounts")
    // replay true prefix counts in plain Scala (events are already in
    // (ts, event_id) order by construction)
    val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
    alerts.foreach { a =>
      val trueCount = sorted
        .takeWhile(e => e.ts.getTime <= a.at.getTime)
        .count(e => e.user_id == a.user_id &&
          e.ts.getTime <= a.at.getTime)
      assert(a.est_count >= trueCount,
        s"estimate must never undercount: $a true=$trueCount")
      assert(a.est_count - a.max_overcount <= trueCount,
        s"est - err must be a certain lower bound: $a true=$trueCount")
    }
  }
}
