package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Insights

class InsightsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tfidf ranks a distinctive term above ubiquitous ones") {
    val df = Seq(
      (1L, "alpha beta gamma zebra zebra zebra"),
      (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma epsilon")
    ).toDF("doc_id", "text")
    val top = Insights.tfidfTopTerms(df, "text", "doc_id", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // zebra: tf=3, df=1 — must dominate doc 1; alpha/beta/gamma have df=3
    // so ln(3/3)=0 and the doc-unique term wins elsewhere too
    assert(top(1L) == "zebra", top.toString)
    assert(top(2L) == "delta" && top(3L) == "epsilon", top.toString)
  }

  test("tokenZipf ranks by frequency with deterministic ties") {
    val df = Seq(
      (1L, "bb bb bb aa aa cc"),
      (2L, "aa dd")
    ).toDF("doc_id", "text")
    val out = Insights.tokenZipf(df, "text", k = 3)
      .select("term", "n", "rnk").as[(String, Long, Long)].collect().toList
    assert(out == List(("aa", 3L, 1L), ("bb", 3L, 2L), ("cc", 1L, 3L)), out)
  }

  test("event funnel counters are monotone and strictly ordered") {
    val row = Insights.q66EventFunnel(spark, TestSpark.sfDir).head
    val (users, v, vc, vcp) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3))
    assert(users >= v && v >= vc && vc >= vcp && vcp >= 0,
      s"funnel must shrink monotonically: $users $v $vc $vcp")
    assert(v > 0, "fixture has view events")
  }

  test("zscore outliers all exceed the threshold and carry the tail") {
    val out = Insights.q67ZscoreOutliers(spark, TestSpark.sfDir)
      .select("z", "value").as[(Double, Double)].collect()
    assert(out.nonEmpty, "exponential-ish values must have |z|>3 tails")
    assert(out.forall { case (z, _) => math.abs(z) > 3.0 })
    // value distribution is non-negative with mean≈sd, so all outliers
    // sit in the upper tail
    assert(out.forall { case (_, v) => v > 0 })
  }

  test("price histogram partitions all orders exactly once") {
    val orders = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
    val hist = Insights.q68PriceHistogram(spark, TestSpark.sfDir)
      .select("bucket", "n").as[(Long, Long)].collect()
    assert(hist.map(_._2).sum == orders.count())
    assert(hist.forall { case (b, _) => b >= 0 && b <= 19 })
  }

  test("profileTable reports nulls, distincts, numeric ranges per column") {
    val df = Seq(
      (1L, Some(10.0), "a"),
      (2L, None, "b"),
      (3L, Some(30.0), "a")
    ).toDF("id", "v", "s")
    val prof = graft.ops.Insights.profileTable(df, numericCols = Set("id", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    assert(prof("id") == ((3L, 0L, 3L, Some(1.0), Some(3.0))))
    assert(prof("v") == ((3L, 1L, 2L, Some(10.0), Some(30.0))))
    assert(prof("s") == ((3L, 0L, 2L, None, None)))
  }

  test("latestSnapshot keeps exactly one newest row per key") {
    val df = Seq(
      (1L, 100L, "2026-01-01 10:00:00", "view"),
      (1L, 101L, "2026-01-01 11:00:00", "purchase"),
      (2L, 102L, "2026-01-01 09:00:00", "click"),
      (2L, 103L, "2026-01-01 09:00:00", "view") // ts tie -> higher id wins
    ).toDF("user_id", "event_id", "ts", "event_type")
      .withColumn("ts", to_timestamp(col("ts")))
    val out = graft.ops.Temporal
      .latestSnapshot(df, Seq("user_id"), "ts", "event_id")
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 101L, 2L -> 103L), out.toString)
  }

  test("latestSnapshot's physical plan prunes winners MAP-SIDE: a Partial " +
      "WindowGroupLimit runs below the exchange, so the shuffle carries at " +
      "most one candidate per key per task, and the winner is bit-identical " +
      "to a max_by(struct(ts, tie)) aggregate — ties, nulls, multi-key") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 800).map { i =>
      val k1 = rnd.nextInt(30).toLong
      val k2 = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(3).toLong)
      // heavy ts collisions so the tie column decides often; occasional
      // NULL ts exercises desc-NULLS-LAST vs struct-null-low agreement
      val ts = if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(6).toLong)
      (k1, k2, ts, i.toLong, s"payload-$i")
    }
    val df = rows.toDF("k1", "k2", "ts", "tie", "payload")
    val viaWindow = graft.ops.Temporal
      .latestSnapshot(df, Seq("k1", "k2"), "ts", "tie")
    assert(viaWindow.columns.toSeq == df.columns.toSeq)
    // the independent aggregate formulation: lexicographic (ts, tie) max
    // — the total-order contract both formulations must agree on
    val cols = df.columns.toSeq
    val won = df.groupBy(col("k1"), col("k2"))
      .agg(max_by(struct(cols.map(col): _*),
        struct(col("ts"), col("tie"))).as("_w"))
    val viaAgg = won.select(cols.map(c => won.col("_w").getField(c).as(c)): _*)
    val sortCols = df.columns.map(col)
    assert(viaWindow.orderBy(sortCols: _*).collect().toSeq ==
      viaAgg.orderBy(sortCols: _*).collect().toSeq)
    // the scale contract: Spark's InferWindowGroupLimit fires on the
    // row_number()=1 pattern — map-side Partial pruning below the
    // exchange (break the filter pattern and this disappears, silently
    // shuffling every version of every key again)
    val plan = viaWindow.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
  }

  test("scd2Intervals chains validity windows, open-ended current row") {
    val df = Seq(
      (1L, 100L, "2026-01-01 10:00:00", "trial"),
      (1L, 101L, "2026-01-02 10:00:00", "paid"),
      (1L, 102L, "2026-01-03 10:00:00", "churned")
    ).toDF("user_id", "event_id", "ts", "state")
      .withColumn("ts", to_timestamp(col("ts")))
    val rows = graft.ops.Temporal
      .scd2Intervals(df, Seq("user_id"), "ts", "event_id")
      .orderBy("valid_from")
      .select("event_id", "valid_to", "is_current").collect()
    assert(rows.length == 3)
    // every valid_to equals the next row's valid_from; last is open
    assert(rows(0).getTimestamp(1) != null && rows(2).isNullAt(1))
    assert(!rows(0).getBoolean(2) && rows(2).getBoolean(2))
  }

  test("last-touch attribution partitions every purchase exactly once") {
    val events = graft.sources.TableCatalog
      .load(spark, TestSpark.sfDir, "events")
    val nPurchases = events.filter(col("event_type") === "purchase").count()
    val rows = graft.ops.Insights
      .q76LastTouchAttribution(spark, TestSpark.sfDir)
      .select("touch_type", "n_purchases").as[(String, Long)].collect()
    assert(rows.map(_._2).sum == nPurchases,
      "every purchase must be attributed to exactly one touch type")
    assert(rows.forall(_._1 != "purchase"),
      "a purchase never attributes to another purchase")
  }

  test("daily revenue deltas are self-consistent") {
    val rows = graft.ops.Insights
      .q77DailyRevenueDelta(spark, TestSpark.sfDir)
      .select("revenue", "prev_revenue", "delta").collect()
    assert(rows.head.isNullAt(1), "first day has no predecessor")
    rows.drop(1).foreach { r =>
      val (rev, prev, d) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(math.abs((rev - prev) - d) < 1e-3, s"$rev - $prev != $d")
    }
  }

  test("trailing 7-day window bounds below by the day's own revenue") {
    val rows = graft.ops.Insights.q79TrailingWindow(spark, TestSpark.sfDir)
      .select("revenue", "trailing_7d").as[(Double, Double)].collect()
    rows.foreach { case (rev, t7) =>
      assert(t7 >= rev - 1e-6, s"trailing $t7 must include today's $rev") }
  }

  test("deciles partition all customers into near-equal buckets") {
    val total = spark.read
      .parquet(s"${TestSpark.sfDir}/customer.parquet").count()
    val rows = graft.ops.Insights.q80CustomerDeciles(spark, TestSpark.sfDir)
      .select("decile", "n").as[(Long, Long)].collect().toMap
    assert(rows.keySet == (1L to 10L).toSet)
    assert(rows.values.sum == total)
    assert(rows.values.max - rows.values.min <= 1,
      s"ntile sizes differ by at most one: $rows")
  }

  test("the dimension-size contract is ENFORCED: exact-ntile input past " +
      "the row bound fails fast and points at the fact-scale path") {
    val big = spark.range(0, 50).toDF("id")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Insights.requireDimensionSized(big, "test_op", bound = 10L)
    }
    assert(e.getMessage.contains("SINGLE-TASK") &&
      e.getMessage.contains("q70"), e.getMessage)
    // inside the bound the frame passes through untouched
    val ok = graft.ops.Insights.requireDimensionSized(
      big.limit(5), "test_op", bound = 10L)
    assert(ok.count() == 5L)
  }

  test("cohort retention: week zero is 100%, retention never exceeds it") {
    val rows = graft.ops.Insights.q81CohortRetention(spark, TestSpark.sfDir)
      .select("week_offset", "retention_pct").as[(Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (off, pct) =>
      if (off == 0L) assert(pct == 100.0, s"week-0 retention must be 100: $pct")
      assert(pct > 0.0 && pct <= 100.0, s"offset $off pct $pct out of range")
    }
  }

  test("cohort retention pins offsets and ratios on a churning fixture") {
    // the sf0.001 corpus has every user active every week (all-100%
    // retention), so semantics need a synthetic frame with real churn:
    // cohort W0 = {u1, u2, u3}; only u1 returns in W1; u4 starts in W1
    def ev(id: Long, u: Long, day: String) =
      (id, java.sql.Timestamp.valueOf(s"2026-01-$day 10:00:00"), u, "view",
        1.0, "{}")
    val events = Seq(
      ev(1, 1, "05"), ev(2, 2, "06"), ev(3, 3, "07"), // ISO week Jan 5-11
      ev(4, 1, "12"), ev(5, 4, "13") //  week Jan 12-18
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmpDir("cohort")
    events.write.parquet(s"$dir/events.parquet")
    val out = graft.ops.Insights.q81CohortRetention(spark, dir)
      .select("week_offset", "n_active", "cohort_size", "retention_pct")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (0L, 3L, 3L, 100.0),  // W0 cohort, week 0
      (1L, 1L, 3L, 33.333333), // only u1 returned: 1/3
      (0L, 1L, 1L, 100.0)   // u4's own cohort, week 0
    ), out.toString)
  }

  test("corpus share percentages sum to ~100") {
    val pct = Insights.q69CorpusShare(spark, TestSpark.sfDir)
      .select("pct_docs").as[Double].collect()
    assert(math.abs(pct.sum - 100.0) < 1e-3, pct.sum.toString)
  }

  test("positionAttribution: U-shaped weights on constructed journeys") {
    def ts(m: Int) = java.time.LocalDateTime.of(2024, 1, 1, 0, m)
    // u1: view,click,error → purchase (m=3: 0.4/0.2/0.4)
    // u2: view → purchase (m=1: 1.0)
    // u3: click,view → purchase (m=2: 0.5/0.5); trailing view never
    //     converts and must draw no credit
    val ev = Seq(
      (1L, ts(1), 101L, "view"), (1L, ts(2), 102L, "click"),
      (1L, ts(3), 103L, "error"), (1L, ts(4), 104L, "purchase"),
      (2L, ts(1), 201L, "view"), (2L, ts(2), 202L, "purchase"),
      (3L, ts(1), 301L, "click"), (3L, ts(2), 302L, "view"),
      (3L, ts(3), 303L, "purchase"), (3L, ts(4), 304L, "view")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Insights.positionAttribution(ev)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map(
      "view" -> ((3L, 1.9)), "click" -> ((2L, 0.7)),
      "error" -> ((1L, 0.4))), out.toString)
    // total credit == number of converted journeys
    assert(math.abs(out.values.map(_._2).sum - 3.0) < 1e-9)
  }

  test("TopKByValue aggregate ≡ the window form; state stays bounded") {
    val agg = new graft.functions.TopKByValue(3)
    // random-ish inserts through partial states merged in odd orders
    val xs = Seq((5L, "e"), (9L, "a"), (9L, "b"), (2L, "z"), (7L, "m"),
      (9L, "c"), (1L, "q"), (7L, "a"))
    val (left, right) = xs.splitAt(3)
    val s1 = left.foldLeft(agg.zero)(agg.reduce)
    val s2 = right.foldLeft(agg.zero)(agg.reduce)
    assert(s1.values.length <= 3 && s2.values.length <= 3)
    val merged = agg.finish(agg.merge(s1, s2))
    val expected = xs.sortBy { case (v, l) => (-v, l) }.take(3)
    assert(merged == expected, s"$merged vs $expected")
    // and end-to-end through the query against a window recompute
    val out = Insights.q162SourceTopTerms(spark, TestSpark.sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val docs = spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("cnt").desc, col("tok"))
    val naive = docs.select(col("source"),
        explode(graft.functions.wordTokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getString(1),
        r.getLong(2))).toSet
    assert(out.toSet == naive)
  }

  test("weightedSample: fixed size, deterministic, biased toward weight") {
    val spark2 = spark
    val docs = spark2.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
    val out = graft.ops.Corpus.weightedSample(docs, "doc_id", "text",
      "n_chars", 60).collect()
    assert(out.length == 60)
    val again = graft.ops.Corpus.weightedSample(docs, "doc_id", "text",
      "n_chars", 60).collect().map(_.getLong(0)).toSet
    assert(again == out.map(_.getLong(0)).toSet, "must be reproducible")
    val sampleAvg = out.map(_.getLong(1)).sum.toDouble / out.length
    val corpusAvg = docs.agg(avg("n_chars")).head().getDouble(0)
    assert(sampleAvg > corpusAvg,
      s"weighting must bias long docs: $sampleAvg vs $corpusAvg")
  }

  test("skyline2d ≡ brute-force dominance; ties share the frontier, " +
      "equal-price larger size dominates") {
    // (id, size↑, price↓): 3 duplicates 2 exactly; 4 matches their price
    // at a LARGER size, so it dominates both (equal price + strictly
    // larger size); 5 is strictly dominated by 4; 6 loses to 1 on price
    // at the same size; the frontier is {4, 7, 1}
    val rows = Seq((1L, 10, 5.0), (2L, 3, 1.0), (3L, 3, 1.0),
      (4L, 5, 1.0), (5L, 4, 2.0), (6L, 10, 7.0), (7L, 8, 3.0),
      (8L, 12, 9.0), (9L, 12, 9.0)) // identical frontier pair: both stay
    val pts = rows.toDF("id", "sz", "price")
    val out = graft.ops.Analytics.skyline2d(pts, "sz", "price")
      .select("id").collect().map(_.getLong(0)).toSet
    // brute force on the driver
    val expected = rows.filter { p =>
      !rows.exists(q => q._2 >= p._2 && q._3 <= p._3 &&
        (q._2 > p._2 || q._3 < p._3))
    }.map(_._1).toSet
    assert(out == expected, s"$out vs $expected")
    assert(!out.contains(2L) && !out.contains(3L),
      "equal-price larger size must dominate the smaller ties")
    assert(out.contains(4L) && out.contains(1L) && out.contains(7L))
    assert(out.contains(8L) && out.contains(9L),
      "an identical pair on the frontier must BOTH survive")
    assert(!out.contains(5L) && !out.contains(6L))
  }

  test("time-to-convert: waits measured from each journey's first touch; " +
      "instant conversions count at zero") {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val ev = Seq(
      (1L, 7L, t0, "view", 0.0),
      (2L, 7L, t0.plusSeconds(60), "click", 0.0),
      (3L, 7L, t0.plusSeconds(120), "purchase", 0.0), // wait 120 s
      (4L, 7L, t0.plusSeconds(300), "purchase", 0.0)  // instant: wait 0 s
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = Insights.timeToConvert(ev).collect()
    assert(out.length == 1)
    val r = out.head
    // waits are [0, 120] s → interpolated p50 = 60 s, p90 = 108 s
    assert(r.getLong(1) == 2L && r.getDouble(2) == 60.0 &&
      r.getDouble(3) == 108.0, r.toString)
  }

  test("basketLift: pair counts, support, confidence, lift by hand; " +
      "repeats inside one order count once") {
    val part = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "C"))
      .toDF("p_partkey", "p_brand")
    // o1:{A,B} (A twice via two parts), o2:{A,B}, o3:{A,C}, o4:{B}
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 3L),
      (30L, 2L), (30L, 4L), (40L, 3L))
      .toDF("l_orderkey", "l_partkey")
    val out = Insights.basketLift(li, part).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet == Set(("A", "B"), ("A", "C")))
    val ab = out(("A", "B"))
    // n_ab=2, n_a=3, n_b=3, N=4 → lift = 2*4/9
    assert(ab.getLong(2) == 2L && ab.getLong(3) == 3L &&
      ab.getLong(4) == 3L, ab.toString)
    assert(ab.getDouble(5) == 0.5 &&
      math.abs(ab.getDouble(6) - 0.666667) < 1e-9 &&
      math.abs(ab.getDouble(7) - 0.888889) < 1e-9, ab.toString)
    val ac = out(("A", "C"))
    // n_ac=1, n_c=1 → confidence 1/3, lift 1*4/(3*1)
    assert(ac.getLong(2) == 1L &&
      math.abs(ac.getDouble(7) - 1.333333) < 1e-9, ac.toString)
  }

  test("rfmSegments: scores stay in 1..5, segment labels follow the " +
      "score rules, customer counts add up") {
    val out = Insights.q182RfmSegments(spark, TestSpark.sfDir).collect()
    assert(out.nonEmpty)
    var total = 0L
    for (r <- out) {
      val (rs, fs, ms) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val seg = r.getString(3)
      assert(rs >= 1 && rs <= 5 && fs >= 1 && fs <= 5 &&
        ms >= 1 && ms <= 5, r.toString)
      val expected =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (rs >= 4 && fs <= 2) "new"
        else if (rs <= 2 && fs >= 4) "at_risk_loyal"
        else if (rs <= 2 && fs <= 2) "hibernating"
        else "regular"
      assert(seg == expected, r.toString)
      total += r.getLong(4)
    }
    val nCust = graft.sources.TableCatalog
      .load(spark, TestSpark.sfDir, "orders")
      .select(countDistinct(col("o_custkey"))).head.getLong(0)
    assert(total == nCust, s"segment counts $total != customers $nCust")
  }

  test("revenueRetention: hand cohort — dollars retained, not heads; " +
      "base year is always nrr 1.0") {
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, d("2000-03-01"), 60.0), (1L, d("2000-09-01"), 40.0),
      (1L, d("2001-05-01"), 50.0),
      (2L, d("2000-06-01"), 100.0))
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    val out = graft.ops.Insights.revenueRetention(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out((2000L, 0L)) == ((2L, 200.0, 1.0)), out.toString)
    assert(out((2000L, 1L)) == ((1L, 50.0, 0.25)), out.toString)
    assert(out.size == 2)
  }

  test("priceVolumeBridge: the Laspeyres identity holds by hand — " +
      "price and volume effects sum to the revenue delta") {
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val part = Seq((1L, "X")).toDF("p_partkey", "p_brand")
    val li = Seq(
      (1L, d("1995-05-01"), 10.0, 100.0),
      (1L, d("1996-05-01"), 20.0, 300.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
    val r = graft.ops.Insights.priceVolumeBridge(li, part, 1995, 1996)
      .collect().head
    // p0 = 10.00/unit, p1 = 15.00/unit: price (15-10)*20 = 100,
    // volume 10*(20-10) = 100, delta = 200
    assert((r.getLong(1), r.getLong(2), r.getDouble(5), r.getDouble(6),
      r.getDouble(7)) == ((10L, 20L, 200.0, 100.0, 100.0)), r.toString)
  }

  test("wilsonRanking: 950/1000 outranks 5/5 — the lower bound rewards " +
      "evidence, not just rate; values match the closed form") {
    val part = Seq((1L, "A"), (2L, "B")).toDF("p_partkey", "p_brand")
    val li = ((1 to 5).map(_ => (1L, "R")) ++
      (1 to 950).map(_ => (2L, "R")) ++
      (1 to 50).map(_ => (2L, "N")))
      .toDF("l_partkey", "l_returnflag")
    val out = graft.ops.Insights.wilsonRanking(li, part).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("B", "A"),
      out.mkString(", "))
    def wilson(k: Long, n: Long): Double = {
      val z = 1.96; val z2 = z * z
      val p = k.toDouble / n
      val lb = (p + z2 / (2.0 * n) -
        z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))) /
        (1.0 + z2 / n)
      BigDecimal(lb).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val m = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(m("A") == ((5L, 5L, wilson(5, 5))), m("A").toString)
    assert(m("B") == ((1000L, 950L, wilson(950, 1000))), m("B").toString)
  }
}
