package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Audit
import graft.sources.TableCatalog

class AuditSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("quality audit: fixture star schema is all-green with real totals") {
    val rows = Audit.q110QualityAudit(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.size == 6)
    rows.foreach { case (check, (total, viol)) =>
      assert(total > 0, s"$check audited an empty table")
      assert(viol == 0L, s"$check found $viol violations on clean fixtures")
    }
  }

  test("weekly churn: ledger identities hold (new<=active, last week lapses all)") {
    val rows = Audit.q111WeeklyChurn(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (active, nw, ret, lap) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nw <= active && ret <= active && lap <= active)
      assert(nw + ret <= active + ret) // sanity: disjoint flags bounded
    }
    // first week: everyone is new; last week: everyone lapses
    assert(rows.head.getLong(2) == rows.head.getLong(1))
    assert(rows.last.getLong(4) == rows.last.getLong(1))
  }

  test("balance resets: signup rows restart the running balance") {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val ev = Seq(
      (1L, 7L, t0, "view", 10.0),
      (2L, 7L, t0.plusMinutes(1), "signup", 5.0),
      (3L, 7L, t0.plusMinutes(2), "click", 2.5),
      (4L, 7L, t0.plusMinutes(3), "signup", 1.0),
      (5L, 7L, t0.plusMinutes(4), "purchase", 4.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byGroup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("reset_group"))
      .orderBy(col("ts"), col("event_id"))
    val out = ev
      .withColumn("reset_group",
        sum(when(col("event_type") === "signup", 1L).otherwise(0L))
          .over(byUser))
      .withColumn("balance",
        sum(col("value").cast("decimal(18,4)")).over(byGroup)
          .cast("double"))
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(5), r.getDouble(6)))
    assert(out.toSeq == Seq(
      (1L, 0L, 10.0), (2L, 1L, 5.0), (3L, 1L, 7.5),
      (4L, 2L, 1.0), (5L, 2L, 5.0)))
  }

  test("dow seasonality: shares sum to 1, index averages to ~1 over 7 days") {
    val rows = Audit.q113DowSeasonality(spark, TestSpark.sfDir).collect()
    assert(rows.length == 7)
    val share = rows.map(_.getDouble(3)).sum
    assert(math.abs(share - 1.0) < 1e-3, s"shares sum $share")
    val idxAvg = rows.map(_.getDouble(4)).sum / 7
    assert(math.abs(idxAvg - 1.0) < 0.01, s"index mean $idxAvg")
  }

  test("benford digits: 9 buckets, shares partition, expectations decrease") {
    val rows = Audit.q114BenfordDigits(spark, TestSpark.sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    val exp = rows.map(_.getDouble(3))
    assert(exp.zip(exp.tail).forall { case (a, b) => a > b },
      "Benford expectation must be monotone decreasing")
    assert(math.abs(exp.head - 0.301030) < 1e-6)
  }

  test("session funnel: counters are monotone and bounded by session count") {
    val r = Audit.q115SessionFunnel(spark, TestSpark.sfDir).head()
    val (n, v, vc, full) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n > 0 && v <= n && vc <= v && full <= vc)
  }

  test("entity resolution: canonical ids are cluster minima and cover all rows") {
    val out = Audit.q118EntityResolution(spark, TestSpark.sfDir)
    val customers = TableCatalog
      .load(spark, TestSpark.sfDir, "customer").count()
    assert(out.count() == customers, "one row per customer")
    // canonical id never exceeds the member id (min-id survivorship)
    assert(out.filter(col("canonical_id") > col("c_custkey")).isEmpty)
    // at least one non-trivial cluster on this fixture (one-digit names)
    assert(out.filter(col("canonical_id") =!= col("c_custkey")).count() > 0)
  }

  test("equi-depth histogram: bins are contiguous, ordered, near-equal depth") {
    val rows = Audit.q119EquidepthHistogram(spark, TestSpark.sfDir)
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (_, bins) =>
      val sorted = bins.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 10L))
      val depths = sorted.map(_.getLong(2))
      // boundary-based bins are equal-depth up to tie mass at the decile
      // boundaries (exact ntile's ±1 guarantee is precisely the
      // non-scalable per-group sort this formulation removes)
      val target = depths.sum / 10.0
      assert(depths.forall(d => d >= target * 0.5 && d <= target * 1.5),
        s"equi-depth: ${depths.toSeq}")
      // value ranges must not regress across bins
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getDouble(4) <= b.getDouble(3) + 1e-9,
          s"bin ranges overlap: ${a.getDouble(4)} > ${b.getDouble(3)}")
      }
    }
  }

  test("equi-depth approx mode (the 100 TB default) matches the exact shape") {
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val approx = Audit.equiDepthHistogram(li, exact = false).collect()
    val exact = Audit.equiDepthHistogram(li).collect()
    // same group/bin frame and total mass; per-bin counts differ only by
    // the sketch's rank error
    assert(approx.map(r => (r.getString(0), r.getLong(1))).toSet ==
      exact.map(r => (r.getString(0), r.getLong(1))).toSet)
    assert(approx.map(_.getLong(2)).sum == exact.map(_.getLong(2)).sum)
  }

  test("TopKMin aggregate: distinct, bounded, ascending under any merge order") {
    val top2 = udaf(new graft.functions.TopKMin(2))
    // 8 partitions force map-side partials + multi-way merge
    val df = Seq(5L, 3L, 9L, 3L, 1L, 7L, 1L, 8L).toDF("v").repartition(8)
    val out = df.agg(top2(col("v"))).collect()(0).getString(0)
    assert(out == "1,3", s"expected the 2 smallest distinct keys, got $out")
    val empty = spark.emptyDataset[Long].toDF("v").agg(top2(col("v")))
      .collect()(0).getString(0)
    assert(empty == "", s"empty input must yield an empty join, got $empty")
  }

  test("ordered listagg: exactly the 3 smallest keys, ascending, comma-joined") {
    val rows = Audit.q120OrderedListagg(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val keys = r.getString(2).split(",").map(_.toLong)
      assert(keys.length <= 3)
      assert(keys.sorted.toSeq == keys.toSeq, "keys must be ascending")
    }
  }

  test("event paths: 3-step sequences, counts bounded by transition total") {
    val rows = Audit.q124EventPaths(spark, TestSpark.sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getString(0).split(">").length == 3)
      assert(r.getLong(1) > 0)
    }
    // descending by count with path tiebreak
    val ns = rows.map(_.getLong(1))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("partitioned write: reader prunes non-matching partitions at plan time") {
    val dir = tmpDir("graft_part")
    val df = Seq(
      ("2024-01-01", 1L, 10.0), ("2024-01-01", 2L, 20.0),
      ("2024-01-02", 3L, 30.0), ("2024-01-03", 4L, 40.0)
    ).toDF("day", "id", "v")
    TableCatalog.writePartitioned(df, dir, "facts", Seq("day"))
    val read = spark.read.parquet(s"$dir/facts.parquet")
      .filter(col("day") === "2024-01-02")
    assert(read.collect().map(_.getAs[Long]("id")).toSeq == Seq(3L))
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["),
      s"expected partition filters in scan:\n${plan.take(2000)}")
    // pruning is OBSERVABLE via the executed scan's numFiles metric
    // (Dataset.inputFiles reports the WHOLE relation pre-pruning): only
    // day=2024-01-02's files may be selected — a regression that keeps
    // the PartitionFilters attribute but reads every directory fails here
    val expected = new java.io.File(s"$dir/facts.parquet/day=2024-01-02")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val numFiles = read.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    assert(numFiles == expected && expected >= 1,
      s"scan read $numFiles files, expected the $expected in the " +
        "matching partition only")
  }

  test("key-skew profile: shares and skew consistent with raw counts") {
    val out = Audit.q128KeySkewProfile(spark, TestSpark.sfDir).collect()
    assert(out.length == 10)
    val ns = out.map(_.getLong(1))
    assert(ns.sameElements(ns.sortBy(-_)), "head must be count-descending")
    val perKey = TableCatalog.load(spark, TestSpark.sfDir, "lineitem")
      .groupBy("l_suppkey").count().collect().map(_.getLong(1))
    val total = perKey.sum
    val nKeys = perKey.length.toLong
    assert(ns.head == perKey.max, "top key must be the global max")
    out.foreach { r =>
      val n = r.getLong(1)
      assert(math.abs(r.getDouble(2) - n.toDouble / total) < 1e-6, "share")
      assert(math.abs(r.getDouble(3) - n.toDouble * nKeys / total) < 1e-6,
        "skew")
    }
    assert(out.head.getDouble(3) >= 1.0,
      "heaviest key cannot be below the per-key mean")
  }

  test("burstDetect: trailing window is inclusive, per-user max, flags " +
      "only above threshold") {
    def at(sec: Long) = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      .plusNanos(sec * 1000000000L)
    val ev = (Seq(0L, 10L, 30L, 59L, 60L).map(s => (1L, at(s))) ++
      Seq(0L, 3600L, 7200L, 10800L).map(s => (2L, at(s))) ++
      Seq(0L, 59L, 61L).map(s => (3L, at(s))))
      .toDF("user_id", "ts")
    val out = graft.ops.Audit.burstDetect(ev, 60000000L, 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // user 1: events at 0,10,30,59,60 — the 60 s window at t=60 reaches
    // back to t=0 INCLUSIVE, so all 5 count and the user flags
    assert(out(1L) == ((5L, 5L, true)), out.toString)
    // user 2: an hour apart — never more than 1 inside any minute
    assert(out(2L) == ((4L, 1L, false)))
    // user 3: at t=61 the t=0 event has left the window → max stays 2
    assert(out(3L) == ((3L, 2L, false)))
  }

  test("q157 z-order buckets: exhaustive, bounded, and tighter than the " +
      "global range on BOTH dims") {
    val spark = TestSpark.spark
    val out = graft.ops.Audit.q157ZorderStats(spark, TestSpark.sfDir)
      .collect()
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    assert(out.map(_.getLong(1)).sum == li.count(), "every row bucketed")
    assert(out.length <= 64 && out.length > 4, s"${out.length} buckets")
    // locality: the MEAN per-bucket key range must beat the global range
    // on both dimensions simultaneously (a sort on one key would fail
    // the other) — the whole point of the interleave
    val partSpread = out.map(r => r.getLong(3) - r.getLong(2)).sum.toDouble /
      out.length
    val suppSpread = out.map(r => r.getLong(5) - r.getLong(4)).sum.toDouble /
      out.length
    val g = li.agg(org.apache.spark.sql.functions.min("l_partkey"),
      org.apache.spark.sql.functions.max("l_partkey"),
      org.apache.spark.sql.functions.min("l_suppkey"),
      org.apache.spark.sql.functions.max("l_suppkey")).head()
    val gPart = (g.getLong(1) - g.getLong(0)).toDouble
    val gSupp = (g.getLong(3) - g.getLong(2)).toDouble
    assert(partSpread < gPart * 0.6, s"part $partSpread vs $gPart")
    assert(suppSpread < gSupp * 0.6, s"supp $suppSpread vs $gSupp")
  }

  test("profileDrift: null spike, cardinality collapse, and range shift " +
      "each flagged on the right column") {
    val ident: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => c.cast("string")
    val old = Seq((1L, Some("x"), "a"), (2L, Some("y"), "b"),
      (3L, Some("z"), "c"), (4L, Some("w"), "d"))
      .toDF("id", "v", "cat")
    val nw = Seq((5L, Some("x"), "a"), (6L, None: Option[String], "a"),
      (7L, Some("x"), "a"), (8L, None: Option[String], "a"))
      .toDF("id", "v", "cat")
    val out = graft.ops.Audit.profileDrift(old, nw,
        Seq("id" -> ident, "v" -> ident, "cat" -> ident))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    // v: nulls 0/4 → 2/4 (delta 0.5), distinct 4 → 1, extrema moved
    assert(out("v") == ((4L, 4L, 0.5, 0.25, true)), out("v").toString)
    // cat: no nulls, 4 → 1 values, range collapsed onto 'a'
    assert(out("cat") == ((4L, 4L, 0.0, 0.25, true)))
    // id: same cardinality, no nulls, but the key range moved
    assert(out("id") == ((4L, 4L, 0.0, 1.0, true)))
  }

  test("kAnonymityAudit flags equivalence classes below k with exact sizes") {
    val df = (Seq.fill(5)(("US", "A")) ++ Seq.fill(2)(("US", "B")) ++
      Seq(("DE", "A"))).toDF("nat", "seg")
    val out = graft.ops.Audit.kAnonymityAudit(df,
        Seq(col("nat"), col("seg")), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(("US", "A")) == ((5L, false)))
    assert(out(("US", "B")) == ((2L, true)))
    assert(out(("DE", "A")) == ((1L, true)))
    // at-risk row share derives from the audit output alone
    val atRiskRows = out.values.filter(_._2).map(_._1).sum
    assert(atRiskRows == 3L && out.values.map(_._1).sum == 8L)
  }

  test("clampedBalance: the floor absorbs overdraws — a prefix-sum window " +
      "could not produce this sequence") {
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val ev = Seq(
      (1L, 7L, t0, "click", 5.0),                  // +500 → 500
      (2L, 7L, t0.plusMinutes(1), "purchase", 9.0), // -900 → clamp 0
      (3L, 7L, t0.plusMinutes(2), "click", 3.0),   // +300 → 300 (NOT -100)
      (4L, 7L, t0.plusMinutes(3), "view", 99.0),   // no-op → 300
      (5L, 7L, t0.plusMinutes(4), "purchase", 1.0), // -100 → 200
      (6L, 8L, t0, "purchase", 2.0)                // fresh user clamps at 0
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = graft.ops.Audit.clampedBalance(ev)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 500L, 2L -> 0L, 3L -> 300L, 4L -> 300L,
      5L -> 200L, 6L -> 0L), out.toString)
    // the unclamped prefix sum would give event 3 a balance of -100:
    // the clamp is the semantics, not a display floor
  }

  test("dpNoisyCounts: reproducible draw, floor at zero, release " +
      "consistent with its own noise column") {
    val df = (Seq.fill(40)(("US", "A")) ++ Seq.fill(3)(("US", "B")) ++
      Seq(("DE", "A"))).toDF("nat", "seg")
    val out = graft.ops.Audit.dpNoisyCounts(df, Seq("nat", "seg"), 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(out.size == 3)
    out.foreach { case (k, (n, noise, released)) =>
      assert(released >= 0L, s"$k negative release")
      val expected = math.max(0L,
        BigDecimal(n + noise).setScale(0,
          BigDecimal.RoundingMode.HALF_UP).toLong)
      assert(released == expected, s"$k: $released vs $expected")
    }
    assert(out.values.exists(_._2 != 0.0), "noise must actually perturb")
    // same seed, same draw — the release is reproducible by design
    val again = graft.ops.Audit.dpNoisyCounts(df, Seq("nat", "seg"), 0.5)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    assert(again == out)
  }

  test("partitionChecksums: manifests MERGE by addition, and flipping " +
      "one row's content moves exactly that partition's checksum") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Audit.partitionChecksums(df, col("p"), Seq(col("v")))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2).toBigInteger)).toMap
    val base = (1 to 100).map(i => (s"p${i % 4}", s"row$i")).toDF("p", "v")
    val whole = run(base)
    // additivity: checksums of two halves sum to the whole's
    val h1 = run(base.filter(col("v") < "row5"))
    val h2 = run(base.filter(!(col("v") < "row5")))
    whole.foreach { case (p, (n, cs)) =>
      val (n1, c1) = h1.getOrElse(p, (0L, java.math.BigInteger.ZERO))
      val (n2, c2) = h2.getOrElse(p, (0L, java.math.BigInteger.ZERO))
      assert(n == n1 + n2 && cs == c1.add(c2), s"$p not additive")
    }
    // change detection: mutate one row in partition p1
    val mutated = run(base.withColumn("v",
      when(col("v") === "row1", concat(col("v"), lit("x")))
        .otherwise(col("v"))))
    assert(mutated("p1")._2 != whole("p1")._2, "change must move p1")
    Seq("p0", "p2", "p3").foreach(p =>
      assert(mutated(p) == whole(p), s"$p must be untouched"))
  }

  test("partitionAdvisor: verdicts by hand — uniform is good, binary " +
      "is too_few, one hot value past 10x average is skewed") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val df = (0 until 100).toDF("i").select(
      (col("i") % 10).as("uniform10"),
      (col("i") % 2).as("binary"),
      when(col("i") < 81, lit(0)).otherwise(col("i")).as("hot"))
    val out = graft.ops.Audit.partitionAdvisor(df, Seq(
      "uniform10" -> col("uniform10"),
      "binary" -> col("binary"),
      "hot" -> col("hot")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getDouble(4), r.getString(5)))
      .toMap
    assert(out("uniform10") == ((10L, 10L, 1.0, "good")),
      out("uniform10").toString)
    assert(out("binary") == ((2L, 50L, 1.0, "too_few")),
      out("binary").toString)
    // 81 rows in one of 20 values: skew 81*20/100 = 16.2
    assert(out("hot") == ((20L, 81L, 16.2, "skewed")), out("hot").toString)
  }
}
