package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

class LayoutSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  test("zorderKey2 interleaves bits (known values)") {
    import spark.implicits._
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (5L, 2L))
      .toDF("a", "b")
      .select(Layout.zorderKey2(col("a"), col("b"), bits = 8).as("z"))
      .as[Long].collect().toList
    // a-bits at even positions, b-bits at odd: z(3,3)=0b1111, z(5,2)=0b011001
    assert(out == List(0L, 1L, 2L, 15L, 25L), out.toString)
  }

  test("z-ordered layout clusters BOTH dimensions' per-file ranges") {
    val events = graft.sources.TableCatalog
      .load(spark, "/root/testdata/sf0.01", "events")
      .select(col("user_id"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("long").as("minute"))
    val base = tmpDir("zorder")

    // user_id fits 8 bits, minute-of-day 11: MSB alignment is what makes
    // the narrow column cluster at all (see zorderKey2 doc)
    Layout.writeZOrdered(events, s"$base/z", col("user_id"), col("minute"),
      files = 16, bits = 11, aBits = 8, bBits = 11)
    events.repartition(16).write.mode("overwrite").parquet(s"$base/naive")

    def spans(path: String, c: String): Seq[Long] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).as("span"))
        .collect().map(_.getAs[Long]("span")).toSeq

    def avg(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size

    // round-robin gives every file the FULL range of both keys; the
    // z-layout must narrow both (this is what lets parquet min/max stats
    // prune files for filters on either column). Margins are statistical:
    // repartitionByRange picks boundaries from a sample (seeded off the
    // RDD id, so session history shifts them slightly) and files that
    // straddle a curve-quadrant boundary span wider than the quadrant.
    val (zu, nu) = (spans(s"$base/z", "user_id"), spans(s"$base/naive", "user_id"))
    val (zm, nm) = (spans(s"$base/z", "minute"), spans(s"$base/naive", "minute"))
    assert(zu.size == 16, s"expected 16 files, got ${zu.size}")
    assert(avg(zu) < 0.75 * avg(nu), s"user span ${avg(zu)} vs naive ${avg(nu)}")
    assert(avg(zm) < 0.75 * avg(nm), s"minute span ${avg(zm)} vs naive ${avg(nm)}")
  }

  test("compact folds small files to the byte-target count, content intact") {
    import spark.implicits._
    val base = tmpDir("compact")
    val path = s"$base/t"
    val df = (1L to 10000L).map(i => (i, s"row $i")).toDF("id", "s")
    df.repartition(64).write.parquet(path)
    val before = spark.read.parquet(path).inputFiles.length
    assert(before == 64, s"fixture should be fragmented, got $before")
    val bytes = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val n = graft.ops.Layout.compact(spark, path, targetBytes = bytes / 4)
    assert(n >= 4 && n <= 5, s"expected ~4 files, planned $n")
    val after = spark.read.parquet(path)
    assert(after.inputFiles.length == n)
    assert(after.as[(Long, String)].collect().toSet ==
      df.as[(Long, String)].collect().toSet, "content must survive compaction")
  }

  test("recoverSwap restores a target lost between swap renames") {
    import spark.implicits._
    val base = tmpDir("swap")
    val target = s"$base/t"
    Seq((1L, "history")).toDF("id", "v").write.parquet(target)
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a crash between swapInto's two renames: target moved to
    // ._pre, replacement never arrived
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(s"$base/t._pre")))
    graft.ops.Layout.recoverSwap(spark, target)
    assert(spark.read.parquet(target).as[(Long, String)].collect()
      .toSet == Set((1L, "history")), "the ._pre copy must be restored")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/t._pre")))
    // stale-._pre case (crash after swap-in): target wins, ._pre dropped
    Seq((2L, "newer")).toDF("id", "v").write.parquet(s"$base/t._pre")
    graft.ops.Layout.recoverSwap(spark, target)
    assert(spark.read.parquet(target).as[(Long, String)].collect()
      .toSet == Set((1L, "history")), "existing target must be kept")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/t._pre")))
  }

  test("q70 approx percentiles sit inside the sketch envelope vs exact q59") {
    // the query's own envelope booleans (q ± 0.01 exact bounds) all hold
    val env = SparkEntry.queries("q70_approx_percentiles")(
        spark, TestSpark.sfDir).collect()
    assert(env.nonEmpty)
    env.foreach { r =>
      assert((1 to 4).forall(r.getBoolean), r.toString)
    }
    // and the raw estimates stay within tight absolute envelopes of the
    // exact q59 values (accuracy=1000 → rank error 1/1000, ~±20 ranks on
    // ~20k rows/group)
    import org.apache.spark.sql.functions.{col, element_at, expr}
    val exact = SparkEntry.queries("q59_percentiles")(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val approx = graft.sources.TableCatalog
      .load(spark, TestSpark.sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), " +
        "1000)").as("qa"),
        expr("approx_percentile(l_extendedprice, 0.95, 1000)").as("pa"))
      .select(col("l_returnflag"), element_at(col("qa"), 1),
        element_at(col("qa"), 2), element_at(col("qa"), 3), col("pa"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(approx.keySet == exact.keySet)
    for ((k, (p25, p50, p75, p95)) <- approx) {
      val (e25, e50, e75, e95) = exact(k)
      assert(math.abs(p25 - e25) <= 2.0, s"$k p25 $p25 vs $e25")
      assert(math.abs(p50 - e50) <= 2.0, s"$k p50 $p50 vs $e50")
      assert(math.abs(p75 - e75) <= 2.0, s"$k p75 $p75 vs $e75")
      assert(math.abs(p95 - e95) <= 0.02 * math.abs(e95),
        s"$k p95 $p95 vs $e95")
    }
  }

  test("compactionPlan: hand-computed consecutive merge groups, small " +
      "files flagged, totals reconcile") {
    import spark.implicits._
    // partition A files: 100, 100, 900, 1400 -> cums 100,200,1100,2500;
    // offset groups at target 1000: 0,0,0,1 -> 2 groups, 2 small (<250)
    val inv = Seq(
      ("A", 1L, 100L), ("A", 2L, 100L), ("A", 3L, 900L), ("A", 4L, 1400L),
      ("B", 1L, 5000L)
    ).toDF("part", "file_id", "size_rows")
    val out = Layout.compactionPlan(inv, "part", "file_id", "size_rows",
        target = 1000L)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getLong(1) == 4 && a.getLong(2) == 2500, a.toString)
    assert(a.getLong(3) == 2, s"groups: $a")
    assert(a.getLong(4) == 2, s"small files: $a")
    // group 0 holds 100+100+900=1100, group 1 holds 1400
    assert(a.getLong(5) == 1400, s"max group (rewrite memory bound): $a")
    val b = out("B")
    assert(b.getLong(3) == 1 && b.getLong(4) == 0, b.toString)
    assert(b.getLong(5) == 5000, b.toString)
  }

  test("clusteringDepth: disjoint ranges depth 1, identical ranges " +
      "depth = file count, staircase in between") {
    import spark.implicits._
    val inv = Seq(
      // clustered partition: disjoint [0,9] [10,19] [20,29]
      ("C", 1L, 0L, 9L), ("C", 2L, 10L, 19L), ("C", 3L, 20L, 29L),
      // unclustered: all files span [0,100]
      ("U", 1L, 0L, 100L), ("U", 2L, 0L, 100L), ("U", 3L, 0L, 100L),
      // staircase: [0,10] [5,15] -> depth at lo(5)=2, at lo(0)=1
      ("S", 1L, 0L, 10L), ("S", 2L, 5L, 15L)
    ).toDF("part", "file_id", "lo", "hi")
    val out = Layout.clusteringDepth(inv, "part", "file_id", "lo", "hi")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("C") == ((3L, 1L, 1.0)), out.toString)
    assert(out("U") == ((3L, 3L, 3.0)), out.toString)
    assert(out("S") == ((2L, 2L, 1.5)), out.toString)
  }
  test("compactPartitioned: merges each partition's files per the plan " +
      "rule, preserves content exactly, stays hive-readable") {
    import spark.implicits._
    val base = tmpDir("cmpex")
    val tbl = s"$base/tbl"
    val df = (0 until 300)
      .map(i => (i.toLong, s"row_$i", if (i % 3 == 0) "x" else "y"))
      .toDF("id", "payload", "k")
    df.repartition(8, col("id")).write.partitionBy("k")
      .mode("overwrite").parquet(tbl)
    val beforeRows = spark.read.parquet(tbl)
      .select("id", "payload", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // huge target: every partition collapses to ONE file
    val s1 = Layout.compactPartitioned(spark, tbl, targetBytes = 1L << 30)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(s1.length == 2, s1.toSeq.toString)
    s1.foreach { case (part, fb, fa) =>
      assert(fb == 8 && fa == 1, s"$part: $fb -> $fa")
    }
    val afterRows = spark.read.parquet(tbl)
      .select("id", "payload", "k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(afterRows == beforeRows, "content must survive byte-exactly")
    // filesystem check: exactly one parquet file per partition dir
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .filter(_.isDirectory).foreach { d =>
        val pq = fs.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        assert(pq.length == 1, s"${d.getPath}: ${pq.length} files")
      }
    // 1-byte target: every file is its own group — a no-op rewrite that
    // must keep the same file count and content (plan-fidelity floor)
    val s2 = Layout.compactPartitioned(spark, tbl, targetBytes = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    s2.foreach { case (part, fb, fa) =>
      assert(fb == 1 && fa == 1, s"$part: $fb -> $fa")
    }
    assert(spark.read.parquet(tbl).count() == 300)
    // flat (unpartitioned) layout is compact()'s job — refuse loudly
    val flat = s"$base/flat"
    df.coalesce(2).write.mode("overwrite").parquet(flat)
    intercept[IllegalArgumentException] {
      Layout.compactPartitioned(spark, flat, targetBytes = 1L << 20)
    }
  }

  test("compactPartitioned: multi-level hive layout compacts per LEAF " +
      "dir, content intact, _SUCCESS preserved, crash-safety kept") {
    import spark.implicits._
    val base = tmpDir("cmpml")
    val tbl = s"$base/tbl"
    val df = (0 until 400)
      .map(i => (i.toLong, s"row_$i",
        if (i % 2 == 0) "x" else "y", s"b${i % 3}"))
      .toDF("id", "payload", "a", "b")
    df.repartition(6, col("id")).write.partitionBy("a", "b")
      .mode("overwrite").parquet(tbl)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tbl/_SUCCESS")))
    val beforeRows = spark.read.parquet(tbl)
      .select("id", "payload", "a", "b").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    val s1 = Layout.compactPartitioned(spark, tbl, targetBytes = 1L << 30)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 2 a-values × 3 b-values = 6 leaf dirs, each 6 files -> 1
    assert(s1.length == 6, s1.toSeq.toString)
    s1.foreach { case (part, fb, fa) =>
      assert(part.matches("a=[xy]/b=b[012]"), part)
      assert(fb == 6 && fa == 1, s"$part: $fb -> $fa")
    }
    val afterRows = spark.read.parquet(tbl)
      .select("id", "payload", "a", "b").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(afterRows == beforeRows, "content must survive byte-exactly")
    // the root _SUCCESS marker survived the whole-table swap
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tbl/_SUCCESS")))
    // recoverSwap still guards the multi-level table (crash between
    // swapInto's renames: table at ._pre, target missing)
    assert(fs.rename(new org.apache.hadoop.fs.Path(tbl),
      new org.apache.hadoop.fs.Path(s"$tbl._pre")))
    Layout.recoverSwap(spark, tbl)
    assert(spark.read.parquet(tbl).count() == 400)
  }

  test("compactPartitioned: refuses loose data files the rewrite would " +
      "drop (partition dir, root) and mixed dir/file layouts") {
    import spark.implicits._
    val base = tmpDir("cmpguard")
    def freshTable(name: String): String = {
      val tbl = s"$base/$name"
      (0 until 50).map(i => (i.toLong, if (i % 2 == 0) "x" else "y"))
        .toDF("id", "k")
        .repartition(2).write.partitionBy("k").mode("overwrite").parquet(tbl)
      tbl
    }
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def touch(p: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p))
      out.writeBytes("not parquet"); out.close()
    }
    // 1. non-parquet regular file inside a partition dir -> refuse
    val t1 = freshTable("t1")
    touch(s"$t1/k=x/readme.txt")
    val e1 = intercept[IllegalArgumentException] {
      Layout.compactPartitioned(spark, t1, targetBytes = 1L << 30)
    }
    assert(e1.getMessage.contains("readme.txt"), e1.getMessage)
    assert(spark.read.option("pathGlobFilter", "*.parquet").parquet(t1)
      .count() == 50, "table must be untouched")
    // 2. loose non-hidden file at the table root -> refuse
    val t2 = freshTable("t2")
    touch(s"$t2/export.csv")
    val e2 = intercept[IllegalArgumentException] {
      Layout.compactPartitioned(spark, t2, targetBytes = 1L << 30)
    }
    assert(e2.getMessage.contains("export.csv"), e2.getMessage)
    // 3. a dir mixing subdirectories and parquet files -> refuse
    val t3 = freshTable("t3")
    val stray = spark.read.parquet(s"$t3/k=x").limit(5)
    stray.coalesce(1).write.mode("overwrite")
      .parquet(s"$base/strayfile")
    val pq = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/strayfile"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(s"$t3/k=x/sub=1")))
    assert(fs.rename(pq,
      new org.apache.hadoop.fs.Path(s"$t3/k=x/sub=1/part-0.parquet")))
    touch(s"$t3/k=x/sub=1/.hidden") // hidden files are fine anywhere
    val e3 = intercept[IllegalArgumentException] {
      Layout.compactPartitioned(spark, t3, targetBytes = 1L << 30)
    }
    assert(e3.getMessage.contains("mixes"), e3.getMessage)
  }

  test("compactPartitioned: independent group rewrites submit " +
      "CONCURRENTLY on the bounded pool") {
    import spark.implicits._
    val base = tmpDir("cmppar")
    val tbl = s"$base/tbl"
    (0 until 2000)
      .map(i => (i.toLong, s"payload_$i" * 8, s"p${i % 4}"))
      .toDF("id", "payload", "k")
      .repartition(6, col("id")).write.partitionBy("k")
      .mode("overwrite").parquet(tbl)
    // 4 partitions × 1 group each (huge target) = 4 independent jobs
    val probe = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = Layout.compactPartitionedImpl(spark, tbl,
      targetBytes = 1L << 30, maxConcurrent = 4, probe = Some(probe))
      .collect()
    assert(out.length == 4)
    assert(probe.get() >= 2,
      s"expected >=2 group rewrites in flight, saw max ${probe.get()}")
    assert(spark.read.parquet(tbl).count() == 2000)
    // serial floor: maxConcurrent=1 must still work and never overlap
    val probe1 = new java.util.concurrent.atomic.AtomicInteger(0)
    Layout.compactPartitionedImpl(spark, tbl, targetBytes = 1L,
      maxConcurrent = 1, probe = Some(probe1)).collect()
    assert(probe1.get() == 1, s"serial run overlapped: ${probe1.get()}")
    assert(spark.read.parquet(tbl).count() == 2000)
  }

  test("compactPartitioned: the concurrent pool beats the serial form " +
      "wall-clock on a many-partition fixture") {
    // on a core-starved box the local scheduler serializes the jobs
    // regardless of the driver pool — the comparison is only meaningful
    // with real parallel capacity
    assume(Runtime.getRuntime.availableProcessors >= 8,
      "needs >=8 cores for a meaningful concurrency comparison")
    import spark.implicits._
    val base = tmpDir("cmpwall")
    def freshTable(name: String): String = {
      val tbl = s"$base/$name"
      (0 until 4800)
        .map(i => (i.toLong, s"payload_$i" * 4, f"p${i % 24}%02d"))
        .toDF("id", "payload", "k")
        .repartition(4, col("id")).write.partitionBy("k")
        .mode("overwrite").parquet(tbl)
      tbl
    }
    def timed(tbl: String, conc: Int): Double = {
      val t0 = System.nanoTime()
      Layout.compactPartitionedImpl(spark, tbl, targetBytes = 1L << 30,
        maxConcurrent = conc, probe = None).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // 24 partitions x 1 group each; warm both paths once so neither
    // measurement pays first-use codegen/committer setup
    timed(freshTable("w"), 8)
    val serial = timed(freshTable("a"), 1)
    val concurrent = timed(freshTable("b"), 8)
    assert(spark.read.parquet(s"$base/b").count() == 4800)
    // 24 independent ~100ms jobs: an 8-wide pool lands well under the
    // serial total on an idle box (measured 5.2×) — but wall-clock on a
    // SHARED box can flake, so the comparison is recorded, not asserted;
    // the BINDING concurrency contract is the AtomicInteger in-flight
    // probe test above
    info(f"serial $serial%.2fs vs concurrent(8) $concurrent%.2fs " +
      f"(${serial / concurrent}%.1fx)")
  }

  test("reclusterZOrdered: in-place rewrite preserves content and " +
      "improves overlap depth (q238 independence probe)") {
    val events = graft.sources.TableCatalog
      .load(spark, "/root/testdata/sf0.01", "events")
      .filter(col("event_id") < 8000)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val base = tmpDir("reclus")
    val tbl = s"$base/t"
    events.repartition(16).write.mode("overwrite").parquet(tbl)

    def maxDepth(): Long =
      Layout.clusteringDepth(
        spark.read.parquet(tbl)
          .groupBy(input_file_name().as("f"))
          .agg(min(col("user_id")).as("lo"), max(col("user_id")).as("hi"))
          .withColumn("part", lit("t")),
        "part", "f", "lo", "hi")
        .select(col("max_depth")).head.getLong(0)

    val beforeRows = spark.read.parquet(tbl).collect()
      .map(_.toString).sorted.toSeq
    val depthBefore = maxDepth()
    assert(depthBefore >= 12,
      s"round-robin fixture should be unclustered, depth $depthBefore")

    Layout.reclusterZOrdered(spark, tbl, col("user_id"),
      (hour(col("ts")) * 60 + minute(col("ts"))).cast("long"),
      files = 16) // widths auto-fit from the data (8-bit users at sf0.01)

    val afterRows = spark.read.parquet(tbl).collect()
      .map(_.toString).sorted.toSeq
    assert(afterRows == beforeRows, "content must survive the rewrite")
    val depthAfter = maxDepth()
    assert(depthAfter < depthBefore,
      s"depth must improve: $depthBefore -> $depthAfter")
    // margin note: 16 -> 10 measured at sf0.01 (the 150-user domain
    // fills only the bottom of its 8-bit field, so curve segments cut
    // unevenly); the envelope claims strict improvement, the probe adds
    // a 25% floor so a no-op rewrite can't pass on noise
    assert(depthAfter * 4 <= depthBefore * 3,
      s"z-order should cut overlap depth by >=25%: " +
        s"$depthBefore -> $depthAfter")

    // pruning on THIS fixture (150-user domain, 16 files): measured 2x —
    // real but domain-limited; the measured scale claim lives in the
    // dedicated pruning test below
  }

  test("parquetColumnStats: footer-only inventory matches data-derived " +
      "per-file min/max/rows exactly (q239 independence probe)") {
    val events = graft.sources.TableCatalog
      .load(spark, "/root/testdata/sf0.01", "events")
      .filter(col("event_id") < 4000)
      .select(col("event_id"), col("user_id"),
        (col("event_id") % 3).cast("string").as("k"))
    val base = tmpDir("fstats")
    val tbl = s"$base/t"
    events.withColumn("k", concat(lit("g"), col("k")))
      .repartition(4).write.partitionBy("k").mode("overwrite").parquet(tbl)
    val stats = Layout.parquetColumnStats(spark, tbl, "user_id")
      .collect()
      .map(r => (s"${r.getString(0)}/${r.getString(1)}",
        (r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    // ground truth from the data itself (one row group per small file,
    // so per-file == per-row-group)
    val truth = spark.read.parquet(tbl)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"), min(col("user_id")).as("lo"),
        max(col("user_id")).as("hi"))
      .collect()
      .map { r =>
        val rel = r.getString(0).split("/").takeRight(2).mkString("/")
        rel -> ((r.getLong(1), r.getLong(2).toDouble, r.getLong(3).toDouble))
      }.toMap
    assert(stats.keySet == truth.keySet,
      s"${stats.keySet} vs ${truth.keySet}")
    stats.foreach { case (k, v) => assert(v == truth(k), s"$k: $v vs ${truth(k)}") }
    // non-numeric column -> loud refusal, never a silent garbage range
    val e = intercept[Exception] {
      Layout.parquetColumnStats(spark,
        "/root/testdata/sf0.01/documents.parquet", "text").collect()
    }
    assert(e.getMessage.contains("non-numeric"), e.getMessage)
  }

  test("reclusterWorstPartitions: footer audit selects ONLY the " +
      "unclustered partition, rewrites it in place, leaves the " +
      "clustered one untouched") {
    import spark.implicits._
    val base = tmpDir("worstp")
    val tbl = s"$base/t"
    val rows = (0 until 4096)
      .map(i => (i.toLong % 256L, (i.toLong * 2654435761L) % 256L,
        if (i < 2048) "bad" else "good", s"pay_$i"))
      .toDF("a", "b", "k", "payload")
    rows.filter(col("k") === "bad").repartition(8)
      .write.partitionBy("k").mode("overwrite").parquet(tbl)
    rows.filter(col("k") === "good")
      .withColumn("_z", Layout.zorderKey2(col("a"), col("b"), 8, 8, 8))
      .repartitionByRange(8, col("_z")).sortWithinPartitions("_z")
      .drop("_z")
      .write.partitionBy("k").mode("append").parquet(tbl)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def goodFiles(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$tbl/k=good"))
        .map(_.getPath.getName).toSet
    val goodBefore = goodFiles()
    val content = spark.read.parquet(tbl).select("a", "b", "k", "payload")
      .collect().map(_.toString).sorted.toSeq

    val summary = Layout.reclusterWorstPartitions(spark, tbl,
        keyA = "a", keyB = col("b"), files = 8,
        maxPartitions = 1, minAvgDepth = 1.5)
      .collect()
      .map(r => r.getString(0) -> r.getBoolean(r.length - 1)).toMap
    assert(summary == Map("k=bad" -> true, "k=good" -> false), summary)
    // untouched partition keeps its exact files; content survives
    assert(goodFiles() == goodBefore, "clustered partition must be untouched")
    assert(spark.read.parquet(tbl).select("a", "b", "k", "payload")
      .collect().map(_.toString).sorted.toSeq == content)
    // the rewritten partition's footer-measured depth improved
    val depthAfter = Layout.clusteringDepth(
      Layout.parquetColumnStats(spark, s"$tbl/k=bad", "a")
        .withColumn("part", lit("t"))
        .withColumn("unit", concat_ws("#", col("file"), col("row_group"))),
      "part", "unit", "lo", "hi")
      .select(col("max_depth")).head.getLong(0)
    assert(depthAfter < 8, s"bad partition depth must improve: $depthAfter")

    // a crashed leaf swap (target gone, only the ._pre copy left) and
    // committer staging debris must be REPAIRED/skipped by the next
    // maintenance run — never audited as partitions or rewritten in place
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tbl/k=bad"),
      new org.apache.hadoop.fs.Path(s"$tbl/k=bad._pre")))
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tbl/_temporary/0")))
    val summary2 = Layout.reclusterWorstPartitions(spark, tbl,
        keyA = "a", keyB = col("b"), files = 8,
        maxPartitions = 1, minAvgDepth = 1.5)
      .collect().map(_.getString(0)).toSet
    assert(summary2 == Set("k=bad", "k=good"),
      s"debris must be repaired, not audited: $summary2")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tbl/k=bad")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$tbl/k=bad._pre")),
      "the crashed swap must be repaired before the audit")
    assert(spark.read.parquet(tbl).count() == 4096)

    // a flat directory is reclusterZOrdered's job — refuse, never no-op
    val flat = s"$base/flat"
    rows.limit(64).coalesce(1).write.mode("overwrite").parquet(flat)
    val eFlat = intercept[IllegalArgumentException] {
      Layout.reclusterWorstPartitions(spark, flat, "a", col("b"), 4, 1)
    }
    assert(eFlat.getMessage.contains("root-level parquet"), eFlat.getMessage)
  }

  test("parquetColumnStats: footer reads fan out on the bounded pool " +
      "(in-flight probe); pooled walk beats serial with injected " +
      "per-footer latency; multi-column rides ONE walk") {
    import spark.implicits._
    val base = tmpDir("fpar")
    val tbl = s"$base/t"
    (0 until 4096).map(i => (i.toLong, i.toLong % 64L, s"g${i % 4}"))
      .toDF("id", "v", "k")
      .repartition(8).write.partitionBy("k").mode("overwrite").parquet(tbl)
    // 4 partitions × 8 files = 32 footers; the 20ms injected latency
    // makes the overlap deterministic to observe
    val probe = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = graft.ops.Layout.parquetColumnStatsImpl(spark, tbl, Seq("v"),
      maxConcurrent = 8, probe = Some(probe), readDelayMs = 20L).collect()
    assert(out.length == 32, s"expected 32 row-group rows, got ${out.length}")
    assert(probe.get() >= 2,
      s"expected >=2 footer reads in flight, saw max ${probe.get()}")
    // serial floor never overlaps
    val probe1 = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.ops.Layout.parquetColumnStatsImpl(spark, tbl, Seq("v"),
      maxConcurrent = 1, probe = Some(probe1)).collect()
    assert(probe1.get() == 1, s"serial walk overlapped: ${probe1.get()}")
    // with the injected latency DOMINATING (32×20ms serial vs 4 waves
    // pooled), the comparison is deterministic, not a wall-clock flake
    def timed(conc: Int): Double = {
      val t0 = System.nanoTime()
      graft.ops.Layout.parquetColumnStatsImpl(spark, tbl, Seq("v"),
        maxConcurrent = conc, readDelayMs = 20L).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val serial = timed(1)
    val pooled = timed(8)
    info(f"serial $serial%.2fs vs pooled(8) $pooled%.2fs " +
      f"(${serial / pooled}%.1fx)")
    assert(pooled < 0.6 * serial,
      f"pooled walk $pooled%.2fs must beat serial $serial%.2fs")
    // multi-column long format: one walk, both columns, per-file bytes
    val multi = graft.ops.Layout.parquetColumnStatsMulti(
      spark, tbl, Seq("id", "v"))
    assert(multi.count() == 64)
    assert(multi.select("column").distinct().collect()
      .map(_.getString(0)).toSet == Set("id", "v"))
    assert(multi.filter(col("file_bytes") <= 0).isEmpty)
    // and the single-column view matches it row for row
    val single = Layout.parquetColumnStats(spark, tbl, "v")
      .collect().map(_.toString).toSeq
    val fromMulti = multi.filter(col("column") === "v")
      .select("part_dir", "file", "row_group", "rows", "lo", "hi")
      .collect().map(_.toString).toSeq
    assert(single == fromMulti)
  }

  test("reclusterZOrdered: wide long domains fail the width auto-fit " +
      "loudly with the rank-bucket remedy, table untouched") {
    import spark.implicits._
    val base = tmpDir("wide")
    val tbl = s"$base/t"
    // epoch-ms timestamps need ~41 bits — past the 31-bit interleave
    Seq((1700000000000L, 5L), (1700000001000L, 9L)).toDF("ts_ms", "b")
      .coalesce(1).write.parquet(tbl)
    val e = intercept[IllegalArgumentException] {
      Layout.reclusterZOrdered(spark, tbl, col("ts_ms"), col("b"), files = 1)
    }
    assert(e.getMessage.contains("rank-bucket"), e.getMessage)
    assert(spark.read.parquet(tbl).count() == 2, "table must be untouched")
  }

  test("compactPartitioned: repairs a crashed LEAF swap first and drops " +
      "stale rewrite debris instead of compacting it as a partition — " +
      "while a partition VALUE merely containing '._' is data, kept") {
    import spark.implicits._
    val base = tmpDir("cmpdebris")
    val tbl = s"$base/tbl"
    (0 until 200).map(i => (i.toLong,
        Seq("x", "y", "v1._beta", "v1._beta")(i % 4)))
      .toDF("id", "k")
      .repartition(4, col("id")).write.partitionBy("k")
      .mode("overwrite").parquet(tbl)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(tbl).getFileSystem(conf)
    // crashed per-leaf swap: k=x moved aside, ._pre holds the ONLY copy
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tbl/k=x"),
      new org.apache.hadoop.fs.Path(s"$tbl/k=x._pre")))
    // stale rewrite tmp holding a DUPLICATE copy of k=y (a rewrite that
    // crashed BEFORE its swap), plus committer staging
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$tbl/k=y"), fs,
      new org.apache.hadoop.fs.Path(s"$tbl/k=y._reclustering"),
      false, true, conf)
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tbl/_temporary/0")))
    val out = Layout.compactPartitioned(spark, tbl, targetBytes = 1L << 30)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(out.map(_._1).toSet == Set("k=x", "k=y", "k=v1._beta"),
      s"reserved-suffix debris skipped, '._' VALUES kept: ${out.toSeq}")
    // k=x repaired then compacted — content intact, NO row duplication
    // from the stale k=y copy, and the v1._beta partition survived
    assert(spark.read.parquet(tbl).count() == 200)
    assert(spark.read.parquet(tbl).select("id").distinct().count() == 200)
    assert(spark.read.parquet(tbl)
      .filter(col("k") === "v1._beta").count() == 100,
      "a partition value containing '._' must never be dropped as debris")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tbl/k=x._pre")))
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$tbl/k=y._reclustering")),
      "stale rewrite tmp must be dropped by the swap, not promoted")
  }

  test("compactOrdered: merges consecutive name-ordered files per the " +
      "planner's EXACT rule (files_after == plan n_groups), preserving " +
      "content and the clustered layout — no shuffle") {
    import spark.implicits._
    val base = tmpDir("cmpord")
    val tbl = s"$base/t"
    // range-clustered 8 files: part-0 holds the lowest ids, part-7 the
    // highest — consecutive merges must keep ranges contiguous
    (0 until 8000).map(i => (i.toLong, s"pay_$i"))
      .toDF("id", "payload")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(tbl)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    assert(files.length == 8)
    val bytes = files.map(_.getLen)
    // the planner's own rule on the same inventory = expected file count
    val target = bytes.sum / 3
    var cum = 0L
    val expectGroups = bytes.map { b => cum += b; (cum - b) / target }
      .distinct.length
    val before = spark.read.parquet(tbl).as[(Long, String)]
      .collect().toSet
    val n = Layout.compactOrdered(spark, tbl, targetBytes = target)
    assert(n == expectGroups, s"executor must match the plan: $n vs " +
      s"$expectGroups")
    assert(spark.read.parquet(tbl).inputFiles.length == n)
    assert(spark.read.parquet(tbl).as[(Long, String)].collect().toSet ==
      before, "content must survive")
    // clustering preserved: merged files still hold DISJOINT contiguous
    // id ranges (a repartition-based compact would give every file the
    // full range)
    val ranges = spark.read.parquet(tbl)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("id")).as("lo"), max(col("id")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"ranges must stay disjoint: ${ranges.toSeq}")
      case _ => ()
    }
  }

  test("reclusterWorstPartitions: auditKeyB selects a partition " +
      "clustered on keyA but SHREDDED on keyB that the single-key " +
      "audit misses") {
    import spark.implicits._
    val base = tmpDir("twocol")
    val tbl = s"$base/t"
    val rows = (0 until 4096)
      .map(i => (i.toLong % 256L, (i.toLong * 2654435761L) % 256L,
        if (i < 2048) "ab" else "good", s"pay_$i"))
      .toDF("a", "b", "k", "payload")
    // "ab": range-sorted on a (a-depth ~1) but b lands round-robin —
    // every file spans the full b range
    rows.filter(col("k") === "ab")
      .repartitionByRange(8, col("a")).sortWithinPartitions("a")
      .write.partitionBy("k").mode("overwrite").parquet(tbl)
    // "good": z-ordered on (a, b) — both depths low
    rows.filter(col("k") === "good")
      .withColumn("_z", Layout.zorderKey2(col("a"), col("b"), 8, 8, 8))
      .repartitionByRange(8, col("_z")).sortWithinPartitions("_z")
      .drop("_z")
      .write.partitionBy("k").mode("append").parquet(tbl)
    val content = spark.read.parquet(tbl).select("a", "b", "k", "payload")
      .collect().map(_.toString).sorted.toSeq
    def bDepth(part: String): Long = Layout.clusteringDepth(
      Layout.parquetColumnStats(spark, s"$tbl/$part", "b")
        .withColumn("part", lit("t"))
        .withColumn("unit", concat_ws("#", col("file"), col("row_group"))),
      "part", "unit", "lo", "hi")
      .select(col("max_depth")).head.getLong(0)
    assert(bDepth("k=ab") == 8, "fixture: ab must be b-shredded")
    // keyA-only audit: ab looks healthy on a — never selected (the
    // selection/rewrite objective mismatch the joint audit closes)
    val s1 = Layout.reclusterWorstPartitions(spark, tbl,
        keyA = "a", keyB = col("b"), files = 8,
        maxPartitions = 1, minAvgDepth = 3.0)
      .collect().map(r => r.getString(0) -> r.getBoolean(r.length - 1)).toMap
    assert(s1("k=ab") == false, s"single-key audit must miss ab: $s1")
    // joint audit: ab's b-depth (8) dominates the max metric — selected,
    // rewritten, both-dimension layout fixed
    val s2 = Layout.reclusterWorstPartitions(spark, tbl,
        keyA = "a", keyB = col("b"), files = 8,
        maxPartitions = 1, minAvgDepth = 3.0, auditKeyB = Some("b"))
      .collect().map(r => r.getString(0) -> r.getBoolean(r.length - 1)).toMap
    assert(s2 == Map("k=ab" -> true, "k=good" -> false), s2.toString)
    assert(spark.read.parquet(tbl).select("a", "b", "k", "payload")
      .collect().map(_.toString).sorted.toSeq == content,
      "content must survive the joint-audit rewrite")
    assert(bDepth("k=ab") < 8, s"ab's b-depth must improve: ${bDepth("k=ab")}")
  }

  test("optimizeTable: ONE footer inventory drives compact / recluster " +
      "/ skip per partition; content survives; healthy partition's " +
      "files untouched") {
    import spark.implicits._
    val base = tmpDir("opt")
    val tbl = s"$base/t"
    val rows = (0 until 6144)
      .map(i => (i.toLong % 256L, (i.toLong * 2654435761L) % 256L,
        Seq("rr", "sm", "ok")(i % 3), s"pay_$i"))
      .toDF("a", "b", "k", "payload")
    // rr: round-robin fragmented — depth ≈ 8 → recluster
    rows.filter(col("k") === "rr").repartition(8)
      .write.partitionBy("k").mode("overwrite").parquet(tbl)
    // sm: clustered on a but 8 small files → compact
    rows.filter(col("k") === "sm")
      .repartitionByRange(8, col("a")).sortWithinPartitions("a")
      .write.partitionBy("k").mode("append").parquet(tbl)
    // ok: one healthy file → skip
    rows.filter(col("k") === "ok").coalesce(1)
      .write.partitionBy("k").mode("append").parquet(tbl)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def filesOf(part: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$tbl/$part"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    val okBefore = filesOf("k=ok")
    val content = spark.read.parquet(tbl).select("a", "b", "k", "payload")
      .collect().map(_.toString).sorted.toSeq
    def aDepth(part: String): Long = Layout.clusteringDepth(
      Layout.parquetColumnStats(spark, s"$tbl/$part", "a")
        .withColumn("part", lit("t"))
        .withColumn("unit", concat_ws("#", col("file"), col("row_group"))),
      "part", "unit", "lo", "hi")
      .select(col("max_depth")).head.getLong(0)
    val rrDepthBefore = aDepth("k=rr")
    assert(rrDepthBefore == 8, "fixture: rr must be unclustered")
    val out = Layout.optimizeTable(spark, tbl, keyA = "a", keyB = col("b"),
        files = 8, targetBytes = 1L << 30, minAvgDepth = 3.0)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("k=rr")._1 == "recluster", out.toString)
    assert(out("k=sm") == (("compact", 8L, 1L)), out.toString)
    assert(out("k=ok") == (("skip", 1L, 1L)), out.toString)
    assert(filesOf("k=ok") == okBefore,
      "the healthy partition must keep its exact files")
    assert(spark.read.parquet(tbl).select("a", "b", "k", "payload")
      .collect().map(_.toString).sorted.toSeq == content,
      "content must survive the mixed maintenance pass")
    assert(aDepth("k=rr") < rrDepthBefore,
      s"recluster must improve rr's depth: ${aDepth("k=rr")}")
    assert(filesOf("k=sm").size == 1, "compact must land one file")
  }

  test("z-ordered layout PRUNES the parquet scan, measured: the same " +
      "pushed filter reads a fraction of the rows vs round-robin") {
    import spark.implicits._
    // fully-populated 10-bit domains so curve quadrants fill evenly —
    // the shape a rank-bucketed production key has (see zorderKey2 doc)
    val n = 1 << 16
    val df = (0 until n)
      .map(i => (i.toLong % 1024L, (i.toLong * 2654435761L) % 1024L,
        s"pay_$i"))
      .toDF("a", "b", "payload")
    val base = tmpDir("prune")
    Layout.writeZOrdered(df, s"$base/z", col("a"), col("b"),
      files = 64, bits = 10, aBits = 10, bBits = 10)
    df.repartition(64).write.mode("overwrite").parquet(s"$base/naive")

    // rows OUT OF THE SCAN (post row-group skip, pre re-filter) — the
    // bytes-read proxy the layout tier's whole value claim rests on
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path)
        .filter(col("a") >= 0 && col("a") <= 63)
      q.collect()
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, q.queryExecution.executedPlan.toString)
      assert(scans.head.metadata("PushedFilters")
        .contains("LessThanOrEqual(a,63)"),
        scans.head.metadata("PushedFilters"))
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val (zRows, naiveRows) = (scanRows(s"$base/z"), scanRows(s"$base/naive"))
    // round-robin: every file spans [0,1023], nothing skips
    assert(naiveRows == n,
      s"round-robin layout should skip nothing, scanned $naiveRows")
    // 64 curve-tiling files ~ 8x8 grid: the 64-wide a-slice lives in
    // ~1/8 of the files; 4x is the conservative floor
    assert(zRows * 4 <= naiveRows,
      s"clustered scan must prune >=4x: z=$zRows vs naive=$naiveRows")
  }
}
