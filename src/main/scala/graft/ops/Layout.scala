package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.TableCatalog

/** Data-layout operators: multi-dimensional clustering for scan pruning.
  *
  * At 100 TB the cheapest query is the one that never reads the file:
  * parquet keeps min/max statistics per file and row group, and readers
  * skip units whose range cannot match the filter. Those statistics only
  * help when the writer CLUSTERED the data — a round-robin layout gives
  * every file the full key range and nothing ever prunes. Sorting solves
  * one dimension; Z-ordering (bit-interleaving) keeps BOTH dimensions'
  * ranges narrow per file, so filters on either column (or both) prune.
  *
  * The interleave is a pure fold of codegen'd bitwise column ops — no UDF,
  * no custom expression needed.
  */
object Layout {

  /** Z-order (Morton) key of two non-negative integer columns: bit i of
    * `a` lands at position 2i, bit i of `b` at 2i+1.
    *
    * `aBits`/`bBits` declare each column's domain width; narrower domains
    * are left-shifted so both columns' MOST significant bits interleave.
    * Without this alignment a wider domain (say an 11-bit minute against
    * an 8-bit user id) monopolizes the curve's high bits and the narrow
    * column never clusters — the curve degenerates to a plain sort on the
    * wide column. Skewed domains should be rank-bucketed to a uniform
    * range first; values are masked to their declared width. */
  def zorderKey2(a: Column, b: Column, bits: Int = 21,
                 aBits: Int = -1, bBits: Int = -1): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val (aw, bw) = (if (aBits <= 0) bits else aBits,
      if (bBits <= 0) bits else bBits)
    require(aw <= bits && bw <= bits, s"column widths exceed bits=$bits")
    val al = shiftleft(a.cast("long")
      .bitwiseAND(lit((1L << aw) - 1)), bits - aw)
    val bl = shiftleft(b.cast("long")
      .bitwiseAND(lit((1L << bw) - 1)), bits - bw)
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Write `df` as parquet clustered along the Z-curve of (keyA, keyB):
    * range-partition on the interleaved key (so files tile the curve),
    * sort within each partition (so row groups tile it too), drop the
    * helper column. `files` bounds output file count — size it to the
    * target file size (~128 MB–1 GB at scale), not the partition count of
    * the incoming frame. */
  def writeZOrdered(df: DataFrame, path: String, keyA: Column, keyB: Column,
                    files: Int, bits: Int = 21,
                    aBits: Int = -1, bBits: Int = -1): Unit =
    df.withColumn("_zkey", zorderKey2(keyA, keyB, bits, aBits, bBits))
      .repartitionByRange(files, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)

  /** Compact a parquet directory to ~`targetBytes` files — the antidote to
    * the small-file problem every streaming sink and over-parallel write
    * creates (at 100 TB, file-count scales driver planning and NameNode/
    * object-store metadata, not just read throughput). Sizes come from the
    * filesystem, the rewrite lands next to the source and swaps in via
    * rename, and the file count is computed from actual bytes, never the
    * incoming partition count. Returns the new file count. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    // the target is swap-managed (compact itself swaps): honor
    // recoverSwap's contract and repair a crashed prior swap BEFORE
    // listing/reading — otherwise the data sits at `._pre` and compact
    // fails on the missing path instead of repairing it
    recoverSwap(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = fs.listStatus(p)
    // partition-aware compaction (per-directory rewrite preserving the
    // hive layout) is a different operator; refuse rather than silently
    // flattening date=.../part-*.parquet into one unpartitioned file
    require(!entries.exists(_.isDirectory),
      s"compact: $path contains subdirectories (partitioned layout?) — " +
        "compact operates on a flat parquet directory")
    val bytes = entries.filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    require(bytes > 0, s"compact: no parquet data found under $path")
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val tmp = new Path(p.getParent, p.getName + "._compacting")
    TableCatalog.readParquet(spark, path)
      .repartition(files)
      .write.mode("overwrite").parquet(tmp.toString)
    swapInto(spark, tmp.toString, path)
    files
  }

  /** Order-preserving compaction of a flat parquet directory: merge
    * CONSECUTIVE files (stable name order) into ~`targetBytes` groups by
    * [[compactionPlan]]'s exact offset rule — group = (cum − size) div
    * target on actual bytes — one output file per group, no shuffle.
    * This is the executor that matches the PLANNER one-to-one (the
    * plan's n_groups IS the post-compaction file count), and because
    * consecutive name-ordered files of a clustered table hold adjacent
    * key ranges, the merge preserves the clustering a depth audit just
    * certified — unlike [[compact]]'s repartition, which round-robins
    * every row and shreds it. Swap-managed and crash-safe like compact.
    * Returns the new file count. */
  def compactOrdered(spark: SparkSession, path: String,
                     targetBytes: Long): Int = {
    require(targetBytes > 0,
      s"compactOrdered: target must be positive: $targetBytes")
    recoverSwap(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = fs.listStatus(p)
    require(!entries.exists(_.isDirectory),
      s"compactOrdered: $path contains subdirectories (partitioned " +
        "layout?) — compactOrdered operates on a flat parquet directory")
    val stray = entries.filter(e => e.isFile &&
      !isHidden(e.getPath.getName) &&
      !e.getPath.getName.endsWith(".parquet"))
    require(stray.isEmpty,
      s"compactOrdered: $path holds non-parquet data files " +
        s"(${stray.head.getPath.getName}) the rewrite would drop — refusing")
    val files = entries.filter(e => e.isFile &&
      e.getPath.getName.endsWith(".parquet") &&
      !isHidden(e.getPath.getName)).sortBy(_.getPath.getName).toSeq
    require(files.nonEmpty, s"compactOrdered: no parquet data under $path")
    var cum = 0L
    val groups = files.map { f =>
      cum += f.getLen
      ((cum - f.getLen) / targetBytes, f.getPath)
    }.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    val tmp = new Path(p.getParent, p.getName + "._compacting")
    fs.delete(tmp, true)
    groups.zipWithIndex.foreach { case (paths, i) =>
      val gDir = new Path(tmp, s"_group_$i")
      TableCatalog.readParquet(spark, paths.map(_.toString): _*)
        .coalesce(1)
        .write.mode("overwrite").parquet(gDir.toString)
      val written = fs.listStatus(gDir)
        .filter(_.getPath.getName.endsWith(".parquet"))
      require(written.length == 1,
        s"group rewrite must land one file, got ${written.length}")
      val dst = new Path(tmp, f"part-$i%05d.parquet")
      if (!fs.rename(written.head.getPath, dst))
        throw new java.io.IOException(
          s"compactOrdered: rename ${written.head.getPath} -> $dst failed")
      fs.delete(gDir, true)
    }
    swapInto(spark, tmp.toString, path)
    groups.length
  }

  /** Re-clustering EXECUTOR — rewrites a flat parquet directory
    * Z-ordered IN PLACE, closing [[clusteringDepth]]'s audit loop the
    * way [[compactPartitioned]] closes [[compactionPlan]]'s: the audit
    * flags the interleaved layout, this applies the fix, and the caller
    * verifies content identity via the [[Audit.partitionChecksums]]
    * manifest (q238). Crash-safe: the Z-ordered copy lands beside the
    * source and swaps in via [[swapInto]]'s two-rename protocol — a
    * failure anywhere leaves the original table intact, and
    * [[recoverSwap]] repairs a crash between the renames.
    *
    * Scale shape: one distributed range-partition + within-partition
    * sort over the table (exactly the cost OPTIMIZE ZORDER pays), plus —
    * when widths aren't given — ONE min/max aggregate to FIT each key's
    * domain width. The fit matters: zorderKey2 only clusters both
    * dimensions when their MOST significant bits interleave (see its
    * doc), and a static width misfits as the table grows (a user-id
    * domain that was 8 bits at sf0.01 is 11 at sf0.1 — wrong either
    * way unless measured). No driver-side data beyond the 2-value
    * aggregate. `files` bounds the output layout — size it to the
    * target file size, not the input's fragmentation. */
  def reclusterZOrdered(spark: SparkSession, path: String,
                        keyA: Column, keyB: Column, files: Int,
                        bits: Int = -1, aBits: Int = -1,
                        bBits: Int = -1): Unit = {
    recoverSwap(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // same data-loss guard as compact(): the rewrite emits a FLAT
    // parquet directory and the swap replaces the whole target — a
    // hive-partitioned tree would be silently flattened (downstream
    // partition-pruning readers see a different table) and loose
    // non-parquet files destroyed. Refuse both loudly.
    val entries = fs.listStatus(p)
    require(!entries.exists(_.isDirectory),
      s"reclusterZOrdered: $path contains subdirectories (partitioned " +
        "layout?) — the Z-order rewrite operates on a flat parquet " +
        "directory; recluster each leaf partition dir instead")
    val stray = entries.filter(e => e.isFile &&
      !isHidden(e.getPath.getName) &&
      !e.getPath.getName.endsWith(".parquet"))
    require(stray.isEmpty,
      s"reclusterZOrdered: $path holds non-parquet data files " +
        s"(${stray.head.getPath.getName}) the rewrite would drop — refusing")
    val df = TableCatalog.readParquet(spark, path)
    val (aw, bw) =
      if (aBits > 0 && bBits > 0) (aBits, bBits)
      else {
        val r = df.agg(min(keyA.cast("long")), max(keyA.cast("long")),
          min(keyB.cast("long")), max(keyB.cast("long"))).head
        require(!r.anyNull && r.getLong(0) >= 0 && r.getLong(2) >= 0,
          s"reclusterZOrdered: width auto-fit needs non-negative keys, " +
            s"got mins ${r.get(0)}/${r.get(2)} — pass aBits/bBits " +
            "explicitly (rank-bucket skewed or signed domains first)")
        def width(maxV: Long): Int =
          math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(maxV))
        (if (aBits > 0) aBits else width(r.getLong(1)),
          if (bBits > 0) bBits else width(r.getLong(3)))
      }
    // fail the auto-fit HERE with the remedy, not in zorderKey2's generic
    // range require: wide long domains (epoch-ms timestamps, snowflake
    // ids) legitimately measure >31 bits and need rank-bucketing first
    require(aw <= 31 && bw <= 31,
      s"reclusterZOrdered: key domain too wide for the 31-bit interleave " +
        s"(fitted widths a=$aw, b=$bw bits) — rank-bucket the wide key " +
        "to a bounded range first, or pass aBits/bBits explicitly")
    val useBits = if (bits > 0) bits else math.max(aw, bw)
    val tmp = new Path(p.getParent, p.getName + "._reclustering")
    writeZOrdered(df, tmp.toString, keyA, keyB, files, useBits, aw, bw)
    swapInto(spark, tmp.toString, path)
  }

  /** Names hive readers treat as metadata, not data ("_SUCCESS",
    * ".part-….crc"). */
  private def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** The swap protocol's RESERVED directory suffixes — the only names
    * the maintenance walks treat as debris. Precise on purpose: an
    * earlier draft skipped anything containing "._", which would have
    * silently dropped a legitimate hive partition whose VALUE contains
    * "._" (hive's path escaping leaves '.' and '_' unescaped) from a
    * whole-table rewrite. A partition value ending in one of these
    * exact suffixes is outside the contract (documented reservation),
    * everything else is data. */
  private val SwapDebrisSuffixes =
    Seq("._pre", "._compacting", "._reclustering", "._merging")

  private def isSwapDebris(name: String): Boolean =
    SwapDebrisSuffixes.exists(name.endsWith)

  /** Run independent Spark-job thunks CONCURRENTLY on a bounded driver
    * pool under one shared job group: the first failure cancels
    * in-flight siblings (interruptOnCancel) and every task settles
    * before the error propagates — otherwise orphaned jobs would keep
    * mutating tmp/swap state after the caller has already seen the
    * exception (racing any catch-and-retry). The fan-out discipline
    * shared by [[compactPartitionedImpl]], [[reclusterWorstPartitions]]
    * and [[optimizeTable]]. */
  private def runCancellably(spark: SparkSession, label: String,
                             maxConcurrent: Int,
                             tasks: Seq[(String, () => Unit)]): Unit = {
    if (tasks.isEmpty) return
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, math.max(1, tasks.length)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val jobGroup = s"graft-$label-${java.util.UUID.randomUUID}"
    val futures = tasks.map { case (desc, thunk) =>
      scala.concurrent.Future {
        spark.sparkContext.setJobGroup(jobGroup, desc,
          interruptOnCancel = true)
        thunk()
      }
    }
    try
      futures.foreach(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf))
    catch {
      case e: Throwable =>
        spark.sparkContext.cancelJobGroup(jobGroup)
        futures.foreach(f => try scala.concurrent.Await.ready(f,
            scala.concurrent.duration.Duration.Inf)
          catch { case _: Throwable => () })
        throw e
    } finally pool.shutdown()
  }

  /** Per-ROW-GROUP statistics of a numeric column across a parquet tree,
    * read from file FOOTERS only — zero data scan. This is the inventory
    * a lakehouse table format keeps in its manifests, recovered here for
    * PLAIN parquet directly from the bytes parquet already wrote: at
    * 100 TB the maintenance DECISION (which partitions to compact or
    * re-cluster) must cost metadata, not a table scan, and a footer is
    * a few KB per file read on the driver — the same cost class as the
    * directory walk the compaction planner does. Emits one row per
    * (partition dir, file, row group): rows, lo, hi — exactly the frame
    * [[clusteringDepth]] audits and [[compactionPlan]] groups, so the
    * simulated inventories of q229/q230 have a real-metadata twin.
    * Numeric (integral/floating) statistics only, surfaced as doubles —
    * a range audit needs ordering, not exactness. */
  def parquetColumnStats(spark: SparkSession, path: String,
                         column: String): DataFrame =
    parquetColumnStatsImpl(spark, path, Seq(column))
      .select("part_dir", "file", "row_group", "rows", "lo", "hi")

  /** Multi-column footer inventory in ONE metadata walk: long format,
    * one row per (partition dir, file, row group, column) with the
    * file's byte size alongside — the single frame that prices BOTH
    * maintenance decisions ([[optimizeTable]]: compact on byte
    * pressure, re-cluster on overlap depth) without walking the
    * footers twice. */
  def parquetColumnStatsMulti(spark: SparkSession, path: String,
                              columns: Seq[String]): DataFrame =
    parquetColumnStatsImpl(spark, path, columns)

  /** [[parquetColumnStats]] core: [[parquetFooterStats]] as a frame. */
  private[graft] def parquetColumnStatsImpl(
      spark: SparkSession, path: String, columns: Seq[String],
      maxConcurrent: Int = 16,
      probe: Option[java.util.concurrent.atomic.AtomicInteger] = None,
      readDelayMs: Long = 0L): DataFrame = {
    import spark.implicits._
    parquetFooterStats(spark, path, columns, maxConcurrent, probe,
      readDelayMs).toDF("part_dir", "file", "row_group", "rows", "column",
      "lo", "hi", "file_bytes")
  }

  /** One footer statistic: a (partition dir, file, row group, column)
    * with its row count, numeric min/max and the file's byte size. */
  private[graft] final case class FooterStat(
      partDir: String, file: String, rowGroup: Int, rows: Long,
      column: String, lo: Double, hi: Double, fileBytes: Long)

  /** The footer walk behind [[parquetColumnStats]], as driver-side rows
    * (no Spark job). Footers are independent byte reads, so
    * they fan out on a bounded driver pool (`maxConcurrent` threads —
    * the [[compactPartitionedImpl]] discipline): at a 100 TB table
    * (~1M files) a serial ms-per-footer driver loop is tens of minutes
    * of wall clock before any maintenance decision is made, while the
    * pooled walk is bounded by footer-read throughput, not file count.
    * Output order is deterministic (the walk's sorted order, preserved
    * through the indexed future list). `probe`/`readDelayMs` are the
    * concurrency contract's test seam: the probe accumulates the max
    * reads observed in flight, the injected delay makes the overlap
    * deterministic to observe. Each footer is read with Spark's
    * `ParquetFooterReader`, about a tenth of the cost of opening the
    * file through `ParquetFileReader.open`. */
  private[graft] def parquetFooterStats(
      spark: SparkSession, path: String, columns: Seq[String],
      maxConcurrent: Int = 16,
      probe: Option[java.util.concurrent.atomic.AtomicInteger] = None,
      readDelayMs: Long = 0L): Seq[FooterStat] = {
    import scala.jdk.CollectionConverters._
    require(columns.nonEmpty, "parquetColumnStats: no columns requested")
    require(maxConcurrent >= 1,
      s"parquetColumnStats: maxConcurrent must be >= 1: $maxConcurrent")
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    def walk(dir: Path, rel: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
      val es = fs.listStatus(dir)
      // hidden dirs (committer staging: _temporary, .spark-staging-*)
      // and the swap protocol's reserved-suffix debris (x._pre /
      // x._compacting / x._reclustering / x._merging) are NOT data
      // partitions: auditing them would count duplicate/half-written
      // rows and — worse — offer a debris dir to an in-place rewrite.
      // recoverSwapsUnder repairs debris first; whatever remains is
      // skipped here. Any other name is data (see SwapDebrisSuffixes).
      es.filter(d => d.isDirectory && !isHidden(d.getPath.getName) &&
          !isSwapDebris(d.getPath.getName))
        .sortBy(_.getPath.getName).toSeq.flatMap(d =>
        walk(d.getPath,
          if (rel.isEmpty) d.getPath.getName else s"$rel/${d.getPath.getName}")) ++
        es.filter(e => e.isFile && e.getPath.getName.endsWith(".parquet") &&
            !isHidden(e.getPath.getName))
          .sortBy(_.getPath.getName).toSeq.map(rel -> _)
    }
    def num(column: String, v: Any): Double = v match {
      case n: java.lang.Number => n.doubleValue()
      case o => throw new IllegalArgumentException(
        s"parquetColumnStats: non-numeric statistics for $column " +
          s"(${o.getClass.getSimpleName}) — range audits need a numeric key")
    }
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    def readFooter(rel: String, f: org.apache.hadoop.fs.FileStatus)
        : Seq[FooterStat] = {
      val cur = inFlight.incrementAndGet()
      probe.foreach(_.accumulateAndGet(cur, (a: Int, b: Int) => math.max(a, b)))
      try {
        if (readDelayMs > 0) Thread.sleep(readDelayMs)
        val footer = org.apache.spark.sql.execution.datasources.parquet
          .ParquetFooterReader.readFooter(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
            org.apache.parquet.format.converter.ParquetMetadataConverter
              .NO_FILTER)
        footer.getBlocks.asScala.toSeq.zipWithIndex.flatMap {
          case (b, i) =>
            columns.map { column =>
              val cc = b.getColumns.asScala
                .find(_.getPath.toDotString == column)
                .getOrElse(throw new IllegalArgumentException(
                  s"parquetColumnStats: column $column not in ${f.getPath}"))
              val st = cc.getStatistics
              require(st != null && st.hasNonNullValue,
                s"parquetColumnStats: no $column statistics in ${f.getPath} " +
                  s"row group $i — written without stats?")
              FooterStat(rel, f.getPath.getName, i, b.getRowCount, column,
                num(column, st.genericGetMin), num(column, st.genericGetMax),
                f.getLen)
            }
        }
      } finally inFlight.decrementAndGet()
    }
    val files = walk(p, "")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, math.max(1, files.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val futures = files.map { case (rel, f) =>
        scala.concurrent.Future(readFooter(rel, f))
      }
      // footer reads are pure (no Spark jobs, no filesystem mutation),
      // so a failure just propagates — nothing to cancel or settle
      futures.flatMap(f => scala.concurrent.Await.result(f,
        scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** Repair crashed swaps ANYWHERE under a tree: every `x._pre`
    * directory found marks a swap-managed target `x` whose protocol may
    * have crashed mid-swap — run [[recoverSwap]] on each before reading
    * the tree (recoverSwap's own contract, applied recursively for the
    * per-leaf swaps [[reclusterWorstPartitions]] performs). Metadata
    * cost: one directory walk. */
  def recoverSwapsUnder(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def sweep(dir: Path): Unit = {
      val dirs = fs.listStatus(dir).filter(_.isDirectory)
      dirs.filter(_.getPath.getName.endsWith("._pre")).foreach { d =>
        val target = new Path(dir,
          d.getPath.getName.stripSuffix("._pre"))
        recoverSwap(spark, target.toString)
      }
      // recurse into real partition dirs only (debris just got repaired
      // or is stale tmp the next rewrite overwrites)
      fs.listStatus(dir).filter(d => d.isDirectory &&
          !isHidden(d.getPath.getName) && !isSwapDebris(d.getPath.getName))
        .foreach(d => sweep(d.getPath))
    }
    sweep(p)
  }

  /** Overlap-depth audit per leaf partition dir from parquet FOOTER
    * statistics: [[parquetColumnStats]] composed into
    * [[clusteringDepth]] at row-group granularity (the unit a reader
    * actually skips). One metadata walk, no data scan. */
  def footerClusteringDepth(spark: SparkSession, path: String,
                            column: String): DataFrame =
    clusteringDepth(
      parquetColumnStats(spark, path, column)
        .withColumn("unit", concat_ws("#", col("file"), col("row_group"))),
      "part_dir", "unit", "lo", "hi")

  /** Targeted re-clustering over a hive-partitioned table: audit every
    * leaf partition's overlap depth on `keyA` from REAL parquet footer
    * statistics ([[parquetColumnStats]] — metadata cost, no data scan),
    * pick the worst `maxPartitions` whose mean depth is at least
    * `minAvgDepth`, and rewrite each Z-ordered in place
    * ([[reclusterZOrdered]] per leaf dir — crash-safe per-partition
    * swap). This closes the q230 loop end-to-end on real metadata:
    * audit → select → fix → (caller) verify, the maintenance cycle
    * Delta/Iceberg OPTIMIZE ZORDER runs, expressed over plain parquet.
    * Crashed prior swaps anywhere in the tree are repaired FIRST
    * ([[recoverSwapsUnder]]); committer-staging and swap-debris dirs
    * are never audited or rewritten.
    *
    * Scale shape: the decision reads footers on the driver (KB per
    * file); only SELECTED partitions pay a data rewrite, and those
    * submit concurrently on a bounded pool (independent by
    * construction — each swap owns its own leaf dir). On failure the
    * shared job group cancels in-flight sibling rewrites and every
    * task settles before the error propagates (the
    * [[compactPartitioned]] discipline). The selected list is
    * collect()ed: bounded by `maxPartitions`, metadata not data.
    * In-place caveat (documented, same as any OPTIMIZE on plain
    * parquet without a transaction log): a reader listing the tree
    * DURING a leaf swap can see the transient `._pre` sibling — run in
    * a maintenance window.
    *
    * Returns one row per leaf partition: row-group units, mean/max
    * depth, and whether it was rewritten. */
  def reclusterWorstPartitions(spark: SparkSession, path: String,
                               keyA: String, keyB: Column, files: Int,
                               maxPartitions: Int,
                               minAvgDepth: Double = 1.5,
                               maxConcurrent: Int = 4,
                               auditKeyB: Option[String] = None): DataFrame = {
    require(maxPartitions >= 1 && maxConcurrent >= 1)
    recoverSwapsUnder(spark, path)
    // when the rewrite's second key is a physical column, `auditKeyB`
    // lets the SELECTION audit it too (one footer walk for both): the
    // metric becomes the per-partition MAX of the two depths, so a
    // partition perfectly clustered on keyA but shredded on keyB is
    // still selected — selection and rewrite then optimize the same
    // joint objective. Default (None) audits keyA only — the standard
    // OPTIMIZE trigger, and the only option when keyB is computed.
    val auditCols = (Seq(keyA) ++ auditKeyB.toSeq).distinct
    val stats = parquetColumnStatsMulti(spark, path, auditCols)
    // a flat directory is reclusterZOrdered's job, and loose root-level
    // parquet in a partitioned tree would be silently unmaintained —
    // refuse both loudly rather than no-op (compactPartitioned's stance)
    require(stats.filter(col("part_dir") === lit("")).isEmpty,
      s"reclusterWorstPartitions: $path holds root-level parquet files " +
        "(flat or mixed layout?) — use reclusterZOrdered for a flat " +
        "directory")
    val depth = auditCols
      .map(c => clusteringDepth(
        stats.filter(col("column") === lit(c)).withColumn("unit",
          concat_ws("#", col("file"), col("row_group"))),
        "part_dir", "unit", "lo", "hi"))
      .reduce { (a, b) =>
        a.join(b.select(col("part_dir"), col("max_depth").as("md_b"),
            col("avg_depth").as("ad_b")), "part_dir")
          .select(col("part_dir"), col("n_files"),
            greatest(col("max_depth"), col("md_b")).as("max_depth"),
            greatest(col("avg_depth"), col("ad_b")).as("avg_depth"))
      }
    val worst = depth
      .filter(col("avg_depth") >= minAvgDepth)
      .orderBy(col("avg_depth").desc, col("part_dir"))
      .limit(maxPartitions)
      .select(col("part_dir")).collect().map(_.getString(0)).toSet
    require(depth.head(1).nonEmpty,
      s"reclusterWorstPartitions: no partition directories under $path")
    runCancellably(spark, "recluster", maxConcurrent,
      worst.toSeq.sorted.map(d => s"reclusterWorstPartitions $d" -> { () =>
        reclusterZOrdered(spark, s"$path/$d", col(keyA), keyB, files)
      }))
    depth.withColumn("reclustered",
        if (worst.isEmpty) lit(false)
        else col("part_dir").isin(worst.toSeq: _*))
      .orderBy("part_dir")
  }

  /** The single-pass table-maintenance verb — the Delta/Iceberg OPTIMIZE
    * analogue over plain parquet: ONE footer inventory
    * ([[parquetColumnStatsImpl]] — row-group ranges AND file bytes from
    * the same walk, no data scan) prices BOTH maintenance decisions per
    * leaf partition, then one bounded-concurrent execution pass applies
    * the right fix to each:
    *   - `recluster` when the mean overlap depth on `keyA` clears
    *     `minAvgDepth` — the Z-order rewrite ([[reclusterZOrdered]])
    *     also re-sizes the partition to `files` files, so byte pressure
    *     is fixed as a side effect;
    *   - `compact` when the depth is fine but [[compactionPlan]]'s merge
    *     rule would reduce the file count (small-file pressure) —
    *     [[compactOrdered]] per leaf at `targetBytes`, the executor that
    *     applies the plan's EXACT rule (files_after == the plan's
    *     n_groups) and preserves the row order the depth audit just
    *     certified healthy (no shuffle — a repartition here would shred
    *     the clustering and make the next maintenance pass re-cluster
    *     what this one compacted, oscillating forever);
    *   - `skip` otherwise — a healthy partition costs one footer read
    *     and nothing else.
    * Without this verb a caller runs [[compactPartitioned]]'s and
    * [[reclusterWorstPartitions]]'s cycles separately and pays the
    * footer walk twice — and a partition needing both fixes is rewritten
    * twice. Crash-safety is per leaf ([[swapInto]]'s two renames, prior
    * debris repaired first); failures cancel in-flight siblings via the
    * shared job group and settle before propagating.
    *
    * Scale shape: the decision is metadata (pooled footer reads, a
    * per-partition plan frame collected at one row per partition); only
    * partitions needing work pay a data rewrite, concurrently. Returns
    * one row per leaf partition: action, files before/after, the
    * pre-fix mean depth. */
  def optimizeTable(spark: SparkSession, path: String,
                    keyA: String, keyB: Column, files: Int,
                    targetBytes: Long, minAvgDepth: Double = 1.5,
                    maxConcurrent: Int = 4): DataFrame = {
    require(targetBytes > 0 && files >= 1 && maxConcurrent >= 1)
    recoverSwapsUnder(spark, path)
    val stats = parquetColumnStatsImpl(spark, path, Seq(keyA))
    require(stats.filter(col("part_dir") === lit("")).isEmpty,
      s"optimizeTable: $path holds root-level parquet files (flat or " +
        "mixed layout?) — use compact()/reclusterZOrdered for a flat " +
        "directory")
    val depth = clusteringDepth(
      stats.withColumn("unit", concat_ws("#", col("file"), col("row_group"))),
      "part_dir", "unit", "lo", "hi")
      .select(col("part_dir"), col("avg_depth"))
    // per-FILE bytes (stats are per row group — collapse first), then
    // the planner's merge rule on actual bytes
    val plan = compactionPlan(
      stats.groupBy(col("part_dir"), col("file"))
        .agg(first(col("file_bytes")).as("bytes")),
      "part_dir", "file", "bytes", targetBytes)
      .select(col("part_dir"), col("n_files"), col("n_groups"))
    val decisions = depth.join(plan, "part_dir")
      .select(col("part_dir"), col("n_files"), col("avg_depth"),
        when(col("avg_depth") >= minAvgDepth, lit("recluster"))
          .when(col("n_groups") < col("n_files"), lit("compact"))
          .otherwise(lit("skip")).as("action"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .sortBy(_._1)
    require(decisions.nonEmpty,
      s"optimizeTable: no partition directories under $path")
    runCancellably(spark, "optimize", maxConcurrent,
      decisions.filter(_._4 != "skip").toSeq.map { case (d, _, _, action) =>
        s"optimizeTable $action $d" -> { () =>
          if (action == "recluster")
            reclusterZOrdered(spark, s"$path/$d", col(keyA), keyB, files)
          else {
            compactOrdered(spark, s"$path/$d", targetBytes); ()
          }
        }
      })
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val summary = decisions.map { case (d, nf, ad, action) =>
      val after = fs.listStatus(new Path(s"$path/$d"))
        .count(e => e.isFile && e.getPath.getName.endsWith(".parquet") &&
          !isHidden(e.getPath.getName))
      (d, action, nf, after.toLong, ad)
    }.toSeq
    import spark.implicits._
    summary.toDF("part_dir", "action", "files_before", "files_after",
        "avg_depth")
      .orderBy("part_dir")
  }

  /** Partition-aware compaction EXECUTOR — applies [[compactionPlan]]'s
    * merge rule to a hive-partitioned parquet directory (any partition
    * depth: `date=…/hour=…/part-*.parquet` compacts per LEAF directory)
    * and closes the planner→executor loop the way W1–W6 close the
    * reference's workflow loop (write, then verify — here content
    * identity via the [[Audit.partitionChecksums]] manifest, see q233).
    * Per leaf partition directory: list files in stable name order,
    * group consecutive files by the planner's offset rule (group =
    * (cum − size) div target, on ACTUAL bytes), rewrite each group as
    * exactly one file, and swap the new layout in crash-safely
    * ([[swapInto]] — a failure anywhere leaves the original table
    * intact).
    *
    * Data-loss guard: the final swap replaces the WHOLE table, so
    * anything the rewrite didn't copy would be silently destroyed. The
    * walk therefore REFUSES non-hidden non-parquet regular files
    * anywhere in the tree and dirs that mix subdirectories with parquet
    * files; hidden root-level markers (`_SUCCESS`) are copied through;
    * hidden files inside partition dirs (checksum/CRC side files) are
    * derived from the bytes being rewritten and are dropped, not
    * preserved stale.
    *
    * Scale shape: the driver walks METADATA (partitions × groups — the
    * same rows the planner emits); each group's data work is a
    * distributed read + single-task write bounded by `targetBytes` (the
    * planner's `max_group_size` bound, so coalesce(1) is safe by
    * construction). Groups are independent by construction, so their
    * rewrite jobs submit CONCURRENTLY on a bounded pool
    * (`maxConcurrent` driver threads; Spark schedules concurrent jobs
    * natively) — wall-clock scales with cluster capacity, not group
    * count. Returns the (partition dir, files before, files after)
    * summary. */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetBytes: Long,
                         maxConcurrent: Int = 8): DataFrame =
    compactPartitionedImpl(spark, path, targetBytes, maxConcurrent, None)

  /** [[compactPartitioned]] with an in-flight probe: `probe` (when set)
    * accumulates the maximum number of group rewrites observed running
    * at once — the concurrency contract's test seam. */
  private[graft] def compactPartitionedImpl(
      spark: SparkSession, path: String, targetBytes: Long,
      maxConcurrent: Int,
      probe: Option[java.util.concurrent.atomic.AtomicInteger]): DataFrame = {
    require(targetBytes > 0,
      s"compactPartitioned: target must be positive: $targetBytes")
    require(maxConcurrent >= 1,
      s"compactPartitioned: maxConcurrent must be >= 1: $maxConcurrent")
    recoverSwap(spark, path)
    // repair crashed PER-LEAF swaps anywhere in the tree before listing:
    // after a crashed reclusterWorstPartitions leaf swap, `k=x._pre` can
    // hold the ONLY copy of partition x — treating it as debris (or as a
    // partition named "k=x._pre") would lose or rename data the
    // two-rename protocol exists to protect
    recoverSwapsUnder(spark, path)
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rootEntries = fs.listStatus(p)
    val strayRoot = rootEntries.filter(e =>
      e.isFile && !isHidden(e.getPath.getName))
    require(strayRoot.isEmpty,
      s"compactPartitioned: $path holds loose non-hidden files " +
        s"(${strayRoot.head.getPath.getName}) the partition rewrite " +
        "would drop — refusing")
    require(rootEntries.exists(_.isDirectory),
      s"compactPartitioned: no partition directories under $path — " +
        "use compact() for a flat layout")

    // depth-first walk to the LEAF partition dirs, refusing any content
    // the rewrite wouldn't carry (see the data-loss guard above). Hidden
    // dirs (committer staging) and the swap protocol's RESERVED-suffix
    // debris (`x._compacting` / `x._reclustering` — stale tmp from a
    // rewrite that crashed BEFORE its swap; any `x._pre` was just
    // repaired by recoverSwapsUnder) are not partitions: they are
    // skipped here and therefore dropped by the whole-table swap — the
    // same cleanup the next successful rewrite of their target would do
    // (parquetColumnStats' skip rule, applied to the executor). Any
    // OTHER name — including partition values that merely contain "._"
    // — is a real partition and is compacted normally, never dropped.
    def isDebris(name: String): Boolean =
      isHidden(name) || isSwapDebris(name)
    def leaves(dir: Path, rel: String)
        : Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
      val entries = fs.listStatus(dir)
      val stray = entries.filter(e => e.isFile &&
        !isHidden(e.getPath.getName) &&
        !e.getPath.getName.endsWith(".parquet"))
      require(stray.isEmpty,
        s"compactPartitioned: $dir holds non-parquet data files " +
          s"(${stray.head.getPath.getName}) the rewrite would drop — " +
          "refusing")
      val dirs = entries.filter(d => d.isDirectory &&
        !isDebris(d.getPath.getName)).sortBy(_.getPath.getName)
      val data = entries.filter(e => e.isFile &&
        e.getPath.getName.endsWith(".parquet") &&
        !isHidden(e.getPath.getName)).sortBy(_.getPath.getName)
      if (dirs.nonEmpty) {
        require(data.isEmpty,
          s"compactPartitioned: $dir mixes partition subdirectories with " +
            "parquet files — ambiguous layout, refusing")
        dirs.flatMap(d => leaves(d.getPath, s"$rel/${d.getPath.getName}"))
      } else {
        require(data.nonEmpty,
          s"compactPartitioned: no parquet files under $dir — refusing a " +
            "rewrite that would drop the partition")
        Seq(rel -> data.toSeq)
      }
    }
    val leafFiles = rootEntries.filter(d => d.isDirectory &&
        !isDebris(d.getPath.getName))
      .sortBy(_.getPath.getName)
      .flatMap(d => leaves(d.getPath, d.getPath.getName)).toSeq
    require(leafFiles.nonEmpty,
      s"compactPartitioned: no partition directories under $path — " +
        "use compact() for a flat layout")

    val tmp = new Path(p.getParent, p.getName + "._compacting")
    fs.delete(tmp, true)
    // carry hidden root markers (_SUCCESS) through the swap
    rootEntries.filter(e => e.isFile && isHidden(e.getPath.getName))
      .foreach { e =>
        org.apache.hadoop.fs.FileUtil.copy(fs, e.getPath, fs,
          new Path(tmp, e.getPath.getName), false, true,
          spark.sessionState.newHadoopConf())
      }

    // one task per merge group, fanned out on a bounded pool — groups
    // are independent (disjoint inputs, distinct output names), so the
    // only coordination is the await before the swap
    case class GroupTask(rel: String, idx: Int, files: Seq[Path])
    val tasks = leafFiles.flatMap { case (rel, files) =>
      var cum = 0L
      val groups = files.map { f =>
        cum += f.getLen
        ((cum - f.getLen) / targetBytes, f.getPath)
      }.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
      groups.zipWithIndex.map { case (paths, i) => GroupTask(rel, i, paths) }
    }
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    runCancellably(spark, "compact", maxConcurrent, tasks.map { t =>
      s"compactPartitioned ${t.rel} group ${t.idx}" -> { () =>
        val cur = inFlight.incrementAndGet()
        probe.foreach(_.accumulateAndGet(cur, (a: Int, b: Int) =>
          math.max(a, b)))
        try {
          val gDir = new Path(tmp, s"${t.rel}/_group_${t.idx}")
          TableCatalog.readParquet(spark, t.files.map(_.toString): _*)
            .coalesce(1)
            .write.mode("overwrite").parquet(gDir.toString)
          val written = fs.listStatus(gDir)
            .filter(_.getPath.getName.endsWith(".parquet"))
          require(written.length == 1,
            s"group rewrite must land one file, got ${written.length}")
          val dst = new Path(tmp, f"${t.rel}/part-${t.idx}%05d.parquet")
          if (!fs.rename(written.head.getPath, dst))
            throw new java.io.IOException("compactPartitioned: rename " +
              s"${written.head.getPath} -> $dst failed")
          fs.delete(gDir, true)
        } finally inFlight.decrementAndGet()
      }
    })
    swapInto(spark, tmp.toString, path)
    val summary = leafFiles.map { case (rel, files) =>
      (rel, files.length.toLong,
        tasks.count(_.rel == rel).toLong)
    }
    import spark.implicits._
    summary.toDF("part_dir", "files_before", "files_after")
  }

  /** Repair the aftermath of a [[swapInto]] that crashed mid-swap. MUST
    * run before READING a swap-managed directory (not just before the next
    * swap): a crash between the two renames leaves the target missing and
    * `._pre` holding the only copy — a reader that treats the missing
    * directory as "empty/first run" would rebuild from nothing and the
    * next swap would then discard the `._pre` history. */
  def recoverSwap(spark: SparkSession, target: String): Unit = {
    val p = new Path(target)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(p.getParent, p.getName + "._pre")
    if (fs.exists(old)) {
      if (fs.exists(p)) {
        // crashed after the swap-in but before cleanup: the target is the
        // newer data, ._pre is the superseded copy
        fs.delete(old, true)
      } else {
        // crashed BETWEEN the renames: ._pre holds the only copy —
        // restore it (deleting it would destroy exactly the data the
        // two-rename design protects)
        if (!fs.rename(old, p)) throw new java.io.IOException(
          s"recoverSwap: rename $old -> $p failed")
      }
    }
  }

  /** Compaction PLANNER over a partitioned file inventory — the decision
    * layer [[compact]] executes one directory of: given (partition,
    * file, size) metadata rows, group CONSECUTIVE files (stable file-id
    * order, so a later executor rewrite streams each group without
    * re-shuffling) into ~`target`-size merge groups via the offset rule
    * group = (cum − size) div target (q225's integer recipe), and emit
    * the per-partition plan summary a table-maintenance scheduler ranks:
    * file count, total size, group count, small-file count (< target/4,
    * the metadata-pressure signal), and the largest planned group (the
    * rewrite's memory bound). All-integer; the per-partition window
    * rides the file inventory — metadata-sized, bounded by files per
    * partition, never data-sized. */
  def compactionPlan(files: DataFrame, partCol: String, fileCol: String,
                     sizeCol: String, target: Long): DataFrame = {
    require(target > 0, s"compactionPlan: target must be positive: $target")
    val w = Window.partitionBy(col(partCol)).orderBy(col(fileCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("cum", sum(col(sizeCol)).over(w))
      .withColumn("grp",
        expr(s"(cum - `$sizeCol`) div ${target}L"))
      .groupBy(col(partCol), col("grp"))
      .agg(count(lit(1)).as("gf"), sum(col(sizeCol)).as("gs"),
        sum(when(col(sizeCol) * 4 < lit(target), lit(1L))
          .otherwise(lit(0L))).as("gsmall"))
      .groupBy(col(partCol))
      .agg(sum(col("gf")).as("n_files"),
        sum(col("gs")).as("total_size"),
        count(lit(1)).as("n_groups"),
        sum(col("gsmall")).as("small_files"),
        max(col("gs")).as("max_group_size"))
      .orderBy(partCol)
  }

  /** Clustering-depth audit — the metric Delta/Iceberg OPTIMIZE ranks
    * partitions by: for each file's [lo, hi] statistics range on a probe
    * column, the OVERLAP DEPTH at a point is how many files a point
    * lookup there must read (perfectly clustered files ⇒ depth 1;
    * round-robin layout ⇒ depth = file count). Depth is evaluated at
    * every file's `lo` (where it is locally maximal for closed
    * intervals), via a bounded within-partition inequality self-join —
    * files-per-partition is a layout constant (dozens), so the join is
    * metadata² per partition, never data-sized. Emits per partition:
    * file count, max depth, mean depth (round 6) — feed the worst
    * partitions to [[writeZOrdered]]/[[compact]]. */
  def clusteringDepth(files: DataFrame, partCol: String, fileCol: String,
                      loCol: String, hiCol: String): DataFrame = {
    val a = files.select(col(partCol), col(fileCol).as("f"),
      col(loCol).as("lo"), col(hiCol).as("hi"))
    val b = a.select(col(partCol), col("lo").as("g_lo"),
      col("hi").as("g_hi"))
    a.join(b, Seq(partCol))
      .filter(col("g_lo") <= col("lo") && col("lo") <= col("g_hi"))
      .groupBy(col(partCol), col("f"))
      .agg(count(lit(1)).as("depth"))
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_files"),
        max(col("depth")).as("max_depth"),
        round(avg(col("depth")), 6).as("avg_depth"))
      .orderBy(partCol)
  }

  /** Crash-safe directory swap: two renames, no delete-before-swap. The
    * target stays recoverable at `._pre` until the replacement is in
    * place; a crash between the renames leaves the data findable (and the
    * second rename re-runnable) instead of a window where NO copy exists
    * at any expected location. Rolls the target back if the swap-in
    * fails. */
  def swapInto(spark: SparkSession, tmpDir: String, target: String): Unit = {
    val p = new Path(target)
    val tmp = new Path(tmpDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(p.getParent, p.getName + "._pre")
    recoverSwap(spark, target)
    val hadTarget = fs.exists(p)
    if (hadTarget && !fs.rename(p, old))
      throw new java.io.IOException(s"swapInto: rename $p -> $old failed")
    if (!fs.rename(tmp, p)) {
      if (hadTarget) fs.rename(old, p) // roll back; target untouched
      throw new java.io.IOException(s"swapInto: rename $tmp -> $p failed")
    }
    fs.delete(old, true)
  }
}
