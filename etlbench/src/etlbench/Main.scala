package etlbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.{GraftSession, SparkEntry}
import graft.ops.TableManifest
import graft.sources.TableCatalog
import graft.workflow.{Jobs, Pipeline}

/** One benchmark run in one JVM: set up, run the workload's timed phase,
  * check outputs outside the timed window, and write the raw result
  * (samples, checks, spans) for the Python runner to summarise.
  *
  * Usage: `etlbench.Main <plan.json> <result.json>`; the plan comes from
  * `etlbench/run.py` and names the workload, the generated corpus and
  * every seeded choice. Every call into the engine goes through its
  * public API. */
object Main {
  def main(args: Array[String]): Unit = {
    val run = new Run(Json.read(args(0)))
    val result = run.execute()
    Json.write(args(1), result)
  }
}

final class Run(plan: JsonNode) {
  private val workload = plan.get("workload").asText
  private val corpus = plan.get("corpus").asText
  private val work = plan.get("work").asText
  private val traced = plan.get("trace").asBoolean
  private val cpus = plan.get("cpus").asInt

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val cycles = mutable.ArrayBuffer.empty[Double]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.LinkedHashMap.empty[String, Any]
  private val layer = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0
  private var failed = 0
  private var firstOpUs = 0L
  private var timedEndUs = 0L

  private lazy val spark: SparkSession = {
    val b = GraftSession
      .builder(s"local[$cpus]", shufflePartitions = cpus, appName = "etlbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      // as in graft.Bench: no periodic GC timer inside a timed window
      .config("spark.cleaner.periodicGC.interval", "5min")
    if (traced) CountingLocalFileSystem.configs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private var tracer: Option[Tracer] = None

  private def epochUs: Long = System.currentTimeMillis() * 1000L
  private def sample(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  private def cycle(c: Int): Unit = tracer.foreach(_.cycle = c)

  private def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** One timed operation: counted as attempted, a thrown error counts as
    * failed. Returns its wall seconds when it succeeded. */
  private def op(name: String)(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      span(name)(body)
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: $e".replaceAll("\\s+", " ").take(300)
        None
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Row count and an order-insensitive checksum of every column. */
  private def checksum(df: DataFrame): Map[String, String] = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)"))).head
    Map("rows" -> r.getLong(0).toString, "sum" -> String.valueOf(r.get(1)))
  }

  private def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum
    finally s.close()
  }

  private val t0 = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"[etlbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1fs")

  def execute(): Map[String, Any] = {
    spark
    mark("session")
    // warmup: parquet reader, codegen and shuffle classes, executor threads
    noop(TableCatalog.load(spark, corpus, "events")
      .groupBy("event_type").count())
    spark.catalog.clearCache()
    mark("warmup")
    if (traced) tracer = Some(new Tracer(spark))
    workload match {
      case "etl_cycle" => etlCycle()
      case "query_mix" => queryMix()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spans = tracer.map(_.finish()).getOrElse(Nil)
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    spark.stop()
    Map(
      "first_op_epoch_us" -> firstOpUs,
      "timed_s" -> (timedEndUs - firstOpUs) / 1e6,
      "cycles" -> cycles,
      "samples" -> samples,
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors,
      "checks" -> checks,
      "layer" -> layer,
      "peak_rss_mb" -> rssMb,
      "spans" -> spans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "kind" -> s.kind, "cycle" -> s.cycle, "start_us" -> s.startUs,
          "end_us" -> s.endUs, "counters" -> s.counters)
      })
  }

  /** Set-up ends here: everything after is the timed phase. */
  private def startTimed(): Unit = { mark("setup"); firstOpUs = epochUs }

  private def timedPhase(body: => Unit): Unit = {
    startTimed()
    span("workload")(body)
    timedEndUs = epochUs
    mark("timed phase")
  }

  // ------------------------------------------------------------ etl_cycle
  /** The reference's production loop, and the engine's versioned storage
    * tier beside it. Each cycle: the `full_etl` job, an incremental load
    * of the next events slice, one commit of each verb to a manifested
    * events table, the changefeed catching its mirror up after each, the
    * four manifested reads, and the mirror's deltas folded. */
  private def etlCycle(): Unit = {
    val etl = new EtlLoop
    val manifest = new ManifestChurn(plan.get("manifest"))
    etl.setUp()
    manifest.setUp()
    try {
      timedPhase {
        etl.bounds.indices.tail.foreach { c =>
          cycle(c)
          val c0 = System.nanoTime()
          span("cycle") {
            etl.cycle(c)
            manifest.cycle(c - 1)
          }
          cycles += (System.nanoTime() - c0) / 1e9
        }
      }
    } finally manifest.stop()
    etl.check()
    manifest.check()
  }

  private final class EtlLoop {
    val bounds: Seq[Long] = Json.longs(plan.get("etl").get("bounds"))
    private val registry = Jobs.builtinRegistry(s"$work/etl")
    private val cfg = Jobs.JobConfig("bench", "full_etl", "full_etl",
      "2026-01-01", sfDir = corpus)
    private val incDir = s"$work/etl_inc"
    private def slice(hi: Long) =
      TableCatalog.load(spark, corpus, "events").filter(col("event_id") < hi)
    private val loads = mutable.ArrayBuffer.empty[Long]
    private val loaded = mutable.ArrayBuffer.empty[Long]

    private def job(): Unit = {
      val r = Jobs.execute(spark, registry, cfg)
      require(r.status == "success", s"full_etl failed: ${r.error}")
      loaded += r.rowsProcessed
    }

    /** One untimed `full_etl`, so that every timed run of it has a
      * previous output to back up and validate, and the incremental
      * destination's first load. */
    def setUp(): Unit = {
      job()
      loads += Pipeline.incrementalLoad(spark, slice(bounds.head), incDir, "events", "ts")
    }

    def cycle(c: Int): Unit = {
      op("Jobs.execute")(job()).foreach(sample("etl_job_s", _))
      val src = slice(bounds(c))
      op("Pipeline.incrementalLoad") {
        loads += Pipeline.incrementalLoad(spark, src, incDir, "events", "ts")
      }.foreach(sample("etl_incremental_s", _))
    }

    def check(): Unit = {
      checks("loaded") = loaded
      checks("q03_oracle") = SparkEntry.oracleSql("q03_flagship_sql")
      checks("incremental") = loads
      checks("main") = checksum(TableCatalog.load(spark, s"$work/etl/main", "pah_out"))
      checks("backup") = checksum(TableCatalog.load(spark, s"$work/etl/backup", "pah_out"))
      checks("incremental_table_rows") =
        TableCatalog.load(spark, incDir, "events").count()
    }
  }

  // ------------------------------------------------------------ query_mix
  private def queryMix(): Unit = {
    val q = plan.get("query")
    val passes = (0 until q.get("passes").size).map(i =>
      Json.strings(q.get("passes").get(i)))
    val light = Json.strings(q.get("light")).toSet
    val registered = SparkEntry.queries
    val benchForm = SparkEntry.benchForm
    timedPhase {
      passes.zipWithIndex.foreach { case (order, p) =>
        cycle(p)
        var lightS, heavyS = 0.0
        var complete = true
        order.foreach { name =>
          val fn = benchForm.getOrElse(name, registered(name))
          op(name) {
            val df = span("ops.build")(fn(spark, corpus))
            span("noop.save")(noop(df))
          } match {
            case Some(s) =>
              if (light(name)) lightS += s else heavyS += s
              sample(s"query.$name", s)
            case None => complete = false
          }
          // outside the timed window, as in graft.Bench
          spark.catalog.clearCache()
        }
        cycles += lightS + heavyS
        if (p == 0) sample("query_cold_s", lightS + heavyS)
        else if (complete) {
          sample("query_light_s", lightS)
          sample("query_heavy_s", heavyS)
        }
        System.gc()
      }
    }
    // outputs for the oracle comparison, from the registered form; a
    // timed bench-form override would go unchecked, so it fails the run
    val out = mutable.LinkedHashMap.empty[String, Any]
    passes.head.sorted.foreach { name =>
      val dir = s"$work/check/$name"
      out(name) =
        if (benchForm.contains(name))
          Map("error" -> "bench-form override: timed form has no oracle")
        else try {
          registered(name)(spark, corpus).write.mode("overwrite").parquet(dir)
          Map("dir" -> dir, "oracle" -> SparkEntry.oracleSql.get(name))
        } catch {
          case NonFatal(e) => Map("error" -> e.toString.take(300))
        }
      spark.catalog.clearCache()
    }
    checks("queries") = out
  }

  /** Storage plus streaming: small seeded commits to a manifested events
    * table with a running `graft-manifest` changefeed into a mirror.
    * Compaction runs on the mirror only: folding the source under a live
    * changefeed rewrites the history the stream tails, which fails by
    * design. */
  private final class ManifestChurn(m: JsonNode) {
    private val src = s"$work/manifest/src"
    private val dst = s"$work/manifest/dst"
    private val ev = TableCatalog.load(spark, corpus, "events")
      .select("event_id", "ts", "user_id", "event_type")
    private var batch = 0L
    private var stream: org.apache.spark.sql.streaming.StreamingQuery = _

    private def batchOf(o: JsonNode): DataFrame = {
      def ids = ev.filter(col("event_id") >= o.get("lo").asLong &&
        col("event_id") < o.get("hi").asLong)
      o.get("verb").asText match {
        case "append" => ids
        case "upsert" => ids.filter(col("user_id") >= o.get("user_lo").asLong &&
          col("user_id") < o.get("user_hi").asLong)
        case "delete" => spark.range(o.get("user_lo").asLong,
          o.get("user_hi").asLong).select(col("id").as("user_id"))
      }
    }

    private def commit(o: JsonNode): Unit = {
      val b = Some(batch)
      o.get("verb").asText match {
        case "append" =>
          TableManifest.append(spark, src, batchOf(o), b, statsCol = Some("event_id"))
        case "upsert" =>
          TableManifest.upsertDelta(spark, src, batchOf(o), Seq("user_id"),
            "ts", "event_id", numBuckets = 16, batchId = b)
        case "delete" =>
          TableManifest.deleteRows(spark, src, batchOf(o), Seq("user_id"), b)
      }
      batch += 1
    }

    /** Base table, empty mirror, running changefeed, and one untimed
      * commit of each verb (the first upsert is several times slower
      * cold than warm). */
    def setUp(): Unit = {
      val empty = ev.limit(0).coalesce(1)
      TableManifest.publish(spark, src, empty)
      TableManifest.publish(spark, dst, empty)
      TableManifest.append(spark, src,
        ev.filter(col("event_id") < m.get("base_hi").asLong), Some(batch),
        statsCol = Some("event_id"))
      batch += 1
      stream = spark.readStream.format("graft-manifest")
        .option("changefeed", "true").load(src)
        .writeStream
        .option("checkpointLocation", s"$work/manifest/ckpt")
        .foreachBatch(TableManifest.changefeedSink(dst, Seq("user_id"), "ts",
          "event_id", numBuckets = 16))
        .start()
      stream.processAllAvailable()
      val warm = m.get("warm_ops")
      (0 until warm.size).foreach { i =>
        commit(warm.get(i))
        stream.processAllAvailable()
      }
    }

    private def timedOps: Seq[JsonNode] = {
      val cs = m.get("cycles")
      (0 until cs.size).flatMap(c => (0 until cs.get(c).size).map(cs.get(c).get))
    }

    /** Each verb once, in the cycle's seeded order, each followed by the
      * changefeed catching up; then the four reads. */
    def cycle(c: Int): Unit = {
      val ops = m.get("cycles").get(c)
      (0 until ops.size).map(ops.get).foreach { o =>
        val name = o.get("verb").asText match {
          case "append" => "TableManifest.append"
          case "upsert" => "TableManifest.upsertDelta"
          case "delete" => "TableManifest.deleteRows"
        }
        val committed = op(name)(commit(o))
        committed.foreach(sample("commit_s", _))
        op("StreamingQuery.processAllAvailable")(stream.processAllAvailable())
          .foreach(s => if (committed.isDefined) sample("changefeed_lag_s", s))
      }
      val prune = m.get("prune").get(c)
      val (lo, hi) = (prune.get(0).asLong, prune.get(1).asLong)
      val vs = TableManifest.versions(spark, src)
      val old = vs(vs.size / 2)
      def read(name: String)(df: => DataFrame): Unit =
        op(name)(noop(df)).foreach(sample("read_s", _))
      read("TableManifest.read")(TableManifest.read(spark, src))
      read("TableManifest.readPruned")(
        TableManifest.readPruned(spark, src, "event_id", lo.toDouble, hi.toDouble)
          .where(col("event_id").between(lo, hi)))
      read("TableManifest.readVersion")(TableManifest.readVersion(spark, src, old))
      read("TableManifest.history")(TableManifest.history(spark, src))
      op("TableManifest.compactDeltas")(TableManifest.compactDeltas(spark, dst))
    }

    def stop(): Unit = if (stream != null) {
      stream.stop()
      stream.awaitTermination()
    }

    /** Both tables' rows for the model comparison; the source's live rows
      * written once more, fresh, as the space baseline. */
    def check(): Unit = {
      val srcOut = s"$work/check/src"
      TableManifest.read(spark, src).coalesce(1).write.parquet(srcOut)
      TableManifest.read(spark, dst).coalesce(1).write.parquet(s"$work/check/dst")
      checks("src_dir") = srcOut
      checks("dst_dir") = s"$work/check/dst"
      layer("space_amp") = dirBytes(src).toDouble / dirBytes(srcOut)
      if (traced) {
        val prune = m.get("prune").get(0)
        val full = TableManifest.read(spark, src).inputFiles.length
        val pruned = TableManifest.readPruned(spark, src, "event_id",
          prune.get(0).asDouble, prune.get(1).asDouble).inputFiles.length
        layer("manifest.generations") =
          TableManifest.currentGenerations(spark, src).size
        layer("manifest.pruned_file_share") = pruned.toDouble / math.max(1, full)
        // every timed batch written once to a fresh directory: the
        // denominator of the commits' write amplification
        val fresh = s"$work/check/batches"
        timedOps.map(batchOf).filter(_.columns.contains("event_id"))
          .reduce(_ unionByName _).coalesce(1).write.parquet(fresh)
        layer("manifest.input_batch_mb") = dirBytes(fresh) / Tracer.MB
      }
    }
  }
}
