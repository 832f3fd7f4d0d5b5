package graft.workflow

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.sources.TableCatalog

/** Table-lifecycle verbs (SURVEY.md §2.8, W1–W6): the reference's
  * distinctive workflow operators — truncate, copy, backup-and-validate,
  * load-and-verify, variance-check-and-alert — re-expressed as library
  * functions over the parquet catalog. Every verb returns what it measured
  * so callers compose them into pipelines (see [[Jobs]]).
  */
object Pipeline {

  /** Pluggable alert sink. The reference couples alerting to SMTP
    * (/root/reference/services/email_service.py:51-99); the engine keeps an
    * interface and ships a log-based impl — transport is deployment detail,
    * not analytics. */
  trait Alerter { def alert(subject: String, body: String): Unit }
  object LogAlerter extends Alerter {
    def alert(subject: String, body: String): Unit =
      System.err.println(s"[alert] $subject: $body")
  }
  object NoopAlerter extends Alerter {
    def alert(subject: String, body: String): Unit = ()
  }

  /** W1 — truncate: overwrite the table with an empty frame of the same
    * schema (the reference's limit(0)-then-overwrite,
    * /root/reference/utils/db_utils.py:195-223). */
  def truncate(spark: SparkSession, dir: String, table: String): Unit = {
    val empty = TableCatalog.load(spark, dir, table).limit(0)
    // materialize the schema before overwriting the path we read from
    val schema = empty.schema
    TableCatalog.write(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema),
      dir, table, SaveMode.Overwrite)
  }

  /** W2 — copy src→dst (append), returning rows copied
    * (/root/reference/utils/db_utils.py:225-247). */
  def copyTable(spark: SparkSession, srcDir: String, table: String,
                dstDir: String, mode: SaveMode = SaveMode.Append): Long = {
    val src = TableCatalog.load(spark, srcDir, table)
    TableCatalog.write(src, dstDir, table, mode)
    TableCatalog.load(spark, dstDir, table).count()
  }

  /** W3 — backup-and-validate: truncate backup, copy main→backup, assert
    * counts match (hard fail, mirroring
    * /root/reference/services/jcap_pa_etl_service.py:157-163). Empty main
    * skips the copy (`:143-145`). Returns rows backed up, which is main's
    * row count — callers that need that count take it from here. The
    * count and the copy read the same load of main, so both see the same
    * files. */
  def backupAndValidate(spark: SparkSession, mainDir: String, table: String,
                        backupDir: String): Long = {
    val main = TableCatalog.load(spark, mainDir, table)
    val mainCount = main.count()
    if (mainCount == 0) return 0L
    TableCatalog.write(main, backupDir, table, SaveMode.Overwrite)
    val backedUp = TableCatalog.load(spark, backupDir, table).count()
    require(backedUp == mainCount,
      s"backup validation failed: main=$mainCount backup=$backedUp")
    backedUp
  }

  /** Writes `df` and returns the rows that write produced, observed on
    * the write action itself (`Dataset.observe`): `df` runs once, and
    * the count is exactly what landed even if a live source gains files
    * mid-call. */
  private def writeCounted(df: DataFrame, dir: String, table: String,
                           mode: SaveMode): Long = {
    val written = Observation()
    TableCatalog.write(df.observe(written, count(lit(1)).as("rows")),
      dir, table, mode)
    written.get("rows").asInstanceOf[Long]
  }

  /** W4/W6 — load-and-verify: overwrite destination with `df`, counting
    * the rows that write produced, re-count the destination (the
    * reference's read-back verification),
    * fail on zero rows, warn (alert) on count mismatch
    * (/root/reference/services/jcap_pa_etl_service.py:322-355). */
  def loadAndVerify(df: DataFrame, dstDir: String, table: String,
                    alerter: Alerter = LogAlerter): Long = {
    val expected = writeCounted(df, dstDir, table, SaveMode.Overwrite)
    val actual =
      TableCatalog.load(df.sparkSession, dstDir, table).count()
    require(actual > 0 || expected == 0,
      s"load verification failed: destination empty, expected $expected")
    if (actual != expected)
      alerter.alert("row-count mismatch",
        s"$table: expected $expected, loaded $actual")
    actual
  }

  /** Incremental high-watermark load: append only source rows whose
    * `watermarkCol` exceeds the destination's current maximum — the
    * engine-side version of the reference's load_date-stamped re-runs
    * (/root/reference/services/etl_service.py:53, app.py:155-156), which
    * reprocess the full source every cycle. Reading max(watermark) from
    * the sink is one column-pruned scan; the source filter pushes down to
    * its scan, so a daily increment touches only new partitions at 100 TB.
    * First run (no destination) loads everything. Returns rows appended,
    * counted by the append itself: one pass over the new rows, no cache.
    * A run with no new rows adds no file: Spark's append of an empty
    * frame still writes one schema-only file, so the files this run
    * added are deleted again. */
  def incrementalLoad(spark: org.apache.spark.sql.SparkSession,
                      src: DataFrame, dstDir: String, table: String,
                      watermarkCol: String): Long = {
    // null-watermark rows are excluded on EVERY run (a null compares as
    // unknown against any watermark, so they could never load on later
    // runs — loading them only on run one would be silently inconsistent);
    // stamp the column before calling this
    val stamped = src.filter(col(watermarkCol).isNotNull)
    val dst =
      if (!TableCatalog.exists(spark, dstDir, table)) None
      else Some(TableCatalog.load(spark, dstDir, table))
    val newRows = dst.fold(stamped) { d =>
      val row = d.agg(org.apache.spark.sql.functions.max(watermarkCol)).head
      if (row.isNullAt(0)) stamped
      else stamped.filter(col(watermarkCol) > lit(row.get(0)))
    }
    val before = dst.map(_.inputFiles.map(f => new Path(f).getName).toSet)
    val n = writeCounted(newRows, dstDir, table, SaveMode.Append)
    if (n == 0) {
      val out = new Path(TableCatalog.path(dstDir, table))
      val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
      before match {
        case None => fs.delete(out, true)
        case Some(kept) => fs.listStatus(out).map(_.getPath)
          .filter(p => !p.getName.startsWith("_") &&
            !p.getName.startsWith(".") && !kept(p.getName))
          .foreach(fs.delete(_, false))
      }
    }
    n
  }

  /** W5 — run-over-run variance with the reference's divide-by-zero guard
    * (prev==0 → 0.0, /root/reference/services/jcap_pa_etl_service.py:364). */
  def variancePct(current: Long, previous: Long): Double =
    if (previous == 0) 0.0
    else math.abs(current - previous) * 100.0 / previous

  /** Explicit target-schema conformance: select, cast, and order columns to
    * the target StructType, failing loudly on missing columns. Replaces the
    * reference's best-effort case-sensitive rename map whose dead keys
    * silently no-op (/root/reference/services/jcap_pa_etl_service.py:271-286
    * with unmatchable keys at :279-280 — see SURVEY.md §1.3); conformance
    * should be a contract, not a convention. */
  def conformTo(df: DataFrame,
                target: org.apache.spark.sql.types.StructType): DataFrame = {
    val missing = target.fieldNames.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"cannot conform: missing columns ${missing.mkString(", ")}")
    df.select(target.fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
        .as(f.name)).toSeq: _*)
  }

  /** W5 — validate-and-alert against a threshold (default 5.0 like
    * /root/reference/core/config.py:35; validated to [0,100] like
    * `:190-194`). Returns the variance. */
  def validateVariance(current: Long, previous: Long,
                       thresholdPct: Double = 5.0,
                       alerter: Alerter = LogAlerter): Double = {
    require(thresholdPct >= 0 && thresholdPct <= 100,
      s"threshold must be in [0,100], got $thresholdPct")
    val v = variancePct(current, previous)
    if (v > thresholdPct)
      alerter.alert("data variance",
        f"variance $v%.2f%% exceeds threshold $thresholdPct%.2f%%")
    v
  }
}
