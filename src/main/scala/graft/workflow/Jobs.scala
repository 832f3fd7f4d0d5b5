package graft.workflow

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed job layer (SURVEY.md §2.9): the reference's registry + dispatch
  * (/root/reference/services/job_service.py:23-38,53-124) without the
  * reflection (`getattr` at job_service.py:134,144 becomes a typed map) and
  * its continuous scheduler (/root/reference/app.py:160-236) as a plain
  * interruptible loop with run statistics.
  */
object Jobs {

  /** Parsed job config (reference dict config, app.py:125-141). */
  case class JobConfig(id: String, jobType: String, name: String,
                       loadDate: String, limit: Option[Int] = None,
                       sfDir: String = "")

  /** Result envelope matching the reference's per-run metrics
    * (rows_processed / duration_seconds / variance,
    * services/etl_service.py:82-92). */
  case class JobResult(jobId: String, name: String, status: String,
                       rowsProcessed: Long, durationSeconds: Double,
                       variancePct: Option[Double] = None,
                       error: Option[String] = None)

  /** A job is a typed function; registration is data, dispatch is a map
    * lookup. */
  case class JobSpec(jobType: String, description: String,
                     run: (SparkSession, JobConfig) => JobResult)

  /** Required-field validation (reference app.py:325-330 +
    * core/config.py:203-237). */
  def validate(cfg: JobConfig): Either[String, JobConfig] =
    if (cfg.id.isEmpty) Left("job id is required")
    else if (cfg.jobType.isEmpty) Left("job type is required")
    else if (cfg.sfDir.isEmpty) Left("sfDir (data location) is required")
    else Right(cfg)

  /** Execute one job through the registry with timing + error capture
    * (job_service.py:53-124). */
  def execute(spark: SparkSession, registry: Map[String, JobSpec],
              cfg: JobConfig): JobResult = {
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    validate(cfg) match {
      case Left(err) =>
        JobResult(cfg.id, cfg.name, "failed", 0, secs, error = Some(err))
      case Right(ok) =>
        registry.get(ok.jobType) match {
          case None =>
            JobResult(ok.id, ok.name, "failed", 0, secs,
              error = Some(s"unknown job type: ${ok.jobType}"))
          case Some(spec) =>
            try spec.run(spark, ok)
            catch {
              case e: Exception =>
                JobResult(ok.id, ok.name, "failed", 0, secs,
                  error = Some(e.getMessage))
            }
        }
    }
  }

  /** Continuous-mode stats (reference app.py:167-173,184-210). */
  case class RunStats(iterations: Int, successes: Int, failures: Int,
                      totalRows: Long) {
    def successRate: Double =
      if (iterations == 0) 1.0 else successes.toDouble / iterations
  }

  /** Continuous scheduler: re-run the whole job every `intervalMillis`, up
    * to `maxIterations`, accumulating stats; interruptible via the `stop`
    * flag (reference's signal-flag + 1s-granularity sleep,
    * app.py:175-222). Exit criterion ≥50% success (app.py:340-341) is the
    * caller's to apply via the returned stats. */
  def runContinuous(spark: SparkSession, registry: Map[String, JobSpec],
                    cfg: JobConfig, intervalMillis: Long, maxIterations: Int,
                    stop: () => Boolean = () => false): RunStats = {
    var stats = RunStats(0, 0, 0, 0L)
    var i = 0
    while (i < maxIterations && !stop()) {
      val r = execute(spark, registry, cfg)
      stats = RunStats(
        stats.iterations + 1,
        stats.successes + (if (r.status == "success") 1 else 0),
        stats.failures + (if (r.status == "success") 0 else 1),
        stats.totalRows + r.rowsProcessed)
      i += 1
      if (i < maxIterations) {
        // interruptible sleep at 100ms granularity
        var slept = 0L
        while (slept < intervalMillis && !stop()) {
          val step = math.min(100L, intervalMillis - slept)
          Thread.sleep(step)
          slept += step
        }
      }
    }
    stats
  }

  /** Built-in registry: the two reference pipelines re-expressed over the
    * test corpus. `poc_etl` ≙ run_control_m_poc_etl (read→stamp→project→
    * count, services/etl_service.py:20-106); `full_etl` ≙ the 6-stage jcap
    * pipeline (backup→extract→transform→stage→load→validate,
    * services/jcap_pa_etl_service.py:40-129). */
  def builtinRegistry(workDir: String): Map[String, JobSpec] = Map(
    "poc_etl" -> JobSpec("poc_etl", "scan+stamp+project smoke job",
      (spark, cfg) => {
        val t0 = System.nanoTime()
        import org.apache.spark.sql.functions._
        val df0 = graft.sources.TableCatalog.load(spark, cfg.sfDir, "orders")
        val df1 = cfg.limit.fold(df0)(df0.limit)
        val out = df1
          .withColumn("load_date", lit(cfg.loadDate))
          .select("o_orderkey", "o_orderpriority", "o_orderdate", "load_date")
        // sampling diagnostic to stderr (reference df.show(5, truncate=False)
        // at etl_service.py:60); stdout stays reserved for the result JSON
        System.err.println(graft.ops.Relational.showSample(out, 5))
        val rows = out.count()
        JobResult(cfg.id, cfg.name, "success", rows,
          (System.nanoTime() - t0) / 1e9)
      }),
    "full_etl" -> JobSpec("full_etl", "6-stage backup/extract/load pipeline",
      (spark, cfg) => {
        val t0 = System.nanoTime()
        val main = s"$workDir/main"
        val backup = s"$workDir/backup"
        // seed destination on first run so backup has something to validate
        val extracted = graft.ops.Relational.q03FlagshipSql(spark, cfg.sfDir)
        // the backup's main count is the previous run's output count
        val prev =
          if (graft.sources.TableCatalog.exists(spark, main, "pah_out"))
            Pipeline.backupAndValidate(spark, main, "pah_out", backup)
          else 0L
        val loaded = Pipeline.loadAndVerify(extracted, main, "pah_out")
        val variance = Pipeline.validateVariance(loaded, prev)
        JobResult(cfg.id, cfg.name, "success", loaded,
          (System.nanoTime() - t0) / 1e9, variancePct = Some(variance))
      }))
}
