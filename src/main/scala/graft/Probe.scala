package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Scratch profiling main: runs registered queries through the noop sink
  * with per-query timing. PROBE_TARGET picks the query to repeat (3 runs);
  * predecessors in sorted order run first unless PROBE_ONLY is set.
  * A job listener prints one `JOB` line per job (start offset within the
  * run, wall time, description) and one `STAGE` line per stage, so the
  * per-action breakdown of multi-action verbs is visible without a UI;
  * `tools/probe.sh` keeps only the `TARGET` timing lines.
  * Diagnostic tool only — not part of the library surface. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[32]", shufflePartitions = 32,
        appName = "probe")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("PROBE_SF_DIR", "/root/testdata/sf0.1")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var epoch = System.nanoTime()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc) = starts.getOrDefault(je.jobId, (0L, "?"))
        val ms = (System.nanoTime() - t0) / 1e6
        val off0 = (t0 - epoch) / 1e6
        val d = desc.replaceAll("\\s+", " ").take(90)
        println(f"JOB ${je.jobId}%4d start+${off0}%8.0f dur ${ms}%7.1f ms  $d")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        println(f"  STAGE ${i.stageId}%4d ${i.numTasks}%3d tasks  ${i.name.take(100)}")
      }
    })
    def time[T](label: String)(f: => T): T = {
      epoch = System.nanoTime()
      val t0 = System.nanoTime(); val r = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val target = sys.env.getOrElse("PROBE_TARGET", "q35_embedding_neardup")
    val names =
      if (sys.env.contains("PROBE_ONLY")) Seq.empty
      else SparkEntry.queries.keys.toSeq.sorted.takeWhile(_ != target)
    names.foreach { n =>
      time(n)(SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
    }
    // time the same form the bench times: the benchForm override where
    // one exists (maintenance rows template-copy their fixture there,
    // so the probe measures the operator, not the fixture write)
    val form = SparkEntry.benchForm.getOrElse(target,
      SparkEntry.queries(target))
    (1 to 3).foreach { i =>
      time(s"TARGET $target run $i")(
        form(spark, dir)
          .write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
