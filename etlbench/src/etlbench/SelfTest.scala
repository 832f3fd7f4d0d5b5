package etlbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.ops.CommitPrimitive

/** The benchmark's JVM-side self-test, run by
  * `python3 etlbench/run.py --selftest`:
  *
  *   - one `count()` inside a span yields exactly one action and its
  *     jobs inside that span, and none in the next (the listener bus is
  *     drained at span edges);
  *   - the counting `file://` filesystem is installed, counts a call
  *     once, and leaves the manifest commit on the hard-link primitive.
  *
  * Exits non-zero on any failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = new java.io.File(".").getCanonicalPath
    val b = SparkSession.builder().master("local[2]").appName("etlbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    CountingLocalFileSystem.configs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failures = 0
    def expect(name: String, ok: Boolean, detail: => String): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failures += 1
    }
    try {
      val tracer = new Tracer(spark)
      val df = spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k")
      tracer.span("first")(df.count())
      tracer.span("second")(df.distinct().count())
      val spans = tracer.finish()
      val first = spans.find(_.name == "first").get
      val second = spans.find(_.name == "second").get
      for (s <- Seq(first, second)) {
        val actions = s.counters.getOrElse("plan.actions", 0.0)
        val counts = s.counters.getOrElse("action.count.n", 0.0)
        expect(s"${s.name}: exactly one action", actions == 1.0 && counts == 1.0,
          s"actions=$actions count=$counts")
        val jobs = spans.filter(j => j.kind == "job" && j.parent == s.id)
        expect(s"${s.name}: its jobs inside its span", jobs.nonEmpty &&
          jobs.forall(j => j.startUs >= s.startUs - 1000 &&
            j.endUs <= s.endUs + 1000 && j.endUs >= j.startUs),
          s"jobs=${jobs.map(j => (j.startUs, j.endUs))} span=(${s.startUs},${s.endUs})")
        expect(s"${s.name}: job count agrees with the listener",
          s.counters.getOrElse("exec.jobs", 0.0) == jobs.size.toDouble,
          s"counter=${s.counters.get("exec.jobs")} spans=${jobs.size}")
      }
      expect("no job outside a span", spans.forall(j => j.kind != "job" ||
        j.parent == first.id || j.parent == second.id), "orphan job span")

      val conf = spark.sparkContext.hadoopConfiguration
      val fs = FileSystem.get(new java.net.URI("file:///"), conf)
      expect("counting filesystem installed",
        fs.isInstanceOf[CountingLocalFileSystem], fs.getClass.getName)
      expect("manifest commit stays on the hard-link primitive",
        CommitPrimitive.forScheme(fs.getUri.getScheme)
          .contains(CommitPrimitive.HardLink), fs.getUri.toString)
      val before = CountingLocalFileSystem.nList.get
      fs.listStatus(new Path(work))
      expect("one listStatus counts once",
        CountingLocalFileSystem.nList.get - before == 1,
        s"${CountingLocalFileSystem.nList.get - before}")
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
