package etlbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the benchmark makes into a public
  * function of the engine (`kind = "call"`), or a Spark job that ran
  * under it (`kind = "job"`). `counters` holds what the layers did
  * while a call span was open (deltas of [[Tracer.snapshot]]); self
  * time and driver gap are computed from the intervals after the run. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val kind: String, val cycle: Int, val startUs: Long) {
  @volatile var endUs: Long = -1L
  var counters: Map[String, Double] = Map.empty
}

/** Spans plus the layer counters of one traced run, kept in memory and
  * written out when the run ends. Counters come from outside the
  * program: a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phase times per action), a
  * `StreamingQueryListener` (micro-batch durations), Spark's codegen
  * statistics and the counting `file://` filesystem. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val jobs = new ConcurrentHashMap[Int, Span]()
  private val epochOffsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  @volatile private var stack: List[Span] = Nil
  @volatile var cycle: Int = 0

  def nowUs: Long = epochOffsetUs + System.nanoTime() / 1000L

  private def add(key: String, v: Double): Unit =
    counters.computeIfAbsent(key, _ => new DoubleAdder).add(v)

  private def newSpan(name: String, kind: String, startUs: Long): Span =
    spans.synchronized {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name,
        kind, cycle, startUs)
      spans += s
      s
    }

  /** Every counter the layers expose, read now. */
  def snapshot(): Map[String, Double] = {
    val own = counters.asScala.map { case (k, v) => k -> v.sum }.toMap
    val fsBytes = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    own ++ CountingLocalFileSystem.counts.map { case (k, v) => k -> v.toDouble } ++
      Map(
        "codegen.compile_s" ->
          org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime / 1e9,
        "codegen.classes" -> org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount.toDouble,
        "fs.bytes_read_mb" -> fsBytes.map(_.getBytesRead).sum / Tracer.MB,
        "fs.bytes_written_mb" -> fsBytes.map(_.getBytesWritten).sum / Tracer.MB)
  }

  /** Run `body` inside a call span. The listener bus is drained on both
    * edges, so every job and action event of `body` is attributed to
    * this span and none of a neighbour's. */
  def span[T](name: String)(body: => T): T = {
    BenchBus.drain(sc)
    val before = snapshot()
    val s = newSpan(name, "call", nowUs)
    stack = s :: stack
    try body
    finally {
      s.endUs = nowUs
      BenchBus.drain(sc)
      val after = snapshot()
      s.counters = after.collect {
        case (k, v) if v - before.getOrElse(k, 0.0) != 0.0 =>
          k -> (v - before.getOrElse(k, 0.0))
      }
      stack = stack.tail
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, newSpan("job", "job", e.time * 1000L))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach(_.endUs = e.time * 1000L)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        add("exec.tasks", 1)
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Tracer.MB)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / Tracer.MB)
        add("exec.spill_mb", m.diskBytesSpilled / Tracer.MB)
        add("exec.scan_mb", m.inputMetrics.bytesRead / Tracer.MB)
        add("exec.output_mb", m.outputMetrics.bytesWritten / Tracer.MB)
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).fold(0L)(_.durationMs) / 1e3
      add("plan.analysis_s", phase("analysis"))
      add("plan.optimization_s", phase("optimization"))
      add("plan.physical_s", phase("planning"))
      add("plan.actions", 1)
      add(s"action.$funcName.n", 1)
      add(s"action.$funcName.s", durationNs / 1e9)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           e: Exception): Unit =
      add("plan.failed_actions", 1)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        add("streaming.batches", 1)
        add("streaming.rows", p.numInputRows.toDouble)
      }
      p.durationMs.asScala.foreach { case (k, v) =>
        add(s"streaming.${k}_s", v.longValue / 1e3)
      }
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Detach the listeners and return every span, in creation order. */
  def finish(): Seq[Span] = {
    BenchBus.drain(sc)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(sparkListener)
    spans.synchronized(spans.toList)
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0
}
