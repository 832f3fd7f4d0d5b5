package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** The SQL actions a block of code runs, as a `QueryExecutionListener`
  * sees them — the counter behind specs that pin how many times a verb
  * counts, collects, writes or scans. */
object Actions {

  /** One action: its function name (`count`, `collect`, `head`, and
    * `command` for a `DataFrameWriter` save) and its query. */
  final case class Action(name: String, qe: QueryExecution) {
    /** Whether the action's plan scans a file path ending in `suffix`. */
    def reads(suffix: String): Boolean = qe.analyzed.exists {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.rootPaths.exists(_.toString.endsWith(suffix))
      case _ => false
    }
  }

  /** Runs `body` and returns what it returned with the actions it ran.
    * A stream started inside `body` reports its micro-batches' actions
    * too: its cloned session copies the listener at start. */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[Action]) = {
    val seen = new ConcurrentLinkedQueue[Action]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        seen.add(Action(funcName, qe))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit =
        seen.add(Action(funcName, qe))
    }
    TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      TestBus.drain(spark.sparkContext)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
