package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.StreamingBatchShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.ops.TableManifest

/** `readStream.format("graft-manifest").load(tableDir)` — manifested
  * tables as FIRST-CLASS Structured Streaming sources, whose offsets
  * the engine owns: engine checkpoints, `StreamingQueryProgress`
  * metrics, `trigger AvailableNow`, and joins/aggregations over the
  * stream all compose with it. The offset IS the manifest version:
  * `latest = resolveHead().seq`, and a micro-batch `(start, end]` is
  * the rows the versions in that range appended, read off the same
  * change walk the op-coded changefeed reads
  * ([[graft.ops.TableManifest.appendsBetween]]) — O(new data) per
  * trigger, replay-stable after a restart because the walk is pinned
  * at `end`, not at the live head.
  *
  * Exactly-once: the engine persists `(start, end]` in ITS checkpoint
  * and re-offers the same range after a crash; `appendsBetween`
  * returns the same rows for the same range (generations are
  * immutable), so the standard sink-side contract (foreachBatch
  * batch-id idempotence, or a transactional sink like
  * [[graft.ops.TableManifest.streamingSink]]) completes end-to-end
  * exactly-once with NO source-side state beyond the manifest log.
  *
  * LOUD, never lossy: a maintenance rewrite / compaction / CoW upsert
  * / partition drop on the source, row deletes, merge-on-read deltas,
  * a column mapping, or a truncation that ate the checkpointed version
  * all surface as a STREAM ERROR from the next micro-batch (the
  * [[graft.ops.TableManifest.tailAppends]] contracts) — an
  * appends-only stream must never silently drop or double-deliver.
  *
  * CHANGEFEED MODE (`.option("changefeed", "true")`): for sources
  * that MUTATE — merge-on-read upserts, row deletes — the micro-batch
  * is the op-coded diff instead
  * ([[graft.ops.TableManifest.changesBetween]]): every row tagged
  * `_change_op` (`insert` / `upsert` / `delete`) and
  * `_change_version`, delete rows key-only with the other columns
  * NULL — CDC as a first-class stream, the streaming twin of
  * [[graft.ops.TableManifest.relayChanges]]. The offset model,
  * replay pinning, and restart semantics are IDENTICAL (the diff is
  * classified per committed version between two retained versions);
  * what a changefeed cannot represent — rewrites/compaction/partition
  * drops (already-delivered rows cannot be retracted row-by-row),
  * truncated cursors, column-mapped tables — still surfaces as a
  * stream error, never silence.
  *
  * Engineering note — V1 `Source`, deliberately: a V1 `getBatch` hands
  * back a full Catalyst DataFrame, so the micro-batch reads through
  * Spark's own vectorized parquet scan with pushdown and codegen; a
  * DSv2 `MicroBatchStream` would force a hand-rolled per-file
  * `PartitionReader` (or a fragile internal `FileFormat` bridge) for
  * zero capability gain here. The offset model and restart semantics
  * are identical; the one internal seam (marking the batch plan
  * streaming) is isolated in [[org.apache.spark.sql.graft.StreamingBatchShim]].
  *
  * Options: `startVersion` (default 1 = everything after the publish
  * seed) — the version the FIRST batch tails from; ignored on restart
  * (the engine's checkpointed offset wins, as for every source). */
class GraftManifestSourceProvider
    extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  private def tableDir(parameters: Map[String, String]): String =
    parameters.get("path").orElse(parameters.get("tableDir")).getOrElse(
      throw new IllegalArgumentException(
        "graft-manifest source: pass the table directory via " +
          ".load(<tableDir>) or .option(\"tableDir\", ...)"))

  private def isChangefeed(parameters: Map[String, String]): Boolean =
    parameters.get("changefeed").exists(_.toBoolean)

  private def schemaFor(sqlContext: SQLContext,
                        parameters: Map[String, String]): StructType = {
    val base = TableManifest.read(sqlContext.sparkSession,
      tableDir(parameters)).schema
    if (!isChangefeed(parameters)) base
    else org.apache.spark.sql.types.StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField(
        TableManifest.ChangeOpCol,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(
        TableManifest.ChangeVersionCol,
        org.apache.spark.sql.types.LongType, nullable = false)))
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), schema.getOrElse(schemaFor(sqlContext, parameters)))

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val dir = tableDir(parameters)
    new GraftManifestSource(sqlContext.sparkSession, dir,
      parameters.get("startVersion").map(_.toLong).getOrElse(1L),
      schema.getOrElse(schemaFor(sqlContext, parameters)),
      changefeed = isChangefeed(parameters))
  }
}

/** The source itself — see [[GraftManifestSourceProvider]] for the
  * contract. Offsets are manifest versions carried as [[LongOffset]]
  * (restart deserialization handled via the json form). */
class GraftManifestSource(spark: SparkSession, tableDir: String,
                          startVersion: Long,
                          override val schema: StructType,
                          changefeed: Boolean = false) extends Source {

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json().trim.toLong // engine-recovered offset
  }

  /** One filesystem handle for every poll: resolving it per poll copies
    * the session's Hadoop configuration each time. */
  private lazy val fs = TableManifest.fsOf(spark, tableDir)

  /** The head the last poll reported — the next poll probes up from it
    * ([[graft.ops.TableManifest.probeHeadFrom]]: two `exists` calls on
    * an idle table) and resolves from scratch only when it is gone. */
  @volatile private var lastHead: Option[Long] = None

  /** Test seams: the filesystem calls the last poll made, and how many
    * polls resolved the head from scratch (each parses a manifest). */
  @volatile private[graft] var lastPollOps: Int = 0
  @volatile private[graft] var headResolutions: Int = 0

  override def getOffset: Option[Offset] = {
    val (head, ops) =
      lastHead.flatMap(TableManifest.probeHeadFrom(fs, tableDir, _))
        .getOrElse {
          headResolutions += 1
          val h = TableManifest.resolveHead(spark, tableDir).getOrElse(
            throw new IllegalStateException(
              s"GraftManifestSource: no manifest at $tableDir — the " +
                "table was never published or its log vanished"))
          (h.seq, h.ops)
        }
    lastHead.foreach(prev => if (head < prev)
      throw new IllegalStateException(
        s"GraftManifestSource: head of $tableDir went back from $prev " +
          s"to $head — the table was replaced under the stream"))
    lastHead = Some(head)
    lastPollOps = ops
    if (head > startVersion) Some(LongOffset(head)) else None
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val since = start.map(versionOf).getOrElse(startVersion)
    val until = versionOf(end)
    StreamingBatchShim.asStreamingBatch(
      if (changefeed)
        TableManifest.changesBetween(spark, tableDir, since, until)
      else TableManifest.appendsBetween(spark, tableDir, since, until))
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftManifestSource[$tableDir]"
}
