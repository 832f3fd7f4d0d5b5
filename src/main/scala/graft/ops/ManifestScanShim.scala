/** The SECOND private[sql] doorway graft needs (the first:
  * [[org.apache.spark.sql.graft.StreamingBatchShim]]) — placed under
  * `org.apache.spark.sql` so it can see `Dataset.ofRows` and the
  * file-source internals; everything else in graft lives in the
  * `graft` namespace and uses only public API.
  *
  * Why it exists: a manifested table's snapshot already RECORDS every
  * data file's path and size (the per-generation inventory in the
  * commit JSON), yet `spark.read.parquet(paths…)` re-discovers exactly
  * that from the filesystem — above 32 input paths Spark launches a
  * parallel-listing JOB (~100 ms of pure scheduling at local scale; at
  * object-store scale a LIST round-trip per directory). This shim
  * builds the scan relation directly from the inventory: a [[FileIndex]]
  * whose `listFiles` serves the recorded `FileStatus`es with ZERO
  * filesystem calls — the manifest, not the filesystem, is the source
  * of truth for what a version contains (the Iceberg/Delta planning
  * model, guide §6). Pushdown, column pruning, vectorized reading and
  * the `_metadata` columns are untouched: the relation is a plain
  * [[HadoopFsRelation]] over [[ParquetFileFormat]], the same physical
  * scan a directory read plans.
  *
  * Contract notes: file sizes come from the inventory (they drive
  * split planning and join-size estimates exactly as listed sizes
  * would); modification times are not recorded and surface as 0 —
  * no engine path reads `_metadata.file_modification_time`. A file
  * vacuumed AFTER the snapshot resolve surfaces at EXECUTION time
  * (task `FileNotFoundException`) instead of at scan construction —
  * the same outcome class as a directory read whose files vanish
  * between listing and execution; the retention window (generations
  * survive one full rewrite behind head) is what actually protects
  * stalled readers, unchanged. */
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

object ManifestScanShim {

  /** A [[FileIndex]] that answers from the manifest inventory — no
    * listing, no stat, no directory walk. Partition pruning is a
    * no-op (manifested generations are flat; pruning happens ABOVE,
    * on the manifest metadata, before this index is built). */
  private final class InventoryFileIndex(root: Path,
                                         files: Array[FileStatus])
      extends FileIndex {
    override val rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression])
        : Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files))
    override def inputFiles: Array[String] =
      files.map(_.getPath.toString)
    override def refresh(): Unit = ()
    override val sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** A parquet scan over exactly `files` (path → recorded size), with
    * the given read schema — planned with zero filesystem metadata
    * calls. */
  def parquetScan(spark: org.apache.spark.sql.SparkSession,
                  tableDir: String,
                  files: Seq[(String, Long)],
                  schema: StructType): DataFrame = {
    val classic = spark.asInstanceOf[SparkSession]
    val statuses = files.map { case (p, len) =>
      new FileStatus(len, false, 1, 134217728L, 0L, new Path(p))
    }.toArray
    val index = new InventoryFileIndex(new Path(tableDir), statuses)
    val rel = HadoopFsRelation(index, new StructType(), schema, None,
      new ParquetFileFormat(), Map.empty[String, String])(classic)
    Dataset.ofRows(classic, LogicalRelation(rel, isStreaming = false))
  }

  /** `schemas` merged in order by `StructType.merge` — the function
    * Spark's parquet `mergeSchema` read folds file footers with
    * (`SchemaMergeUtils`), under the session's case sensitivity. An
    * incompatible type pair fails loudly, as it does there. */
  def mergeSchemas(spark: org.apache.spark.sql.SparkSession,
                   schemas: Seq[StructType]): StructType = {
    val caseSensitive = spark.asInstanceOf[SparkSession]
      .sessionState.conf.caseSensitiveAnalysis
    schemas.reduce(_.merge(_, caseSensitive))
  }
}
