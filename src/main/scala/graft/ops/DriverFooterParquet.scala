/** Spark's parquet source with its schema footer read on the driver.
  *
  * Why it exists: a non-merging `spark.read.parquet` takes its schema
  * from exactly ONE footer (`_common_metadata`, else `_metadata`, else
  * the first data file in path order — `ParquetUtils.inferSchema`), yet
  * Spark reads that one footer inside a one-task JOB
  * (`SchemaMergeUtils.mergeSchemasInParallel`): scheduling, task
  * serialization and a result round-trip for a read of a few KB. On a
  * 4-core VM in a warm session that job costs 84–113 ms per load against
  * 12–15 ms for the same footer read on the driver, and every registry
  * query loads several tables.
  *
  * This format overrides only [[inferSchema]]. With `mergeSchema` off it
  * picks the file Spark picks, reads its footer with Spark's own reader
  * (`ParquetFooterReader`, row groups skipped) and converts it with
  * Spark's own converter under the session's settings, honouring
  * `ignoreCorruptFiles` the way Spark's footer reader does. With
  * `mergeSchema` on it defers to Spark, so the parallel footer merge
  * still runs where it scales: one footer per file. Everything else —
  * listing, the missing-path and glob errors, partition discovery,
  * nullability normalisation and the physical scan — is Spark's
  * `DataSource` path, unchanged. No schema is cached: each load reads
  * its footer fresh, so a table overwritten in-session reads correctly.
  *
  * Use it through [[graft.sources.TableCatalog.readParquet]]. */
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

class DriverFooterParquet extends ParquetFileFormat {

  override def inferSchema(sparkSession: SparkSession,
                           parameters: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val state = sparkSession.asInstanceOf[ClassicSession].sessionState
    val conf = state.conf
    if (new ParquetOptions(parameters, conf).mergeSchema)
      super.inferSchema(sparkSession, parameters, files)
    else {
      val byPath = files.sortBy(_.getPath.toString)
      def named(n: String) = byPath.find(_.getPath.getName == n)
      named(PARQUET_COMMON_METADATA_FILE)
        .orElse(named(PARQUET_METADATA_FILE))
        .orElse(byPath.find { f =>
          val n = f.getPath.getName
          n != PARQUET_COMMON_METADATA_FILE && n != PARQUET_METADATA_FILE
        })
        .flatMap { f =>
          val hadoopConf = state.newHadoopConfWithOptions(parameters)
          // Spark's footer reader throws RuntimeException, not
          // IOException, on a footer it cannot read; only that is
          // forgiven under ignoreCorruptFiles, as in Spark's own read
          val footer =
            try Some(ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS))
            catch {
              case e: RuntimeException =>
                if (new FileSourceOptions(CaseInsensitiveMap(parameters))
                    .ignoreCorruptFiles) {
                  logWarning(s"Skipped the footer in the corrupted file: $f", e)
                  None
                } else
                  throw QueryExecutionErrors.cannotReadFooterForFileError(
                    f.getPath, e)
            }
          footer.map(m => ParquetFileFormat.readSchemaFromFooter(
            new Footer(f.getPath, m),
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation =
                conf.parquetReaderRespectUnknownTypeAnnotation)))
        }
    }
  }
}
