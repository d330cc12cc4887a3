package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Parquet schema inference on the driver (same pattern as
  * sql/graftshim/ColumnShim: the footer helpers are `private[parquet]`).
  *
  * `spark.read.parquet(path)` infers its schema through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which reads the chosen
  * footer inside a one-task Spark job even when it reads exactly one
  * file. On a small local host that job costs tens of milliseconds of
  * scheduling for ~1 ms of work. [[infer]] mirrors
  * `ParquetUtils.inferSchema` with `mergeSchema=false` — the same file,
  * the same footer reader, the same converter flags — but reads the
  * footer on the driver, so `spark.read.schema(s).parquet(path)` plans
  * the identical relation without running a job.
  */
object FooterSchema {
  /** The schema `spark.read.parquet(path)` would infer, or None where
    * this shortcut does not apply: schema merging is on (every footer
    * must be read), the path does not exist, or no footer is found (an
    * empty directory, an ignored corrupt file). Callers then read the
    * plain way, which raises Spark's own error for a bad path. */
  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val conf = SessionStateHelper.getSqlConf(spark)
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = SessionStateHelper.getHadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return None
    val leaves = new InMemoryFileIndex(spark, Seq(fs.makeQualified(root)),
      Map.empty, None).allFiles().sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    // inferSchema's pick: _common_metadata, else _metadata, else the
    // first data file in path order
    val footerFile = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !summaries(f.getPath.getName)))
    footerFile.flatMap { f =>
      // the flags mergeSchemasInParallel passes; the converter's other
      // parameters keep their defaults there, so they do here too
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation)
      ParquetFileFormat.readParquetFootersInParallel(hadoopConf, Seq(f),
          conf.ignoreCorruptFiles)
        .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
    }
  }
}
