package org.apache.spark.sql

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** In-package access to Spark's OWN DSv2 parquet execution machinery for
  * graft's native batch scan ([[graft.lake.GraftCatalog]]): the reader
  * factory, file-partition model, and split planning are all
  * `private[sql]` — re-exported here instead of re-implemented, the same
  * convention as [[GraftBridge]]. Using Spark's factory (not a bespoke
  * reader) keeps every parquet behavior identical to a builtin scan:
  * vectorized/columnar reads, missing-column → null schema evolution,
  * widening type reads, timestamp rebase modes, row-group filter
  * pushdown. */
object GraftScanSupport {

  /** The reserved column name Spark's parquet readers (vectorized and
    * parquet-mr alike) fill with each row's ordinal within its file when
    * the REQUESTED schema contains a LongType field of this name — the
    * same mechanism `_metadata.row_index` rides on. Graft's MOR batch
    * scan requests it to give every row the (file, pos) identity
    * positional deletes target, with zero reader changes. */
  def rowIndexColumn: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  def parquetReaderFactory(spark: SparkSession,
                           dataSchema: StructType,
                           readDataSchema: StructType,
                           filters: Array[Filter]): PartitionReaderFactory =
    parquetReaderFactory(spark, dataSchema, readDataSchema, filters,
      new StructType())

  /** Spark's parquet [[PartitionReaderFactory]] over the CURRENT session
    * conf, with the SAME hadoop-conf preparation ParquetScan's
    * createReaderFactory performs (read-support class, requested-schema
    * json, timezone, parquet type flags) — the reader NPEs without it.
    * `filters` prune row groups inside each file (advisory — Spark
    * still re-evaluates every predicate above the scan).
    * `partitionSchema` columns are served as CONSTANT vectors appended
    * after the data columns, valued from each [[PartitionedFile]]'s
    * `partitionValues` — the zero-cost per-file-constant channel the MOR
    * batch scan uses for `_abs`/`_seq` (Spark's own partition-column
    * mechanism, fully columnar and codegen-friendly). */
  def parquetReaderFactory(spark: SparkSession,
                           dataSchema: StructType,
                           readDataSchema: StructType,
                           filters: Array[Filter],
                           partitionSchema: StructType): PartitionReaderFactory = {
    import org.apache.parquet.hadoop.ParquetInputFormat
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val sqlConf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val readDataSchemaAsJson = readDataSchema.json
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readDataSchemaAsJson)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readDataSchemaAsJson)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(readDataSchema, hadoopConf)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    ParquetPartitionReaderFactory(
      sqlConf,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      dataSchema,
      readDataSchema,
      partitionSchema,
      filters,
      aggregation = None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }

  /** Spark's own split-size decision for a file set (open-cost
    * accounting included) — exposed so a caller planning SUBSETS of one
    * scan (per-era groups) can size splits from the WHOLE set, exactly
    * as one combined plan would. */
  def splitBytesFor(spark: SparkSession, files: Seq[(String, Long)]): Long = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    FilePartition.maxSplitBytes(spark, files.map(_._2 + openCost).sum)
  }

  /** Spark's own split sizing: [[FilePartition.maxSplitBytes]] picks the
    * range size (parquet readers align ranges to row groups), the
    * SPLITS are sorted largest-first (FileScan.partitions' order — a
    * multi-split file's small tail chunk must not jump ahead of whole
    * files and close bins early), and
    * [[FilePartition.getFilePartitions]] bin-packs with the session's
    * open-cost accounting — the identical partition layout a builtin
    * file scan would plan. Zero-length entries plan no splits, exactly
    * like Spark's `(0L until file.length)`. `files` are (absolute path,
    * size, `partitionValues`) triples; each split of a file carries that
    * file's constants (must match the factory's `partitionSchema`
    * positionally). `maxSplitOverride` carries a whole-scan split size
    * when this call plans one subset. */
  def planFilePartitionsWithValues(spark: SparkSession,
      files: Seq[(String, Long, InternalRow)],
      maxSplitOverride: Option[Long] = None): Array[InputPartition] = {
    val maxSplit = maxSplitOverride.getOrElse(
      splitBytesFor(spark, files.map(f => (f._1, f._2))))
    val pfs = files.flatMap { case (path, len, pvals) =>
      (0L until len by maxSplit).map { start =>
        PartitionedFile(pvals, SparkPath.fromPathString(path),
          start, math.min(maxSplit, len - start))
      }
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(spark, pfs, maxSplit)
      .toArray[InputPartition]
  }
}
