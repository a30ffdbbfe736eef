package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Column ↔ catalyst Expression bridge. Spark 4 made these conversions
  * `private[sql]` (ExpressionUtils in columnNodeSupport.scala), so
  * libraries providing native expressions need this one-file shim inside
  * the org.apache.spark.sql namespace — the standard pattern for Spark
  * extension libraries; no Spark internals are modified.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `ExpectsInputTypes`' analysis-time check of `inputs` against the
    * `expected` types (outside this namespace the trait cannot be mixed
    * in: its `inputTypes` are `private[sql]` AbstractDataTypes). A
    * mismatch fails the plan with an AnalysisException instead of a
    * ClassCastException in an executor; no cast is inserted, so the
    * analyzed plan is unchanged.
    */
  def checkInputTypes(inputs: Seq[Expression],
                      expected: Seq[DataType]): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(inputs, expected)

  /** The DIVIDE_BY_ZERO error Spark's ANSI `/` raises, for native
    * expressions that reproduce a division (see [[graft.functions.Trim2]]).
    */
  def divideByZero(): ArithmeticException =
    QueryExecutionErrors.divideByZeroError(null)

  /** Block until every event posted so far has reached the listeners
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`). Listener
    * events arrive asynchronously: counters read or a capture window
    * closed right after an action otherwise miss the stage and task
    * events still queued on the bus.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  private def classicOf(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A parquet relation over a listing the caller already holds: `leaves`
    * maps each of the qualified `roots` to its leaf data files, handed to
    * the file index as its listing cache, and `dataSchema` is the file
    * schema. The relation is the one `spark.read.parquet(roots)` resolves
    * to (the same index class, partition inference from the leaf paths,
    * a nullable data schema), minus the work that read does before it
    * plans: no partition-discovery job past the parallel-listing
    * threshold and no schema-inference job.
    */
  def parquetScan(spark: SparkSession, roots: Seq[Path],
                  leaves: Map[Path, Array[FileStatus]], dataSchema: StructType,
                  options: Map[String, String]): DataFrame = {
    val session = classicOf(spark)
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leaves.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(session, roots, options, None, listed)
    val parts = index.partitionSchema
    val resolver = session.sessionState.conf.resolver
    val data = StructType(dataSchema.asNullable.filterNot(f =>
      parts.exists(p => resolver(p.name, f.name))))
    session.baseRelationToDataFrame(
      HadoopFsRelation(index, parts, data, None, new ParquetFileFormat, options)(session))
  }

  /** The Spark schema of one parquet file, from its footer, read on the
    * driver — what schema inference computes for that file.
    */
  def parquetFileSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(classicOf(spark).sessionState.conf))
  }

  /** The session settings [[parquetFileSchema]]'s conversion reads: the
    * same footer may yield a different schema where any of them differs.
    */
  def parquetSchemaSettings(spark: SparkSession): Seq[Boolean] = {
    val c = classicOf(spark).sessionState.conf
    Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp, c.caseSensitiveAnalysis,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetFieldIdReadEnabled, c.parquetIgnoreVariantAnnotation,
      c.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** `mergeSchema`'s union of file schemas, merged in the given order. */
  def mergeSchemas(schemas: Seq[StructType]): StructType = schemas.reduceLeft(_ merge _)

  /** Every row of the parquet `files` (all of schema `schema`), read on
    * the driver by Spark's own parquet reader — for the one-row marker
    * and stats tables and the quantizers, which a job would read no
    * faster.
    */
  def readParquetRows(spark: SparkSession, schema: StructType,
                      files: Seq[FileStatus]): Array[Row] = {
    val session = classicOf(spark)
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(session, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConf())
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    files.flatMap { f =>
      // the reader reuses its row: convert each before the next
      read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(f), 0L, f.getLen,
        Array.empty[String], f.getModificationTime, f.getLen))
        .map(r => toRow(r).asInstanceOf[Row]).toVector
    }.toArray
  }
}
