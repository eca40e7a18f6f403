package org.apache.spark.sql.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils

/** Classic-mode Column ↔ catalyst Expression bridge. Spark 4 removed
  * the public `new Column(expr)` constructor (Connect refactor); the
  * blessed replacement `classic.ExpressionUtils` is `private[sql]`,
  * so this one-file shim lives under the `org.apache.spark.sql`
  * namespace — the same pattern public Spark extensions use.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a raw Expression builder —
    * the registry handle is `private[sql]`, hence it lives in this
    * shim. Makes graft's native expressions callable from SQL text,
    * not only the Column API. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Release the blocks behind a `localCheckpoint`'d Dataset.
    * `Dataset.unpersist` goes through CacheManager.uncacheQuery,
    * which keys on cached PLANS — checkpoint persistence lives at
    * the RDD level behind a LogicalRDD, so uncacheQuery finds
    * nothing and is a silent no-op (ADVICE r16); the blocks would
    * otherwise only be freed by ContextCleaner once the RDD is
    * GC'd. Only safe once the checkpointed data is dead: a
    * locally-checkpointed RDD cannot be recomputed.
    *
    * The argument must be the checkpoint ROOT — the Dataset
    * `localCheckpoint` returned, whose analyzed plan IS the
    * LogicalRDD — never a dataset merely derived from one. A derived
    * plan can reference LogicalRDDs that sibling datasets still need
    * (walking it and unpersisting every LogicalRDD found would
    * destroy unrecomputable blocks and fail later actions with
    * lost-block errors — ADVICE r17), so anything else is rejected
    * loudly rather than half-honored. */
  def unpersistCheckpointed(df: org.apache.spark.sql.Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        "unpersistCheckpointed requires the checkpoint root (plan root " +
          s"must be a LogicalRDD); got: ${other.nodeName}. Derived plans " +
          "may share checkpoint blocks with sibling datasets — unpersist " +
          "the Dataset localCheckpoint() returned instead.")
    }
}

/** Parquet whose schema inference reads the footers Spark's
  * (`ParquetUtils.inferSchema`) would — one, or all with `mergeSchema`
  * — on the driver in a bounded 8-thread pool, not in a Spark job.
  * Past `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
  * footers, Spark's own driver-side cut-off, or with none, Spark's
  * inference runs unchanged. Opened by `graft.operators.StoreFs`. */
class DriverFooterParquet extends ParquetFileFormat {
  override def inferSchema(session: SparkSession,
                           options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = {
    val state = session.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    // the files Spark's `ParquetUtils.inferSchema` would read
    val sorted = files.sortBy(_.getPath.toString)
    def named(n: String) = sorted.filter(_.getPath.getName == n)
    val (metadata, common) = (named(PARQUET_METADATA_FILE), named(PARQUET_COMMON_METADATA_FILE))
    val data = sorted.filterNot(f => metadata.contains(f) || common.contains(f))
    val touch =
      if (new ParquetOptions(options, conf).mergeSchema)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ metadata ++ common
      else (common ++ metadata ++ data).take(1)
    if (touch.isEmpty || touch.length > conf.parallelPartitionDiscoveryThreshold)
      return super.inferSchema(session, options, files)
    val hadoop = state.newHadoopConfWithOptions(options)
    val converter = new ParquetToSparkSchemaConverter(conf)
    def one(f: FileStatus): StructType = ParquetFileFormat.readSchemaFromFooter(
      new Footer(f.getPath,
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoop), SKIP_ROW_GROUPS)),
      converter)
    val schemas = if (touch.size == 1) touch.map(one) else ThreadUtils.parmap(touch, "graft-footers", 8)(one)
    Some(schemas.reduceLeft(_.merge(_, conf.caseSensitiveAnalysis)))
  }
}
