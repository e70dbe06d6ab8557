package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.LocalTempView
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Minimal bridge to Spark's package-private Column↔Expression
  * conversion (`org.apache.spark.sql.classic.ExpressionUtils` is
  * `private[sql]` in Spark 4). Living under `org.apache.spark.sql` is
  * the established pattern for libraries that expose native Catalyst
  * expressions through the public Column API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Rebuild a plain BATCH DataFrame over an already-planned RDD of
    * internal rows — what a V1 streaming Sink needs to hand its
    * micro-batch to batch-write machinery (the `Dataset.ofRows`/
    * `internalCreateDataFrame` pattern Spark's own sinks use; both are
    * `private[sql]` in Spark 4).
    */
  def batchDf(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** A parquet scan of the files `index` serves, read as `dataSchema`:
    * the relation `spark.read.schema(dataSchema).parquet(paths)` resolves
    * (an unpartitioned `HadoopFsRelation`, its data schema made nullable),
    * over an index the caller built in place of the `InMemoryFileIndex`.
    */
  def parquetScan(spark: org.apache.spark.sql.SparkSession, index: FileIndex,
      dataSchema: StructType): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Dataset.ofRows(session, LogicalRelation(HadoopFsRelation(index, new StructType(),
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(session)))
  }

  /** Open `df` as one SQL execution the way `Dataset.withAction` does
    * (`SQLExecution.withNewExecutionId`, plan metrics reset) and run
    * `body` inside it with the planned RDD of internal rows and the
    * frame's `ExpressionEncoder` row deserializer. Jobs `body` submits
    * carry the execution's id; jobs submitted after it returns do not,
    * the same as the per-partition jobs of `Dataset.toLocalIterator`.
    * The RDD is `QueryExecution.toRdd`, which ships the session's SQL
    * conf with its tasks outside the execution too.
    */
  def withPlannedRows[T](df: DataFrame, name: String)(
      body: (RDD[InternalRow], InternalRow => Row) => T): T =
    withExecution(df, name) { qe =>
      val ds = df.asInstanceOf[Dataset[Row]]
      val fromRow = ds.exprEnc
        .resolveAndBind(ds.logicalPlan.output, ds.sparkSession.sessionState.analyzer)
        .createDeserializer()
      body(qe.toRdd, fromRow)
    }

  /** Run `body` inside one SQL execution of `df`, named `name`, as
    * `Dataset.withAction` opens one: plan metrics reset, and
    * QueryExecutionListeners (and so `Observation`s) notified when it
    * ends. `body` gets the frame's `QueryExecution`.
    */
  def withExecution[T](df: DataFrame, name: String)(body: QueryExecution => T): T = {
    val qe = df.asInstanceOf[Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.resetMetrics()
      body(qe)
    }
  }

  /** `df.localCheckpoint(eager = true)` that keeps hold of the RDD it
    * persists: the same single SQL execution, plan and `LogicalRDD`
    * leaf as `Dataset.checkpoint`, but when materialization fails the
    * blocks its finished partitions cached are released through that
    * RDD alone. Spark's own call leaves them cached with no handle, and
    * a cleanup that diffs the context's persistent-RDD set would also
    * evict whatever another session pinned meanwhile.
    */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      try rdd.doCheckpoint()
      catch {
        case e: Throwable =>
          rdd.unpersist(blocking = false)
          throw e
      }
      Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
    }
  }

  /** `df.createOrReplaceTempView(name)` without a SQL execution: the same
    * analyzed-plan `CreateViewCommand` that call builds, run directly.
    * A temp view is session metadata — registering one starts no job,
    * so it need not open an execution (and its listener events) either.
    * A multi-part name goes through the stock call and its checks.
    */
  def replaceTempView(df: DataFrame, name: String): Unit = {
    val ds = df.asInstanceOf[Dataset[Row]]
    ds.sparkSession.sessionState.sqlParser.parseMultipartIdentifier(name) match {
      case Seq(view) =>
        CreateViewCommand(TableIdentifier(view), userSpecifiedColumns = Nil,
          comment = None, collation = None, properties = Map.empty,
          originalText = None, plan = ds.logicalPlan, allowExisting = false,
          replace = true, viewType = LocalTempView, isAnalyzed = true)
          .run(ds.sparkSession)
        ()
      case _ => df.createOrReplaceTempView(name)
    }
  }
}
