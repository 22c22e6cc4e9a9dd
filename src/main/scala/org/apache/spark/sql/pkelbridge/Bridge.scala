package org.apache.spark.sql.pkelbridge

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType

/** Minimal bridge into `private[sql]` / `private[spark]` API: Column↔Expression
  * conversion (the public API for this disappeared in Spark 4's Column
  * refactor; extension libraries conventionally host a shim inside the sql
  * package namespace), the listener-bus drain, the cached-plan count, and
  * driver-held rows: collecting them, frames over them and Spark's parquet
  * writer for them.
  * Custom expressions such as `pkel.functions.IndelRatio` and the pair
  * kernel's generator enter the Column API through [[column]]. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the async listener bus (`private[spark]`) so a test counting
    * Spark jobs via a SparkListener observes every event before asserting. */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Plans the session's cache manager holds (`private[sql]`): a run that
    * releases what it persisted leaves this count as it found it. */
  def cachedPlans(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  /** A frame over `rows`, which hold `schema`'s internal values, that is a
    * bare `LocalRelation`: building it runs no job. The relation is marked
    * analyzed, which a relation over resolved attributes already is: the
    * analyzer would change nothing, but it walks every row once per rule
    * (about 18 ms for 27k rows, against 2 ms marked). */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val relation = LocalRelation(DataTypeUtils.toAttributes(schema), rows)
    relation.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], relation)
  }

  /** `df`'s rows as Spark's internal rows, collected in one job inside an
    * SQL execution as `Dataset.collect` does, but without converting each
    * row to a `Row`. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** `df`'s schema and rows when its analyzed plan is a bare `LocalRelation`
    * (as [[localFrame]] and `createDataFrame(java.util.List[Row], schema)`
    * build it), so the driver already holds them. Checking runs analysis
    * only. */
  def localRows(df: DataFrame): Option[(StructType, Seq[InternalRow])] =
    df.queryExecution.analyzed match {
      case l: LocalRelation if !l.isStreaming => Some((l.schema, l.data))
      case _ => None
    }

  /** Write `rows` on the driver as the one part file of the parquet dir
    * `dir`, with the output writer Spark's parquet source gives a write task
    * (`ParquetUtils.prepareWrite`): the same footer metadata (the Spark row
    * schema, the writer version, the rebase keys), codec and
    * `part-00000-<uuid>-c000<ext>` name as a `df.write.parquet` task. No job
    * and no output committer run, so no `_SUCCESS` file is written. */
  def writeParquet(spark: SparkSession, schema: StructType, rows: Seq[InternalRow], dir: String): Unit = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val job = Job.getInstance(state.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(state.conf, job, schema,
      new ParquetOptions(Map.empty[String, String], state.conf))
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val file = s"$dir/part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(context)}"
    val writer = factory.newInstance(file, schema, context)
    try rows.foreach(writer.write)
    finally writer.close()
  }
}
