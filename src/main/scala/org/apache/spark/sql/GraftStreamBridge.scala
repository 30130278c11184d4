package org.apache.spark.sql

import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` pieces a V1 streaming Source needs (same
  * pattern as [[GraftColumnBridge]]): the micro-batch DataFrame a
  * `Source.getBatch` returns must carry `isStreaming = true` on its
  * logical plan (MicroBatchExecution splices it into the continuous
  * query plan), and the constructors for that — `LogicalRelation(_,
  * isStreaming)` / `internalCreateDataFrame` — are sql-package-private.
  * This is exactly how Spark's own FileStreamSource builds its batches.
  */
object GraftStreamBridge {

  /** The inverse direction, for a V1 streaming SINK: `Sink.addBatch`
    * receives a DataFrame whose logical plan is flagged streaming, which
    * the normal batch writers refuse. Re-wrap the micro-batch's physical
    * rows as a plain batch frame (what Spark's own FileStreamSink
    * effectively does before handing off to the file format). */
  def batchDataFrame(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val cs = ds.sparkSession
    cs.internalCreateDataFrame(ds.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** A computed batch DataFrame re-flagged streaming, for sources whose
    * micro-batch is more than a file scan (the CDF feed unions per-commit
    * scans with literal columns and may fall back to a multiset diff).
    * The plan boundary is the batch plan's physical rows — downstream
    * stream operators can't push filters into it, which matches the
    * bounded-by-changed-rows shape of a change feed batch. */
  def streamingFromBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val cs = ds.sparkSession
    cs.internalCreateDataFrame(ds.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** A batch DataFrame over a file relation (the source's log-planned
    * parquet files), flagged streaming. None → empty streaming batch
    * with the right schema. */
  def streamingFileBatch(spark: SparkSession, schema: StructType,
      relation: Option[BaseRelation]): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    relation match {
      case None =>
        cs.internalCreateDataFrame(
          cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
          schema, isStreaming = true)
      case Some(r) =>
        classic.Dataset.ofRows(cs, LogicalRelation(r, isStreaming = true))
    }
  }
}
