/*
 * A minimal bridge into Spark's private[sql] plan-construction API.
 * Lives in the org.apache.spark.sql namespace ONLY to satisfy the
 * private[sql] access qualifier on `classic.Dataset.ofRows` — it calls
 * nothing that isn't part of Spark's own source (ExistingRDD.scala,
 * Dataset.scala) and carries no graft logic beyond its two wrappers.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Re-root a DataFrame's logical plan at the InternalRow layer: wrap
  * `queryExecution.toRdd` in a fresh [[LogicalRDD]] leaf, exactly the
  * plan `Dataset.localCheckpoint` builds — but over the PERSISTED
  * frame's physical plan (served as an InMemoryTableScan by the cache
  * manager) instead of a checkpointed RDD, so the caller keeps its own
  * deterministic `unpersist` bookkeeping. The `.map(_.copy())` is
  * load-bearing, as in Spark's own checkpoint path: columnar-cache
  * reads hand out reused row buffers, and a LogicalRDD must own
  * immutable rows. Unlike `createDataFrame(df.rdd, df.schema)` this
  * never round-trips through external Rows — no per-execution
  * deserialize/re-encode of every cached row (the r16 ADVICE cost on
  * the streaming segmenters' per-micro-batch memoized frames). */
object GraftInternalRows {
  def reroot(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    classic.Dataset.ofRows(session,
      LogicalRDD(ds.queryExecution.analyzed.output, rdd,
        UnknownPartitioning(0), Nil, isStreaming = false)(session))
  }

  /** `df` as a frame of `caller`: the frame itself when `caller` is the
    * session that built it, else a new Dataset over the same logical
    * plan, so the caller's confs and rules plan every query over it
    * while a checkpoint's `LogicalRDD` leaf (and its blocks) is shared,
    * not rebuilt. */
  def bindTo(caller: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq caller) df
    else classic.Dataset.ofRows(caller.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical)
}
