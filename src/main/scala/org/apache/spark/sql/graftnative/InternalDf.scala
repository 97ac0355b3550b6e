package org.apache.spark.sql.graftnative

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** `private[sql]` bridge for the V1 streaming source/sink contract:
  * both sides of it traffic in InternalRow plans that only
  * `SparkSession.internalCreateDataFrame` can (re)wrap —
  *  - a Sink gets a DataFrame bound to the in-flight incremental plan;
  *    re-planning it (another action, a write) re-executes the batch, so
  *    the sink must lift the planned RDD into a standalone batch frame;
  *  - a Source must hand back a frame with `isStreaming = true`
  *    (MicroBatchExecution asserts it) over a plain batch read.
  */
object InternalDf {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Wrap already-planned InternalRows as a fresh (batch or streaming)
    * DataFrame. Rows must already be defensively copied if the RDD
    * reuses row objects.
    */
  def fromInternalRows(spark: SparkSession, rdd: RDD[InternalRow],
                       schema: StructType, isStreaming: Boolean): DataFrame =
    classic(spark).internalCreateDataFrame(rdd, schema, isStreaming)

  /** An empty DataFrame with `isStreaming = true` (a micro-batch with no
    * new data).
    */
  def emptyStreaming(spark: SparkSession, schema: StructType): DataFrame =
    fromInternalRows(spark,
      spark.sparkContext.emptyRDD[InternalRow], schema, isStreaming = true)

  /** Re-mark a batch plan as a streaming micro-batch: plan it, copy the
    * (reused) rows, and rewrap with `isStreaming = true`.
    */
  def asStreaming(df: DataFrame): DataFrame =
    fromInternalRows(df.sparkSession,
      df.queryExecution.toRdd.map(_.copy()), df.schema, isStreaming = true)

  /** Detach a sink's incremental batch: the planned rows become a
    * standalone batch frame that can safely flow through any write path.
    */
  def detachBatch(df: DataFrame): DataFrame =
    fromInternalRows(df.sparkSession,
      df.queryExecution.toRdd.map(_.copy()), df.schema, isStreaming = false)

  /** [[detachBatch]] with the row RDD persisted (memory-and-disk): a
    * consumer that runs multiple actions over the batch executes the
    * upstream plan once. Two valid lifecycles for the returned RDD:
    * `unpersist` it explicitly when the last consumer is done (the sink
    * path — `GraftStreaming`'s try/finally), or, when the frame is
    * returned LAZILY and no in-function unpersist point exists, rely on
    * the reference-tracked blocks (ContextCleaner reclaims them once
    * the frame is unreachable) plus a caller-side bound on live caches
    * (the [[graft.operators.GraphRouting]] path — do NOT "fix" that
    * call site with a try/finally: evicting before the downstream
    * consumer runs silently reinstates the recomputation the cache
    * exists to remove).
    */
  def detachBatchCached(df: DataFrame)
      : (DataFrame, RDD[InternalRow]) = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (fromInternalRows(df.sparkSession, rdd, df.schema, isStreaming = false),
      rdd)
  }

  /** A bounded, newest-last ring of [[detachBatchCached]] frames for an
    * owner that returns its cached frames LAZILY: caching through the
    * ring unpersists all but the newest `bound` RDDs. Eviction is
    * correctness-neutral for a deterministic lineage (it recomputes),
    * and unpersisting an already unpersisted RDD is a no-op, so explicit
    * caller cleanup composes with the bound.
    */
  final class CacheRing(bound: Int) {
    private val live = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]

    def cache(df: DataFrame): DataFrame = {
      val (cached, rdd) = detachBatchCached(df)
      live.add(rdd)
      while (live.size > bound) {
        val old = live.poll()
        if (old != null) old.unpersist(blocking = false)
      }
      cached
    }
  }
}
