package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * conversion (the supported pattern for third-party native
  * expressions: live in the `org.apache.spark.sql` namespace, same as
  * every Spark extension library does for the classic API).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bucketing metadata for a catalog table: (numBuckets, bucketColumns),
    * None when the table is not bucketed. */
  def bucketSpec(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[(Int, Seq[String])] =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
      .map(b => (b.numBuckets, b.bucketColumnNames))

  /** Wrap an (already resolved) logical plan as a DataFrame — the
    * entry point for custom logical nodes like
    * [[graft.plans.AsOfJoinNode]]. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark), plan)

  /** The analyzed logical plan of a DataFrame (for building custom
    * nodes over existing frames). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Names of the session's local temp views — a driver-side catalog
    * lookup. `spark.catalog.listTables()` answers the same question by
    * running a whole Dataset action; polling that per bench query adds
    * measurable seconds across a 100+-query suite. */
  def tempViewNames(spark: org.apache.spark.sql.SparkSession): Seq[String] =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.catalog.listLocalTempViews("*")
      .map(_.table)

  /** Number of frames the session's CacheManager holds (persisted and
    * not yet unpersisted) — what a scoped run must leave as it found. */
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sharedState.cacheManager.numCachedEntries

  /** Whether the session's CacheManager already holds an entry whose
    * plan matches `ds`'s — `Dataset.persist` then caches nothing new
    * and the existing entry keeps its owner. */
  def isCached(ds: org.apache.spark.sql.Dataset[_]): Boolean = {
    val impl = org.apache.spark.sql.classic.ClassicConversions.castToImpl(ds)
    impl.sparkSession.sharedState.cacheManager.lookupCachedData(impl)
      .isDefined
  }

  /** Release the materialized blocks behind a `localCheckpoint`ed
    * frame. `Dataset.unpersist` won't: checkpoint blocks live on the
    * checkpointed RDD, not in the CacheManager, so a superseded
    * iteration's checkpoint otherwise lingers until the driver GCs —
    * across a 100+-query single-JVM run that is steady storage-memory
    * growth and GC-burst latency for whatever runs later. No-op for
    * frames that are not checkpoint-backed. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** The executed physical plan of a streaming query's LAST completed
    * micro-batch (None before the first batch finishes) — the hook the
    * streaming plan audits use: a StreamingQuery handle exposes
    * progress strings but not plans, while the underlying
    * StreamExecution keeps its IncrementalExecution. */
  def lastMicroBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[org.apache.spark.sql.execution.SparkPlan] = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).map(_.executedPlan)
    case _ => None
  }

  /** Register a native expression as a SQL temp function on an ALREADY
    * RUNNING session (builder `.withExtensions` only applies at session
    * creation — `getOrCreate` on a live JVM silently skips it). */
  def registerTempFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, builder: Seq[Expression] => Expression): Unit =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(spark)
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
