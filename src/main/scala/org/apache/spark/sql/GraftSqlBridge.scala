package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** Tiny shim over Spark's `private[sql]` Column↔Expression bridge
  * (`org.apache.spark.sql.classic.ExpressionUtils`), the supported way for
  * extension libraries to expose custom Catalyst expressions as Columns on
  * Spark 4.x.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager local checkpoint + row count in ONE job. Mechanically identical
    * to `Dataset.localCheckpoint(eager = true)` — compile the plan to an
    * RDD, copy rows, mark for local checkpointing, run an eager
    * materializing action — except the action's count is RETURNED instead
    * of discarded, so a loop that needs both the checkpoint and the count
    * (the crawler's per-round frontier) pays one driver job, not two.
    * (A LAZY Dataset.localCheckpoint would also merge the jobs, but under
    * multi-JVM local-cluster the post-action missing-block scan races
    * executor block registration and re-runs the whole plan — measured
    * 1.7× slower; this keeps the proven eager ordering.)
    */
  def localCheckpointWithCount(df: DataFrame): (DataFrame, Long) =
    localCheckpointWithCount(df, Int.MaxValue)

  /** As above, with a partition cap for SMALL checkpoints. A frontier of a
    * few thousand rows checkpointed across 32 near-empty partitions makes
    * every downstream consumer (broadcast builds, the newSeen exchange of
    * the successor anti-join, resume-time seen unions) a 32-task stage
    * whose per-task shuffle-file/scheduling overhead dwarfs its row work
    * (guide §2.2 "fewer, larger map tasks"; measured ~200 ms/task constant
    * at sf0.1/local[32]). Callers pass a cap derived from a DRIVER-KNOWN
    * row count (batch size), so big frontiers keep full parallelism —
    * the cap is scale-adaptive, never a constant.
    *
    * When the cap coalesces, the checkpoint is wrapped WITHOUT the origin
    * plan's outputPartitioning claim (internalCreateDataFrame): coalesce
    * changes the partition count, so the claim would be wrong — and a
    * wrong claimed HashPartitioning would let a later same-keyed join
    * skip a required exchange and produce bad rows. Coalesced frontiers
    * are small by construction, and their joins broadcast (graft's
    * `Layout.broadcastIfSmall`), so the claim is also worthless there.
    * Uncapped checkpoints keep the r3 fromDataset behavior: dropping the
    * claim for LARGE frontiers measured 1.9× slower at 960k-page rounds
    * under local-cluster (every round re-shuffled the seen union).
    */
  def localCheckpointWithCount(df: DataFrame, maxParts: Int): (DataFrame, Long) = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd0 = df.queryExecution.toRdd.map(_.copy())
    val coalesced = maxParts > 0 && rdd0.getNumPartitions > maxParts
    val rdd = if (coalesced) rdd0.coalesce(maxParts) else rdd0
    rdd.localCheckpoint()
    val n = rdd.count()
    val out =
      if (coalesced) spark.internalCreateDataFrame(rdd, ds.schema, isStreaming = false)
      else classic.Dataset.ofRows(spark, org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(rdd, ds, isStreaming = false))
    (out.toDF(), n)
  }

  /** LAZY materialization boundary with checkpoint-like lifecycle.
    * Compiles the plan to an RDD, marks it persisted (MEMORY_AND_DISK) and
    * wraps it back into a DataFrame via the same `LogicalRDD.fromDataset`
    * factory as [[localCheckpointWithCount]] — but WITHOUT running a job:
    * the first downstream action (the crawler's per-round frontier
    * checkpoint) computes and caches it in the same pass.
    *
    * Deliberately NOT `Dataset.persist`: that registers the plan in the
    * session's CacheManager, which holds a STRONG reference until an
    * explicit unpersist — per-round caches would accumulate for the life
    * of the session (measured: a 3-rep bench suite degraded 21 s → 59 s
    * from the pile-up), and identical later plans would silently read the
    * stale entry. An RDD-level persist has neither problem: the
    * ContextCleaner unpersists blocks when the RDD becomes unreachable
    * (exactly the old eager-localCheckpoint lifecycle), and there is no
    * plan-fragment cache matching. Unlike a lazy `localCheckpoint` it
    * also keeps lineage, so an evicted block recomputes per-partition
    * instead of failing the job (and there is no post-action
    * missing-block scan to race executor registration under multi-JVM).
    */
  def lazyCache(df: DataFrame): DataFrame = lazyCacheRows(df)._2

  /** [[lazyCache]], also returning the persisted rows themselves. A caller
    * that only counts or collects them runs a plain RDD job: no query to
    * plan, no SQL execution, no generated class to compile.
    */
  def lazyCacheRows(df: DataFrame): (org.apache.spark.rdd.RDD[InternalRow], DataFrame) = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (rdd, classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(rdd, df.asInstanceOf[classic.Dataset[_]], isStreaming = false)))
  }

  /** Register a NATIVE Catalyst expression under a SQL-callable name (the
    * codegen path — unlike `spark.udf.register`, calls from SQL stay
    * inside whole-stage codegen).
    */
  def registerExpression(spark: SparkSession, name: String,
                         builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
      (exprs: Seq[Expression]) => builder(exprs))
  }
}
