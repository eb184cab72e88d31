package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The one layout rule for jobs whose row counts the driver already holds
  * (a checkpoint's count, a seen-set size, a host dimension's count):
  * how many partitions a frame gets, when a join side is broadcast, and
  * when a small input is spread across the session's cores.
  *
  * Checkpointed and persisted leaves carry no size statistics, so the
  * planner can neither broadcast them nor size their partitions itself
  * (guide §3.1); and a few thousand rows spread over 32 near-empty
  * partitions make every downstream stage pay 32 tasks of fixed overhead
  * for microseconds of row work (guide §2.2 "fewer, larger map tasks").
  * Every rule is scale-adaptive: large inputs keep full parallelism and
  * the shuffled join shape.
  */
private[graft] object Layout {

  /** Rows one partition holds: a 5k-row frame lands in ONE partition, a
    * 10^7-row frame keeps every core busy.
    */
  val RowsPerPartition: Long = 50000L

  /** Join sides at or below this many rows are broadcast. ~50 B/row puts
    * the broadcast near 25 MB; above it the sort-merge shape is kept.
    */
  val BroadcastRows: Long = 500000L

  /** Partitions for `rows` rows: one per [[RowsPerPartition]], at least
    * one, at most the default parallelism.
    */
  def partitions(spark: SparkSession, rows: Long): Int =
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      (rows + RowsPerPartition - 1) / RowsPerPartition)).toInt

  /** `df` narrowly coalesced to [[partitions]]`(rows)` when it has more
    * partitions than that; otherwise `df` unchanged, keeping its
    * partitioning.
    */
  def fit(df: DataFrame, rows: Long): DataFrame = {
    val parts = partitions(df.sparkSession, rows)
    if (df.rdd.getNumPartitions > parts) df.coalesce(parts) else df
  }

  /** `df` with a broadcast hint when its `rows` are at most [[BroadcastRows]]. */
  def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastRows) broadcast(df) else df

  /** `df` hash-repartitioned by `key` across the default parallelism when it
    * has fewer partitions than that (a single-split input would otherwise
    * run its CPU-heavy consumer in one task, guide §2.5); an input already
    * as parallel as the session keeps its layout and pays no shuffle.
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par, col(key)) else df
  }
}
