package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import graft.engine.Layout

class LayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("layout-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def broadcastHinted(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }.nonEmpty

  test("partitions: one per RowsPerPartition rows, at least one, capped at defaultParallelism") {
    val par = spark.sparkContext.defaultParallelism
    assert(par >= 2, s"the cases below need a session with 2+ cores, got $par")
    assert(Layout.partitions(spark, 0L) == 1)
    assert(Layout.partitions(spark, 50000L) == 1)
    assert(Layout.partitions(spark, 50001L) == 2)
    assert(Layout.partitions(spark, Layout.RowsPerPartition * (par + 3)) == par)
    assert(Layout.partitions(spark, Long.MaxValue / 2) == par)
  }

  test("broadcastIfSmall: hint at BroadcastRows, none at BroadcastRows + 1") {
    val df = spark.range(10).toDF("id")
    assert(broadcastHinted(Layout.broadcastIfSmall(df, Layout.BroadcastRows)))
    assert(!broadcastHinted(Layout.broadcastIfSmall(df, Layout.BroadcastRows + 1)))
  }
}
