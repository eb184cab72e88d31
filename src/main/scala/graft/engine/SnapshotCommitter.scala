package graft.engine

import java.util.concurrent.{Executors, Future}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.spark_partition_id
import scala.collection.mutable.ArrayBuffer

/** Async, ordered per-round snapshot commits: round N's parquet write +
  * manifest rename overlap round N+1's compute (Spark schedules jobs from
  * both threads concurrently). The single-threaded pool keeps commits in
  * round order, so the manifest ATOMIC_MOVE remains the crash-safe commit
  * point; failures surface through [[poll]] or [[drain]].
  */
private[engine] final class SnapshotCommitter(store: FrontierStore, persistPages: Boolean) {
  private val pool = Executors.newSingleThreadExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-frontier-commit"); t.setDaemon(true); t })
  private val pending = ArrayBuffer[Future[_]]()

  /** Fail fast each round: a commit that already failed aborts the crawl
    * now instead of after all later rounds committed newer manifests (the
    * single-threaded pool keeps commit order, so a failed round-N commit
    * means no round>N manifest has been renamed yet).
    */
  def poll(): Unit = {
    val done = pending.filter(_.isDone)
    done.foreach(_.get()) // rethrows the first failure
    pending --= done
  }

  /** Queue round `round`'s commit. ONLY the round's newly-seen delta ships
    * to the store, which appends it as a per-round delta file, so commit
    * work per round is O(batch), never O(|seen|). The frames are immutable
    * and the counts driver-known, so the task captures them as they are.
    */
  def submit(round: Int, frontier: DataFrame, seenDelta: DataFrame, pages: DataFrame,
             batch: Long, frontierNext: Long, seenTotal: Long): Unit =
    pending += pool.submit(new Runnable {
      def run(): Unit = {
        // per-partition lineage of the fetched pages; their sum is the
        // fetched count, so no second job counts the pages again
        val partMetrics = pages.groupBy(spark_partition_id().as("p")).count()
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        val fetched = partMetrics.map(_._2).sum
        // pages snapshot rides the same ordered commit, BEFORE the manifest
        // rename (committed manifest => pages dir complete); reads the
        // round's already-cached blocks
        if (persistPages) store.commitPages(round, pages)
        store.commit(round, frontier, seenDelta,
          Seq("pages_fetched" -> fetched,
            // fetch misses (url absent from corpus ≙ 404/timeout lineage)
            "pages_missing" -> (batch - fetched),
            "frontier_next" -> frontierNext,
            "seen_total" -> seenTotal),
          partMetrics)
      }
    })

  /** Await every queued commit (rethrowing any failure) and stop the pool. */
  def drain(): Unit =
    try pending.foreach(_.get())
    finally {
      pending.clear()
      pool.shutdown()
    }
}
