package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0 for the root).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span log, written once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  private var next = 1
  def open(): Int = synchronized { val id = next; next += 1; id }
  def close(id: Int, parent: Int, name: String, startNs: Long, endNs: Long): Unit =
    synchronized { buf += Span(id, parent, name, startNs, endNs) }
  def all: Seq[Span] = synchronized(buf.toList)
}

/** Spark counters of one benchmark call. */
final class CallCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  /** (submitted, completed) epoch ms of every stage that ran. */
  val stageSpans = mutable.ArrayBuffer[(Long, Long)]()
}

/** Collects jobs, stages, tasks, task time, shuffle bytes and stage spans
  * (for the driver gap), keyed by
  * the job group the benchmark sets around each call. Stage-level task
  * metrics are used instead of per-task events to keep the listener cheap.
  * Off (`enabled = false`) it ignores every event, which is how the
  * untraced passes of a traced run measure the tracing overhead.
  */
final class StageTracer extends SparkListener {
  @volatile var enabled = false
  private val groupOfStage = mutable.Map[Int, String]()
  private val byGroup = mutable.Map[String, CallCounters]()

  def counters(group: String): CallCounters =
    synchronized(byGroup.getOrElse(group, new CallCounters))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      byGroup.getOrElseUpdate(g, new CallCounters).jobs += 1
      e.stageIds.foreach(groupOfStage(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val i = e.stageInfo
    groupOfStage.get(i.stageId).foreach { g =>
      val c = byGroup(g)
      c.stages += 1
      c.tasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
      for (s <- i.submissionTime; f <- i.completionTime) c.stageSpans += ((s, f))
    }
  }
}

object StageTracer {
  /** Share of [startMs, endMs] during which no stage of the call ran. */
  def driverGapFrac(c: CallCounters, startMs: Long, endMs: Long): Double = {
    val wall = math.max(1L, endMs - startMs)
    var covered = 0L
    var reach = startMs
    c.stageSpans.map { case (s, f) => (math.max(s, startMs), math.min(f, endMs)) }
      .filter { case (s, f) => f > s }.sortBy(_._1).foreach { case (s, f) =>
        if (f > reach) { covered += f - math.max(s, reach); reach = f }
      }
    1.0 - covered.toDouble / wall
  }
}
