package perfbench

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** A timed interval with the span that caused it (op → stage → Spark job). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty)

/** What the Spark jobs inside one interval did. */
final case class Work(jobs: Int, busyS: Double, gcS: Double, shuffleMb: Double,
                      spillMb: Double, resultMb: Double, failedTasks: Int,
                      jobSpanS: Double, exchanges: Int, planKb: Double,
                      joinRows: Long) {
  /** Part of `wallS` in which no Spark job ran. */
  def driverGapS(wallS: Double): Double = math.max(0.0, wallS - jobSpanS)
}

/** The benchmark's view from outside the program: one SparkListener for
  * jobs, tasks and cached blocks, one QueryExecutionListener for the
  * physical plan of every action. Cached bytes and shuffle bytes are always
  * counted (they are end-to-end metrics); per-job and per-plan records are
  * kept only while `tracing` is on.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var tracing = false

  private final class JobRec(val startMs: Long) {
    var endMs = -1L
    var busyMs, gcMs, shuffleBytes, spillBytes, resultBytes = 0L
    var failedTasks = 0
  }
  private final case class ActionRec(atMs: Long, exchanges: Int, planChars: Int, joinRows: Long)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val actions = mutable.ArrayBuffer[ActionRec]()
  private val blocks = mutable.Map[String, Long]()
  private var cachedBytes, peakBytes, shuffleWritten = 0L

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = BenchBus.drain(sc)

  def resetPeak(): Unit = { drain(); synchronized { peakBytes = cachedBytes } }
  def cachePeakMb: Double = { drain(); synchronized(peakBytes / MiB) }
  def shuffleWrittenMb: Double = { drain(); synchronized(shuffleWritten / MiB) }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) synchronized {
    jobs(e.jobId) = new JobRec(e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val written = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten
    shuffleWritten += written
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get)) {
      if (m != null) {
        j.busyMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += written
        j.spillBytes += m.diskBytesSpilled
        j.resultBytes += m.resultSize
      }
      if (e.reason != Success) j.failedTasks += 1
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blocks.getOrElse(info.blockId.name, 0L)
      if (now == 0L) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = now
      peakBytes = math.max(peakBytes, cachedBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (tracing) {
      var exchanges, planChars = 0
      var joinRows = 0L
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
          planChars += p.simpleStringWithNodeId().length
          p match {
            case _: ShuffleExchangeLike => exchanges += 1
            case j: BaseJoinExec => joinRows += j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
      walk(qe.executedPlan)
      val startMs = System.currentTimeMillis() - durationNs / 1000000
      synchronized { actions += ActionRec(startMs, exchanges, planChars, joinRows) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Forget every job and action recorded so far. */
  def clear(): Unit = { drain(); synchronized { jobs.clear(); stageJob.clear(); actions.clear() } }

  /** Jobs that started inside [fromMs, toMs), as child spans of `parent`. */
  def jobSpans(fromMs: Double, toMs: Double, parent: Int, nextId: () => Int): Seq[Span] = {
    drain()
    synchronized {
      jobs.iterator.filter { case (_, j) => j.startMs >= fromMs && j.startMs < toMs }.map { case (id, j) =>
        Span(nextId(), parent, "job", s"job-$id", j.startMs.toDouble,
          (if (j.endMs < 0) toMs else j.endMs.toDouble),
          Map("busy_s" -> j.busyMs / 1e3, "shuffle_mb" -> j.shuffleBytes / MiB))
      }.toList
    }
  }

  /** Totals of the jobs and actions that started inside [fromMs, toMs). */
  def work(fromMs: Double, toMs: Double): Work = {
    drain()
    synchronized {
      val js = jobs.values.filter(j => j.startMs >= fromMs && j.startMs < toMs).toSeq
      val as = actions.filter(a => a.atMs >= fromMs && a.atMs < toMs)
      // union of job intervals clipped to the window: the rest is driver time
      var covered, reach = 0.0
      for (j <- js.sortBy(_.startMs)) {
        val s = math.max(j.startMs.toDouble, reach)
        val e = math.min(if (j.endMs < 0) toMs else j.endMs.toDouble, toMs)
        if (e > s) { covered += e - s; reach = e }
      }
      Work(js.size, js.map(_.busyMs).sum / 1e3, js.map(_.gcMs).sum / 1e3,
        js.map(_.shuffleBytes).sum / MiB, js.map(_.spillBytes).sum / MiB,
        js.map(_.resultBytes).sum / MiB, js.map(_.failedTasks).sum, covered / 1e3,
        as.map(_.exchanges).sum, as.map(_.planChars).sum / 1024.0, as.map(_.joinRows).sum)
    }
  }

  private val MiB = 1024.0 * 1024.0
}
