package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Counters of the scheduler and executor layers for one op invocation,
  * attributed through the local property [[Trace.OpKey]] that the runner
  * sets around each call (jobs launched while a plan is built inherit it). */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var stagesSkipped = 0L
  var tasks = 0L
  var taskFailures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** (start, end) wall-clock millis of every job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (launch, finish) wall-clock millis of every task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Job milliseconds by the engine source file that launched the job. */
  val siteMs = mutable.HashMap.empty[String, Long]
}

/** A timed interval of one op: `name` is the layer step (op, build, plan,
  * execute, checksum, or a store/model/streaming call), `parent` the
  * enclosing span's name. Spans of one op share its key. */
final case class Span(key: String, name: String, parent: String,
                      startNs: Long, endNs: Long)

/** The traced run's recorder: a SparkListener for job/stage/task counts
  * and metrics, plus the in-memory span list written when the run ends.
  * Nothing here is installed in an untraced run. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val byKey = mutable.HashMap.empty[String, OpCounters]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val jobInfo = mutable.HashMap.empty[Int, (String, Long, Seq[Int], String)]
  private val completedStages = mutable.HashSet.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]

  private def counters(key: String): OpCounters =
    byKey.getOrElseUpdate(key, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey)))
    key.foreach { k =>
      counters(k).jobs += 1
      e.stageIds.foreach(stageKey(_) = k)
      // the innermost engine frame of the job's call stack, by file:
      // "graft.model.TrainEval$.trainRF(TrainEval.scala:58)" -> "TrainEval.scala"
      val site = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
        .split("\n").find(_.contains("graft.")).getOrElse("")
        .dropWhile(_ != '(').drop(1).takeWhile(_ != ':')
      jobInfo(e.jobId) = (k, e.time, e.stageIds, site)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (k, t0, stageIds, site) =>
      val c = counters(k)
      c.jobIntervals += ((t0, e.time))
      c.siteMs(site) = c.siteMs.getOrElse(site, 0L) + (e.time - t0)
      c.stagesSkipped += stageIds.count(s => !completedStages.contains(s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    completedStages += id
    stageKey.get(id).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKey.get(e.stageId).foreach { k =>
      val c = counters(k)
      c.tasks += 1
      if (e.reason != Success) c.taskFailures += 1
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Counters of `key` once every event posted so far has been delivered. */
  def countersOf(key: String): OpCounters = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized(byKey.remove(key).getOrElse(new OpCounters))
  }

  def span(key: String, name: String, parent: String, t0: Long, t1: Long): Unit =
    synchronized { spans += Span(key, name, parent, t0, t1) }
}

object Trace {
  val OpKey = "perfbench.op"

  /** Milliseconds covered by the union of `intervals` that start at or
    * after `fromMs`. */
  def activeMs(intervals: Seq[(Long, Long)], fromMs: Long): Long = {
    var covered = 0L
    var end = Long.MinValue
    intervals.filter(_._1 >= fromMs).sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}
