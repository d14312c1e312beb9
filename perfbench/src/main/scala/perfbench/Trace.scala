package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the Spark jobs that ran under one job group. */
final class GroupTally {
  val jobs, stages, tasks, taskMs, gcMs, shuffleWrite, shuffleWriteNs, shuffleRead, spill = new AtomicLong
}

/** The planning phases of one executed query, as its QueryPlanningTracker
  * recorded them: the wall-clock start of analysis (used to attribute the
  * query to a key's execute phase) and each phase's duration. */
final case class PlanPhases(startMs: Long, analysisMs: Long, optimizeMs: Long, planningMs: Long)

/** The traced run's one listener. Jobs, stages and tasks are attributed to
  * the job group that was set on the issuing thread (one group per key,
  * pass and phase); every executed query's planning phases are kept so
  * the harness can pick the forced frame's by time. Events arrive on the
  * listener bus asynchronously, so readers call [[drain]] first. */
final class Trace extends SparkListener with QueryExecutionListener {
  val groups = TrieMap.empty[String, GroupTally]
  private val stageGroup = TrieMap.empty[Int, String]
  val plans = new ConcurrentLinkedQueue[PlanPhases]
  private val events = new AtomicLong

  def tally(group: String): GroupTally = groups.getOrElseUpdate(group, new GroupTally)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      tally(group).jobs.incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, group))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    stageGroup.get(e.stageInfo.stageId).foreach(g => tally(g).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      val t = tally(g)
      t.tasks.incrementAndGet()
      if (m != null) {
        t.taskMs.addAndGet(m.executorRunTime)
        t.gcMs.addAndGet(m.jvmGCTime)
        t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        t.shuffleWriteNs.addAndGet(m.shuffleWriteMetrics.writeTime)
        t.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    ph.get("analysis").foreach { a =>
      plans.add(PlanPhases(a.startTimeMs, ms("analysis"), ms("optimization"), ms("planning")))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Plans of the queries whose analysis started inside [fromMs, toMs]. */
  def plansBetween(fromMs: Long, toMs: Long): Seq[PlanPhases] =
    plans.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq

  /** Wait until no event has arrived for `quietMs` (at most `maxMs`). */
  def drain(quietMs: Long = 200, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    var last = events.get
    var since = System.nanoTime()
    while (System.nanoTime() < deadline && System.nanoTime() - since < quietMs * 1000000L) {
      Thread.sleep(25)
      val cur = events.get
      if (cur != last) { last = cur; since = System.nanoTime() }
    }
  }
}
