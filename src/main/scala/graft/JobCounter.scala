package graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}

/** Jobs submitted, stages completed and executor task time on one
  * SparkContext. At bench scale most queries are bound by fixed per-job
  * overhead rather than bytes, so the job count of a query is a metric in
  * its own right. `onStage` sees every completed stage, for callers that
  * list them.
  */
final class JobCounter private (sc: SparkContext, onStage: StageInfo => Unit)
    extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val taskMs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    taskMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
    onStage(e.stageInfo)
  }

  /** The counters once the listener bus has dispatched every queued event
    * (bounded wait), with the JVM's total GC time. The bus is asynchronous,
    * so read this outside any timed window: time first, then snapshot.
    */
  def snapshot(): JobCounter.Counts = {
    GraftListenerBridge.drain(sc, 2000)
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
    JobCounter.Counts(jobs.get, stages.get, taskMs.get, gcMs)
  }
}

object JobCounter {

  /** Counter values; differences of two snapshots attribute a span of work. */
  final case class Counts(jobs: Long, stages: Long, taskMs: Long, gcMs: Long) {
    def -(o: Counts): Counts =
      Counts(jobs - o.jobs, stages - o.stages, taskMs - o.taskMs, gcMs - o.gcMs)
    def +(o: Counts): Counts =
      Counts(jobs + o.jobs, stages + o.stages, taskMs + o.taskMs, gcMs + o.gcMs)
  }

  /** A counter registered on `sc`. */
  def on(sc: SparkContext, onStage: StageInfo => Unit = _ => ()): JobCounter = {
    val c = new JobCounter(sc, onStage)
    sc.addSparkListener(c)
    c
  }
}
