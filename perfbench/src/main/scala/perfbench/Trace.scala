package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** One timed interval: a layer call made by the harness on behalf of op `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder; spans are written out once the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Run `body` as span `name` under `parent` (-1 for a root) of op `op`. */
  def span[T](name: String, op: Int, parent: Int)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    val t0 = System.nanoTime()
    try body(id)
    finally spans += Span(id, parent, op, name, t0, System.nanoTime())
  }
}

/** Spark task counters summed per job tag. */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spillBytes = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "input_bytes" -> inputBytes,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spillBytes)
}

/** Attributes every job, stage and task metric to the harness job tag
  * (prefix `pb-`) that was set when the job was submitted.
  */
final class TagListener extends SparkListener {
  private val byTag = mutable.Map.empty[String, Counts]
  private val stageTag = mutable.Map.empty[Int, String]

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith("pb-")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    tagOf(e.properties).foreach { t =>
      byTag.getOrElseUpdate(t, new Counts).jobs += 1
      e.stageInfos.foreach(s => stageTag(s.stageId) = t)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.remove(e.stageInfo.stageId).foreach { t =>
      val c = byTag.getOrElseUpdate(t, new Counts)
      val m = e.stageInfo.taskMetrics
      c.stages += 1
      c.tasks += e.stageInfo.numTasks
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counters of `tag`, removed from the listener; call after draining the bus. */
  def take(tag: String): Map[String, Long] = synchronized {
    byTag.remove(tag).getOrElse(new Counts).toMap
  }
}

/** Runs a layer call under a job tag, so the listener can attribute its jobs. */
final class Tagger(sc: SparkContext) {
  def apply[T](tag: String)(body: => T): T = {
    sc.addJobTag(tag)
    try body
    finally sc.removeJobTag(tag)
  }
}
